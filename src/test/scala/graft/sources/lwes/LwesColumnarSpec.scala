package graft.sources.lwes

import java.nio.file.Files

import graft.lwes.{JournalWriter, LwesEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vectorized scan output (A-surface scale polish): batches of events
  * land in ColumnarBatch vectors and Spark converts via codegen'd
  * ColumnarToRow; results must be bit-identical to the [[ColumnShape]]
  * reference decode across every type the wire format can carry. Test
  * names that say "row path" or "both paths" predate the single decoder:
  * the row path they name is now that reference.
  */
class LwesColumnarSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeJournal(dir: String, files: Int, perFile: Int): Unit =
    (0 until files).foreach { f =>
      val w = JournalWriter.create(s"$dir/j$f.journal.gz")
      (0 until perFile).foreach { i =>
        val id = f * perFile + i
        val ev = LwesEvent(if (id % 4 == 0) "Col::A" else "Col::B")
          .setInt64("id", id.toLong)
          .setInt32("i32", id * 3)
          .setInt16("i16", (id % 100).toShort)
          .setUInt16("u16", id % 500)
          .setUInt32("u32", id.toLong * 7)
          .setUInt64("u64", -1L - id) // wraps: unsigned 2^64-1-id
          .setBool("flag", id % 3 == 0)
          .setString("cost", (id * 0.25).toString) // float-from-string
          .setIpAddr("ip", Array(10, 0, (id % 200).toByte, 1))
          .setInt64(LwesEvent.ReceiptTime, 1700000000000L + id)
        if (id % 5 != 0) ev.setString("opt", s"v$id") // sometimes-missing attr
        w.write(ev)
      }
      w.close()
    }

  private val schemaDdl =
    "id long, i32 int, i16 short, u16 int, u32 long, u64 decimal(20,0), " +
      "flag boolean, cost double, ip string, opt string, ReceiptTime long"

  /** Reference rows of a plain read, in `orderBy("id")` order (column
    * 0, nulls first). */
  private def reference(df: org.apache.spark.sql.DataFrame) = ColumnShape
    .referenceRows(df).sortBy(r => if (r.isNullAt(0)) Long.MinValue else r.getLong(0))
    .toArray

  test("columnar scan is active and matches the row path on every type") {
    val dir = Files.createTempDirectory("lwes-col").toString
    writeJournal(dir, 3, 400)
    val df = spark.read.format("lwes")
      .schema(schemaDdl).option("uint64As", "decimal").load(dir)
    // the plan really takes the columnar path
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected ColumnarToRow in the plan:\n$plan")
    // bit-identical outputs, nulls included
    val a = df.orderBy("id").collect()
    val b = reference(df)
    assert(a.length == 1200 && a.sameElements(b))
    // spot-check semantics survived the vector writes
    val r = a(10) // id 10: % 5 == 0 -> opt null; % 4 != 0 -> Col::B
    assert(r.getLong(0) == 10L && r.getInt(1) == 30 && r.getShort(2) == 10)
    assert(r.getDouble(7) == 2.5) // float-from-string
    assert(r.getString(8) == "10.0.10.1")
    assert(r.isNullAt(9))
    assert(r.getDecimal(5).toString == (BigInt(2).pow(64) - 11).toString)
  }

  test("columnar path honors eventName filter, mapping, and LIMIT") {
    val dir = Files.createTempDirectory("lwes-col2").toString
    writeJournal(dir, 2, 200)
    val df = spark.read.format("lwes")
      .schema("key long, c double")
      .option("eventName", "Col::A")
      .option("mapping", "key:id, c:cost").load(dir)
    assert(df.count() == 100) // every 4th of 400
    assert(df.agg(sum("key")).head.getLong(0) == (0 until 400 by 4).map(_.toLong).sum)
    val lim = df.limit(7).collect()
    assert(lim.length == 7)
    // multi-event mapping nulls columns of foreign types
    val multi = spark.read.format("lwes")
      .schema("a_id long, b_id long")
      .option("mapping", "a_id:Col::A::id, b_id:Col::B::id").load(dir)
    val counts = multi.agg(count(col("a_id")), count(col("b_id"))).head
    assert(counts.getLong(0) == 100 && counts.getLong(1) == 300)
  }

  test("malformed-UTF-8 wire strings round-trip identically in both paths") {
    import graft.lwes.LwesCodec
    val bad = Array(0xC3, 0x28, 0xFF, 0x80, 0xE2, 0x82).map(_.toByte)
    val dir = Files.createTempDirectory("lwes-col-utf8").toString
    val w = JournalWriter.create(s"$dir/j.journal")
    (0 until 50).foreach { i =>
      val payload = LwesCodec.serialize(LwesEvent("Col::U")
        .setInt64("id", i.toLong).setString("s", "ZZZZZZ")
        .setString("ok", "héllo→世界"))
      if (i % 2 == 0) {
        // patch the marker value to invalid UTF-8 on the wire: bad
        // continuation (C3 28), stray FF, lone continuation (80), and a
        // truncated 3-byte sequence (E2 82) — equal length keeps framing
        val at = payload.indexOfSlice("ZZZZZZ".getBytes("UTF-8"))
        assert(at > 0)
        System.arraycopy(bad, 0, payload, at, bad.length)
      }
      w.writeRecord(payload, 0, payload.length, 1700000000000L + i,
        Array[Byte](0, 0, 0, 0), 0, 0)
    }
    w.close()
    val df = spark.read.format("lwes")
      .schema("id long, s string, ok string").load(dir)
    val a = df.orderBy("id").collect()
    assert(a.length == 50 && a.sameElements(reference(df)))
    assert(a(1).getString(1) == "ZZZZZZ")
    // malformed bytes surface as the JVM's replacement-char decode
    assert(a(0).getString(1) ==
      new String(bad, java.nio.charset.StandardCharsets.UTF_8))
    assert(a(0).getString(2) == "héllo→世界")
    // non-ASCII equality can't early-check (StrEqEarly defers) but the
    // post check over the finished vectors must still be exact
    assert(df.filter(col("ok") === "héllo→世界").count() == 50)
    assert(df.filter(col("ok") === "héllo").count() == 0)
  }

  test("invalid-UTF-8 EVENT NAMES filter identically in both paths") {
    import graft.lwes.LwesCodec
    val dir = Files.createTempDirectory("lwes-col-name").toString
    val w = JournalWriter.create(s"$dir/j.journal")
    (0 until 30).foreach { i =>
      val payload = LwesCodec.serialize(
        LwesEvent(if (i % 2 == 0) "Col::AB" else "Col::OK")
          .setInt64("id", i.toLong))
      if (i % 2 == 0) {
        // patch the name's trailing "AB" (payload offset 1 + 5) to a
        // stray 0xFF + lone continuation 0x80 — invalid UTF-8 that the
        // reference DECODES (two replacement chars) before comparing
        payload(6) = 0xFF.toByte
        payload(7) = 0x80.toByte
      }
      w.writeRecord(payload, 0, payload.length, 1700000000000L + i,
        Array[Byte](0, 0, 0, 0), 0, 0)
    }
    w.close()
    val decodedBad = "Col::��"
    def read(name: String) = spark.read.format("lwes")
      .schema("id long").option("eventName", name).load(dir)
    // a name that only matches after UTF-8 decode: the columnar byte
    // compare misses, the non-ASCII fallback must recover the reference
    val a = read(decodedBad).orderBy("id").collect().map(_.getLong(0))
    val b = reference(read(decodedBad)).map(_.getLong(0))
    assert(a.toSeq == (0 until 30 by 2).map(_.toLong))
    assert(a.sameElements(b))
    // pure-ASCII names stay on the fast byte path
    assert(read("Col::OK").count() == reference(read("Col::OK")).length)
    assert(read("Col::OK").count() == 15)
  }

  test("corruption resync and torn tails behave identically in both paths") {
    val dir = Files.createTempDirectory("lwes-col-torn").toString
    val path = s"$dir/j.journal"
    val w = JournalWriter.create(path)
    (0 until 300).foreach { i =>
      w.write(LwesEvent("Col::T").setInt64("id", i.toLong)
        .setString("s", s"v$i"))
      if (i % 50 == 25) { // undecodable-but-framed garbage mid-file
        val junk = Array.fill[Byte](40)(0x55)
        junk(0) = 0xF0.toByte // invalid name length -> forces resync
        w.writeRecord(junk, 0, junk.length, 0L, Array[Byte](0, 0, 0, 0), 0, 0)
      }
    }
    w.close()
    val raf = new java.io.RandomAccessFile(path, "rw")
    raf.setLength(raf.length() - 7) // tear mid-payload of the last record
    raf.close()
    val df = spark.read.format("lwes")
      .schema("id long, s string").option("eventName", "Col::T").load(dir)
    val a = df.orderBy("id").collect()
    assert(a.sameElements(reference(df)))
    // only the torn final record is lost; garbage cost no good rows
    assert(a.length == 299 && a.map(_.getLong(0)).toSeq == (0L until 299L))
  }

  test("SEQ containers use the byte path and match the row path on every type") {
    import org.apache.hadoop.io.{BytesWritable, LongWritable, SequenceFile}
    import graft.lwes.LwesCodec
    val dir = Files.createTempDirectory("lwes-col-seq").toString
    val conf = spark.sessionState.newHadoopConf()
    def open(path: String, ct: SequenceFile.CompressionType) =
      SequenceFile.createWriter(conf,
        SequenceFile.Writer.file(new org.apache.hadoop.fs.Path(path)),
        SequenceFile.Writer.keyClass(classOf[LongWritable]),
        SequenceFile.Writer.valueClass(classOf[BytesWritable]),
        SequenceFile.Writer.compression(ct))
    val writers = Array(
      open(s"$dir/j0.seq", SequenceFile.CompressionType.NONE),
      open(s"$dir/j1.seq", SequenceFile.CompressionType.RECORD),
      open(s"$dir/j2.seq", SequenceFile.CompressionType.BLOCK))
    (0 until 300).foreach { id =>
      val ev = LwesEvent(if (id % 4 == 0) "Col::A" else "Col::B")
        .setInt64("id", id.toLong)
        .setInt32("i32", id * 3)
        .setInt16("i16", (id % 100).toShort)
        .setUInt16("u16", id % 500)
        .setUInt32("u32", id.toLong * 7)
        .setUInt64("u64", -1L - id)
        .setBool("flag", id % 3 == 0)
        .setString("cost", (id * 0.25).toString)
        .setIpAddr("ip", Array(10, 0, (id % 200).toByte, 1))
        .setInt64(LwesEvent.ReceiptTime, 1700000000000L + id)
      if (id % 5 != 0) ev.setString("opt", s"v$id")
      // BytesWritable writes the 4-byte length prefix itself: the
      // value is the bare serialized event (EventWritable's layout)
      writers(id % 3).append(new LongWritable(id.toLong),
        new BytesWritable(LwesCodec.serialize(ev)))
    }
    writers.foreach(_.close())
    val df = spark.read.format("lwes").schema(schemaDdl)
      .option("uint64As", "decimal").load(dir)
    val a = df.orderBy("id").collect()
    val b = reference(df)
    assert(a.length == 300 && a.sameElements(b))
    // real values, not all-NULL rows: id 7 -> Col::B, opt present
    val r = a(7)
    assert(r.getLong(0) == 7L && r.getInt(1) == 21 && r.getShort(2) == 7 &&
      r.getInt(3) == 7 && r.getLong(4) == 49L && !r.getBoolean(6))
    assert(r.getDecimal(5).toString == (BigInt(2).pow(64) - 8).toString)
    assert(r.getDouble(7) == 1.75 && r.getString(8) == "10.0.7.1" &&
      r.getString(9) == "v7")
    // SEQ has no journal frame header: records keep the ReceiptTime
    // their payload carries, in both decodes
    assert(a(5).getLong(10) == 1700000000005L && b(5).getLong(10) == 1700000000005L)
    // sometimes-missing attr is null in both
    assert(a(0).isNullAt(9) && b(0).isNullAt(9))
    // eventName filter applies on the wire bytes
    assert(df.where("id % 4 = 0").count() ==
      spark.read.format("lwes").schema(schemaDdl).option("uint64As", "decimal")
        .option("eventName", "Col::A").load(dir)
        .count())
  }

  test("decimal-element arrays are vectorized and match the row path (r16)") {
    val dir = Files.createTempDirectory("lwes-col-decarr").toString
    val w = JournalWriter.create(s"$dir/j.journal.gz")
    (0 until 5000).foreach { i => // crosses the 4096-row batch boundary
      val ev = LwesEvent("Dec::Arr")
        .setInt64("id", i.toLong)
        .setUInt64("u64", -1L - i)
        .setUInt64Array("us", Array(i.toLong, -1L - i, Long.MinValue + i))
        .setInt32Array("is", Array(i, i + 1))
      if (i % 7 != 0) ev.setUInt64Array("opt_us", Array(-2L - i))
      w.write(ev)
    }
    w.close()
    val ddl = "id long, u64 decimal(20,0), us array<decimal(20,0)>, " +
      "is array<int>, opt_us array<decimal(20,0)>"
    val df = spark.read.format("lwes").schema(ddl)
      .option("uint64As", "decimal").load(dir)
    // the uint64As=decimal + uint64[] schema rides the columnar path
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"decimal-element arrays must ride the vectorized scan:\n$plan")
    val a = df.orderBy("id").collect()
    assert(a.length == 5000 && a.sameElements(reference(df)))
    // unsigned-exact element values, 2^63..2^64-1 range included
    val r = a(3)
    assert(r.getSeq[java.math.BigDecimal](2).map(_.toString) == Seq(
      "3", (BigInt(2).pow(64) - 4).toString,
      (BigInt(2).pow(63) + 3).toString))
    assert(a(0).isNullAt(4) && a(1).getSeq[java.math.BigDecimal](4).head
      .toString == (BigInt(2).pow(64) - 3).toString)
  }

  test("columnar batches cross the 4096-row boundary intact") {
    val dir = Files.createTempDirectory("lwes-col3").toString
    writeJournal(dir, 1, 9000) // one file -> one reader, 3 batches
    val df = spark.read.format("lwes").schema("id long").load(dir)
    assert(df.count() == 9000)
    assert(df.agg(sum("id")).head.getLong(0) == (0L until 9000L).sum)
  }
}

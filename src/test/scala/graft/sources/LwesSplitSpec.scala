package graft.sources

import java.nio.file.Files

import graft.lwes.{JournalReader, SplitJournal, SplitJournalWriter}
import graft.sources.lwes.{LwesInputPartition, LwesMicroBatchStream, LwesOptions, LwesReadConfig, LwesScan}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Splittable `.zsj` journal container ([[graft.lwes.SplitJournal]]):
  * zstd frames at record boundaries + a footer frame index, so ONE
  * large journal plans N independent scan tasks — removing the
  * reference's unsplittable-journal ceiling (JournalInputFormat.java:
  * 58-60, parallelism = file count). These tests pin the format
  * contract (footer round-trip, frame chain tiling, sequential-reader
  * compatibility), the planner contract (task count > 1 for one file,
  * split read ≡ unsplit read), exact frame-level time pruning, and the
  * degraded paths (torn footer → unsplit fallback; classic containers
  * unaffected).
  */
class LwesSplitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-split").toString

  private val T0 = 1700000000000L

  /** One `.zsj` file of `n` events (id, ReceiptTime = T0 + id*1000)
    * written through the DSv2 batch writer with small frames. */
  private def writeSplit(dir: String, n: Int, frameBytes: Int = 2048): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, T0 + i * 1000L, s"payload-$i"))
      .toDF("id", "ReceiptTime", "tag").coalesce(1)
      .write.format("lwes").option("eventName", "Sp::E")
      .option(LwesOptions.Compression, "split-zstd")
      .option(LwesOptions.SplitFrameBytes, frameBytes.toString)
      .mode("append").save(dir)
  }

  private def onlyFile(dir: String): java.io.File = {
    val fs = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(fs.length == 1, s"expected one file, got ${fs.map(_.getName).toSeq}")
    fs.head
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): LwesScan =
    df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head.scan.asInstanceOf[LwesScan]

  private def readSplitDf(dir: String, target: Option[Long]) = {
    val r = spark.read.format("lwes")
      .schema("id long, ReceiptTime long, tag string")
      .option("eventName", "Sp::E")
    target.fold(r)(t => r.option(LwesOptions.SplitTargetBytes, t.toString))
      .load(dir)
  }

  test("footer index round-trips and the frame chain tiles the file") {
    val dir = tmp()
    writeSplit(dir, 500)
    val f = onlyFile(dir)
    assert(f.getName.endsWith(".zsj"))
    val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    val hfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = hfs.open(p)
    val frames =
      try SplitJournal.readFooter(in, f.length()).get
      finally in.close()
    assert(frames.length > 5, s"want many small frames, got ${frames.length}")
    assert(frames.map(_.records.toLong).sum == 500L)
    // chain tiles [0, dataEnd) — readFooter validates contiguity itself,
    // but pin the first/last shape here too
    assert(frames.head.offset == 0L)
    // exact per-frame receipt bounds, monotone across frames (records
    // were written in ReceiptTime order)
    frames.foreach(fr => assert(fr.minReceipt <= fr.maxReceipt))
    assert(frames.sliding(2).forall {
      case Seq(a, b) => a.maxReceipt <= b.minReceipt
      case _ => true
    })
  }

  test("a .zsj file is a valid sequential zstd journal (footer skipped)") {
    val dir = tmp()
    writeSplit(dir, 300)
    val r = JournalReader.open(onlyFile(dir).getAbsolutePath)
    val ids =
      try r.iterator.map(_.get("id").get.value.asInstanceOf[Long]).toVector
      finally r.close()
    assert(ids == (0L until 300L).toVector)
  }

  test("one split journal plans many tasks and matches the unsplit read") {
    val dir = tmp()
    writeSplit(dir, 2000)
    val split = readSplitDf(dir, Some(4096L))
    val nTasks = split.rdd.getNumPartitions
    assert(nTasks > 1, s"split read planned $nTasks task(s)")
    val unsplit = readSplitDf(dir, None) // small file, default target: 1 task
    val a = split.orderBy("id").collect().toSeq
    val b = unsplit.orderBy("id").collect().toSeq
    assert(a == b)
    assert(a.length == 2000)
  }

  test("a STREAMING micro-batch splits one fat .zsj into many partitions (r15)") {
    val dir = tmp()
    writeSplit(dir, 2000)
    // plan-level: the micro-batch stream expands the fat journal into
    // footer-indexed byte-range partitions
    val ckpt = Files.createTempDirectory("split-stream-ckpt").toString
    val stream = new LwesMicroBatchStream(
      LwesReadConfig(
        org.apache.spark.sql.types.StructType.fromDDL(
          "id long, ReceiptTime long, tag string"),
        Map.empty, Map.empty, Set("Sp::E"), Nil, -1, None),
      Seq(dir), checkpointLocation = ckpt,
      splitTargetBytes = Some(4096L))
    val end = stream.latestOffset()
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
    assert(parts.length > 1,
      s"streaming planned ${parts.length} partition(s) for one fat .zsj")
    assert(parts.forall(_.asInstanceOf[LwesInputPartition].range.isDefined))
    // end-to-end: an AvailableNow drain over the same journal returns
    // every row exactly once through the split partitions
    val ckpt2 = Files.createTempDirectory("split-stream-ckpt2").toString
    val out = Files.createTempDirectory("split-stream-out").toString
    val q = spark.readStream.format("lwes")
      .schema("id long, ReceiptTime long, tag string")
      .option("eventName", "Sp::E")
      .option(LwesOptions.SplitTargetBytes, "4096")
      .load(dir)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (0L until 2000L), s"got ${ids.length} rows")
  }

  test("frame-run locality ranks hosts by overlapping block bytes (r17)") {
    import org.apache.hadoop.fs.BlockLocation
    // 3 × 128 MiB blocks on rotating host pairs
    val M = 1L << 20
    val blocks = Array(
      new BlockLocation(Array("h1:50010", "h2:50010"), Array("h1", "h2"), 0, 128 * M),
      new BlockLocation(Array("h2:50010", "h3:50010"), Array("h2", "h3"), 128 * M, 128 * M),
      new BlockLocation(Array("h3:50010", "h1:50010"), Array("h3", "h1"), 256 * M, 128 * M))
    // a run inside block 0 prefers its hosts only
    assert(graft.sources.lwes.LwesDataSource
      .hostsForBlocks(blocks.iterator, 4 * M, 8 * M).toSet == Set("h1", "h2"))
    // a run straddling blocks 1|2 ranks the host on BOTH (h3) first
    val straddle = graft.sources.lwes.LwesDataSource
      .hostsForBlocks(blocks.iterator, 200 * M, 300 * M)
    assert(straddle.head == "h3", s"got $straddle")
    // outside the file: nothing
    assert(graft.sources.lwes.LwesDataSource
      .hostsForBlocks(blocks.iterator, 400 * M, 500 * M).isEmpty)
    // local filesystems: streaming partitions legitimately carry no
    // hosts (the r15/r16 streaming-split tests above run the whole
    // expansion with locations=Nil — this pins that the r17 locality
    // path stays dormant there instead of erroring)
  }

  test("a streaming backfill window prunes whole .zsj frames at plan time (r16)") {
    val dir = tmp()
    writeSplit(dir, 2000)
    val lo = T0 + 500 * 1000L
    val hi = T0 + 700 * 1000L
    // plan-level: the admission window drops frames whose EXACT footer
    // bounds cannot overlap it, so the batch reads a byte subset
    val ckpt = Files.createTempDirectory("split-stream-prune-ckpt").toString
    val stream = new LwesMicroBatchStream(
      LwesReadConfig(
        org.apache.spark.sql.types.StructType.fromDDL(
          "id long, ReceiptTime long, tag string"),
        Map.empty, Map.empty, Set("Sp::E"), Nil, -1, None),
      Seq(dir), checkpointLocation = ckpt,
      timeLo = lo, timeHi = hi,
      splitTargetBytes = Some(4096L))
    val end = stream.latestOffset()
    val parts = stream.planInputPartitions(stream.initialOffset(), end)
      .map(_.asInstanceOf[LwesInputPartition])
    val windowBytes = parts.map(_.length).sum
    val fullBytes = onlyFile(dir).length
    assert(parts.nonEmpty && windowBytes < fullBytes / 2,
      s"windowed stream plan reads $windowBytes of $fullBytes bytes")
    assert(stream.metrics(java.util.Optional.empty())
      .get("splitFramesPruned").toLong > 0)
    // end-to-end: the windowed drain returns every in-window row
    // exactly once — frame pruning loses NOTHING inside the window
    val ckpt2 = Files.createTempDirectory("split-stream-prune-ckpt2").toString
    val out = Files.createTempDirectory("split-stream-prune-out").toString
    val q = spark.readStream.format("lwes")
      .schema("id long, ReceiptTime long, tag string")
      .option("eventName", "Sp::E")
      .option(LwesOptions.ReceiptTimeMin, lo.toString)
      .option(LwesOptions.ReceiptTimeMax, hi.toString)
      .option(LwesOptions.SplitTargetBytes, "4096")
      .load(dir)
      .filter(col("ReceiptTime") >= lo && col("ReceiptTime") <= hi)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val ids = spark.read.parquet(out).select("id").collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == (500L to 700L), s"got ${ids.length} rows")
  }

  test("a checkpoint replay prunes frames by the LOGGED window, not the restart's (r16)") {
    val dir = tmp()
    writeSplit(dir, 2000)
    def mkStream(ckpt: String, lo: Long, hi: Long) = new LwesMicroBatchStream(
      LwesReadConfig(
        org.apache.spark.sql.types.StructType.fromDDL(
          "id long, ReceiptTime long, tag string"),
        Map.empty, Map.empty, Set("Sp::E"), Nil, -1, None),
      Seq(dir), checkpointLocation = ckpt,
      timeLo = lo, timeHi = hi, splitTargetBytes = Some(4096L))
    def spans(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.map(_.asInstanceOf[LwesInputPartition].range.get).sortBy(_._1).toSeq
    val ckpt = Files.createTempDirectory("split-replay-ckpt").toString
    // original run: wide window [500s, 1500s] plans + logs batch 0
    val s1 = mkStream(ckpt, T0 + 500 * 1000L, T0 + 1500 * 1000L)
    val end = s1.latestOffset()
    val original = spans(s1.planInputPartitions(s1.initialOffset(), end))
    assert(original.nonEmpty)
    // restart with a NARROWER window: the replay of batch 0 must
    // re-derive the ORIGINAL byte spans from the logged window —
    // otherwise rows the first run admitted are silently lost
    val s2 = mkStream(ckpt, T0 + 900 * 1000L, T0 + 1000 * 1000L)
    val replayed = spans(s2.planInputPartitions(s2.initialOffset(), end))
    assert(replayed == original,
      s"replay re-pruned with the restart's window: $replayed vs $original")
  }

  test("pushed ReceiptTime range prunes whole frames exactly") {
    val dir = tmp()
    writeSplit(dir, 2000)
    val lo = T0 + 500 * 1000L
    val hi = T0 + 700 * 1000L
    val df = readSplitDf(dir, Some(4096L))
      .filter(col("ReceiptTime") >= lo && col("ReceiptTime") <= hi)
    val rows = df.collect()
    assert(rows.length == 201) // ids 500..700 inclusive
    val scan = scanOf(df)
    assert(scan.prunedFrameCount > 0,
      "expected frame-level pruning from the exact footer bounds")
    // soundness: no kept-row loss vs the unfiltered read
    val all = readSplitDf(dir, Some(4096L)).collect()
      .filter { r =>
        val t = r.getLong(1); t >= lo && t <= hi
      }
    assert(all.length == rows.length)
  }

  test("a torn footer degrades to the unsplit sequential read") {
    val dir = tmp()
    writeSplit(dir, 400)
    val f = onlyFile(dir)
    // chop the last 6 bytes: trailing (len, magic) is gone, so the
    // planner must fall back; the data frames are intact, so the
    // sequential read still sees every record (the torn skippable
    // frame ends the file via the corruption path, costing 0 records)
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(f.length() - 6)
    finally raf.close()
    // drop Hadoop's local-FS checksum sidecar: the truncation is the
    // simulated corruption under test, not a CRC mismatch
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val df = readSplitDf(dir, Some(4096L))
    assert(df.rdd.getNumPartitions == 1, "torn footer must not split")
    assert(df.count() == 400L)
  }

  test("classic containers ignore the split target") {
    val dir = tmp()
    import spark.implicits._
    (0 until 500).map(i => (i.toLong, T0 + i * 1000L, s"payload-$i"))
      .toDF("id", "ReceiptTime", "tag").coalesce(1)
      .write.format("lwes").option("eventName", "Sp::E")
      .option(LwesOptions.Compression, "zstd")
      .mode("append").save(dir)
    val df = readSplitDf(dir, Some(1024L))
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 500L)
  }

  test("compaction into a split journal fixes small-files AND splittability") {
    // 8 tiny gzip journals -> ONE .zsj via Compact with
    // compression=split-zstd: the result is a single file that still
    // scans as many tasks — the two classic journal scale problems
    // (file-count explosion, unsplittable files) solved in one pass
    val dir = tmp()
    import spark.implicits._
    (0 until 8).foreach { p =>
      (0 until 250).map(i => ((p * 250 + i).toLong, T0 + i * 1000L, s"pl-$i"))
        .toDF("id", "ReceiptTime", "tag").coalesce(1)
        .write.format("lwes").option("eventName", "Sp::E")
        .mode("append").save(dir)
    }
    val nBefore = new java.io.File(dir).listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(nBefore == 8)
    val (b, a) = graft.sources.lwes.Compact.compact(spark, dir, 1,
      compression = "split-zstd", frameBytes = Some(2048))
    assert(b == 8 && a == 1, s"compacted $b -> $a")
    assert(onlyFile(dir).getName.endsWith(".zsj"))
    val df = spark.read.format("lwes")
      .schema("id long, ReceiptTime long, tag string")
      .option("eventName", "Sp::E")
      .option(LwesOptions.SplitTargetBytes, "2048").load(dir)
    assert(df.rdd.getNumPartitions > 1,
      "one compacted .zsj must still scan as many tasks")
    assert(df.select("id").distinct().count() == 2000L)
  }

  test("the streaming sink lands split journals under epoch commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dst = tmp()
    val ckpt = tmp()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("id", "tag")
      .writeStream.format("lwes").option("eventName", "Sk::E")
      .option(LwesOptions.Compression, "split-zstd")
      .option(LwesOptions.SplitFrameBytes, "4096")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(dst)
    try {
      mem.addData((0L until 300L).map(i => (i, s"t-$i")): _*)
      q.processAllAvailable()
      mem.addData((300L until 500L).map(i => (i, s"t-$i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val visible = new java.io.File(dst).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(visible.nonEmpty && visible.forall(_.getName.endsWith(".zsj")),
      s"epoch files must be .zsj: ${visible.map(_.getName).toSeq}")
    val rows = spark.read.format("lwes")
      .schema("id long, tag string").option("eventName", "Sk::E").load(dst)
      .collect()
    assert(rows.length == 500)
    assert(rows.map(_.getLong(0)).toSet == (0L until 500L).toSet)
  }

  test("flushOpenFrame makes pre-crash records salvageable (r13 ADVICE)") {
    // Capture daemons buffer the open frame in memory; flushOpenFrame
    // pushes it to disk as a closed zstd frame. Simulate a crash by
    // never calling close() (no footer): the flushed records must still
    // read back through the unsplit sequential fallback.
    val dir = tmp()
    val f = new java.io.File(dir, "j.journal.zsj")
    val fos = new java.io.FileOutputStream(f)
    // frame threshold far above what we write: nothing auto-flushes
    val w = new SplitJournalWriter(fos, frameRawBytes = 8 << 20)
    (0 until 25).foreach { i =>
      w.write(graft.lwes.LwesEvent("Sp::E").setInt64("id", i.toLong)
        .setInt64(graft.lwes.LwesEvent.ReceiptTime, T0 + i))
    }
    w.flushOpenFrame()
    fos.getFD.sync()
    assert(f.length() > 0, "flushed frame must reach the file")
    // writer intentionally abandoned (crash): no close(), no footer
    val df = spark.read.format("lwes").schema("id long")
      .option("eventName", "Sp::E").load(dir)
    assert(df.count() == 25, "flushed pre-crash records must be readable")
  }

  test("frameRawBytes beyond the 1 GiB ceiling fails loudly (r13 ADVICE)") {
    // near-Int.MaxValue frame sizes used to overflow the buffer-size
    // arithmetic into NegativeArraySizeException at WRITE time; now the
    // constructor rejects them with a named contract.
    val e = intercept[IllegalArgumentException] {
      new SplitJournalWriter(new java.io.ByteArrayOutputStream(),
        frameRawBytes = Int.MaxValue - 10)
    }
    assert(e.getMessage.contains("ceiling"))
    // the ceiling itself is accepted
    new SplitJournalWriter(new java.io.ByteArrayOutputStream(),
      frameRawBytes = 1 << 30).close()
  }

  test("an empty split journal reads zero rows") {
    val dir = tmp()
    val path = new java.io.File(dir, "empty.zsj")
    val w = new SplitJournalWriter(new java.io.FileOutputStream(path), 2048)
    w.close()
    assert(path.length() > 0) // footer-only file
    val df = spark.read.format("lwes")
      .schema("id long").option("eventName", "Sp::E")
      .load(path.getAbsolutePath)
    assert(df.count() == 0L)
  }

  test("split read survives a frame boundary mid-attribute-projection") {
    // columnar + row parity across ranged reads: project a subset so the
    // projected parse path runs over frame-ranged streams too
    val dir = tmp()
    writeSplit(dir, 1500)
    val proj = readSplitDf(dir, Some(4096L)).select("tag")
    assert(proj.rdd.getNumPartitions > 1)
    assert(proj.distinct().count() == 1500L)
  }
}

package graft.sources

import graft.lwes.{Esf, LwesCodec, LwesEvent, LwesType}
import graft.sources.lwes.EsfValidationException
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Nullable-array wire tokens (N_*_ARRAY, 0x8d..0x98) end to end:
  * DataFrame arrays with null elements round-trip through the journal
  * format on BOTH reader paths, an emitter-shaped journal (raw
  * [[LwesEvent.setNullableArray]] writes) reads back with inference
  * marking containsNull, and the ESF `nullable` qualifier selects the
  * tokens on the declared-type write while non-nullable declarations
  * keep the named rejection. The reference SerDe predates arrays
  * entirely (reference EventSerDe.java:240-301 decodes only the 9
  * classic scalars), so this whole surface is beyond it — token layout
  * verified by round-trip + both-path parity + fuzz (A23 epistemics).
  */
class LwesNullableArraySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def rootMessage(e: Throwable): String = {
    var c: Throwable = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    Option(c.getMessage).getOrElse(e.toString)
  }

  test("arrays with null elements round-trip through write+read, both paths") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("nums", ArrayType(LongType, containsNull = true)),
      StructField("names", ArrayType(StringType, containsNull = true)),
      StructField("vals", ArrayType(DoubleType, containsNull = true)),
      StructField("flags", ArrayType(BooleanType, containsNull = true)),
      StructField("shorts", ArrayType(ShortType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq(1L, null, 3L), Seq(null, "b", ""), Seq(1.5, null),
        Seq(true, null), Seq(null, 7.toShort)),
      Row(2L, Seq(null, null), Seq("x"), null, Seq.empty[Any], Seq(9.toShort)),
      // an all-present row writes the compact CLASSIC tokens — the
      // reader must hand back the same values either way
      Row(3L, Seq(4L, 5L), Seq("y", "z"), Seq(2.0), Seq(false), Seq.empty[Any]))
    val dir = Files.createTempDirectory("narr-rt").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.format("lwes").option("eventName", "N::Rt")
      .option("compression", "zstd").mode("append").save(dir)
    val got = spark.read.format("lwes").schema(schema)
      .option("eventName", "N::Rt").load(dir)
      .orderBy("id").collect()
    assert(got.length == 3)
    assert(got(0).getSeq[Any](1) == Seq(1L, null, 3L))
    assert(got(0).getSeq[Any](2) == Seq(null, "b", ""))
    assert(got(0).getSeq[Any](3) == Seq(1.5, null))
    assert(got(0).getSeq[Any](4) == Seq(true, null))
    assert(got(0).getSeq[Any](5) == Seq(null, 7.toShort))
    assert(got(1).getSeq[Any](1) == Seq(null, null))
    assert(got(1).isNullAt(3)) // null COLUMN stays unset
    assert(got(1).getSeq[Any](4) == Seq.empty)
    assert(got(2).getSeq[Any](1) == Seq(4L, 5L))
  }

  test("widened element reads: both paths agree on every integral/float combo") {
    // r19 fast array fill regression net: wire element tokens read into
    // WIDER (and narrower) column element types must produce identical
    // values on the direct child-vector path and the ColumnShape
    // reference decode — the conversions mirror toCatalyst's
    // truncating-long / widening-double rules, so parity is the contract
    val dir = Files.createTempDirectory("narr-widen").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/w.journal.gz")
    (0 until 64).foreach { i =>
      w.write(LwesEvent("W::E")
        .setInt64("id", i.toLong)
        .setInt16Array("s16", Array((i - 32).toShort, Short.MinValue, Short.MaxValue))
        .setUInt16Array("u16", Array(i, 65535, 0))
        .setInt32Array("i32", Array(i - 32, Int.MinValue, Int.MaxValue))
        .setUInt32Array("u32", Array(i.toLong, 0xffffffffL, 0L))
        .setUInt64Array("u64", Array(-1L, i.toLong)) // raw-bits long read
        .setFloatArray("f32", Array(i / 3.0f, Float.MinPositiveValue))
        .setDoubleArray("f64", Array(i / 7.0, -0.0)))
    }
    w.close()
    // widenings (s16→long, u16→long, i32→long, f32→double), identity
    // reads, and a narrowing (i32→int is identity; s16→int widens)
    val schema = "id long, s16 array<long>, u16 array<long>, " +
      "i32 array<long>, u32 array<long>, u64 array<long>, " +
      "f32 array<double>, f64 array<double>"
    val df = spark.read.format("lwes").schema(schema)
      .option("eventName", "W::E").load(dir)
    val got = df.orderBy("id").collect()
    assert(got.sameElements(
      graft.sources.lwes.ColumnShape.referenceRows(df).sortBy(_.getLong(0))))
    assert(got.length == 64)
    // spot-check raw-bits uint64 and exact widen
    val r0 = spark.read.format("lwes").schema(schema)
      .option("eventName", "W::E").load(dir)
      .orderBy("id").head()
    assert(r0.getSeq[Long](5).head == -1L)
    assert(r0.getSeq[Long](1) == Seq(-32L, Short.MinValue.toLong, Short.MaxValue.toLong))
  }

  test("emitter-shaped journal: raw nullable tokens read, infer, and prune") {
    val dir = Files.createTempDirectory("narr-raw").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/j.journal.gz")
    (0 until 50).foreach { i =>
      val ev = LwesEvent("Em::E")
        .setInt64("id", i.toLong)
        .setNullableArray("xs", LwesType.Int32,
          Array.tabulate[AnyRef](i % 5)(j =>
            if ((i + j) % 3 == 0) null else java.lang.Integer.valueOf(i * 10 + j)))
        .setNullableArray("tags", LwesType.Str,
          Array.tabulate[AnyRef](i % 3)(j =>
            if (j % 2 == 1) null else s"t$i-$j"))
        // a fat nullable attr nobody projects: the pruned scan must
        // length-skip it correctly or every later attr misreads
        .setNullableArray("fat", LwesType.Int64,
          Array.tabulate[AnyRef](200)(j =>
            if (j % 4 == 0) null else java.lang.Long.valueOf(j.toLong)))
        .setInt32("tail", i * 7)
      w.write(ev)
    }
    w.close()
    // inference: nullable tokens surface as containsNull=true arrays
    val inferred = spark.read.format("lwes")
      .option("eventName", "Em::E").load(dir).schema
    assert(inferred("xs").dataType == ArrayType(IntegerType, containsNull = true))
    assert(inferred("tags").dataType == ArrayType(StringType, containsNull = true))
    // projected read WITHOUT fat: exercises the nullable length-skip
    val got = spark.read.format("lwes")
      .schema("id long, xs array<int>, tags array<string>, tail int")
      .option("eventName", "Em::E").load(dir)
      .orderBy("id").collect()
    assert(got.length == 50)
    got.foreach { r =>
      val i = r.getLong(0).toInt
      val xs = r.getSeq[Any](1)
      assert(xs.length == i % 5, s"id=$i")
      xs.zipWithIndex.foreach { case (x, j) =>
        val e: Any = if ((i + j) % 3 == 0) null else i * 10 + j
        assert(x == e, s"id=$i elem $j")
      }
      assert(r.getInt(3) == i * 7, s"id=$i tail")
    }
  }

  test("nullable byte[] reads as array<short> (byte-upcast parity) with holes") {
    val dir = Files.createTempDirectory("narr-byte").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/j.journal")
    w.write(LwesEvent("B::E").setInt64("id", 1L)
      .setNullableArray("bs", LwesType.ByteT,
        Array[AnyRef](java.lang.Byte.valueOf(5.toByte), null,
          java.lang.Byte.valueOf((-7).toByte))))
    w.close()
    val inferred = spark.read.format("lwes").option("eventName", "B::E")
      .load(dir).schema
    assert(inferred("bs").dataType == ArrayType(ShortType, containsNull = true))
    val r = spark.read.format("lwes").schema("id long, bs array<short>")
      .option("eventName", "B::E").load(dir).head()
    assert(r.getSeq[Any](1) == Seq(5.toShort, null, (-7).toShort))
  }

  test("array<byte> columns take ONE wire shape per column, driven by containsNull") {
    // byte is the one element type where the classic token (a blob,
    // BinaryType on read) and the nullable token (element-wise,
    // array<short> on read) disagree on the read-side Spark type — so
    // the write switches on the SCHEMA, not per value: a
    // containsNull=true column emits NByteArray for every row (holed
    // or not) and inference sees one consistent array<short> column
    // instead of a BinaryType/array mix widened to StringType
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bs", ArrayType(ByteType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq(1.toByte, null, 3.toByte)),
      Row(2L, Seq(4.toByte, 5.toByte))) // all-present row, same token
    val dir = Files.createTempDirectory("narr-bytecol").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("lwes").option("eventName", "BC::E")
      .mode("append").save(dir)
    val inferred = spark.read.format("lwes").option("eventName", "BC::E")
      .load(dir).schema
    assert(inferred("bs").dataType == ArrayType(ShortType, containsNull = true),
      s"got ${inferred("bs").dataType}")
    val got = spark.read.format("lwes").schema("id long, bs array<short>")
      .option("eventName", "BC::E").load(dir)
      .orderBy("id").collect()
    assert(got(0).getSeq[Any](1) == Seq(1.toShort, null, 3.toShort))
    assert(got(1).getSeq[Any](1) == Seq(4.toShort, 5.toShort))
    // a containsNull=false byte column keeps the classic blob shape
    val schema2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("bs", ArrayType(ByteType, containsNull = false))))
    val dir2 = Files.createTempDirectory("narr-bytecol2").toString
    spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, Seq(7.toByte, 8.toByte))), 1),
        schema2)
      .write.format("lwes").option("eventName", "BC::F").mode("append").save(dir2)
    val inf2 = spark.read.format("lwes").option("eventName", "BC::F")
      .load(dir2).schema
    assert(inf2("bs").dataType == BinaryType, s"got ${inf2("bs").dataType}")
    // ...and a containsNull=false byte column whose DATA still smuggles
    // a null fails LOUDLY instead of forking the column's wire shape
    // per row — Spark 4's own NOT_NULL assertion usually fires first
    // at row conversion; the writer keeps its own named backstop for
    // InternalRow paths that bypass that validation
    val dir3 = Files.createTempDirectory("narr-bytecol3").toString
    val e = intercept[Exception] {
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(1L, Seq(7.toByte, null))), 1),
          schema2)
        .write.format("lwes").option("eventName", "BC::G")
        .mode("append").save(dir3)
    }
    val m = rootMessage(e)
    assert(m.contains("containsNull") || m.contains("NOT_NULL"), m)
  }

  test("esf: multi-line default errors name the DECLARATION's line") {
    val e = intercept[IllegalArgumentException](
      Esf.parse("Ev\n{\n  int32 xs[4] =\n    1,\n    null;\n}"))
    assert(e.getMessage.contains("line 3"), e.getMessage)
  }

  // ------------------------------------------------------------- ESF

  private val template =
    """Nul::Ev
      |{
      |  required int64 id;
      |  nullable int32 xs[8];
      |  nullable string tags[4];
      |  int32 strict[4];
      |  nullable uint16 narrow[4];
      |  nullable int64 filled[4] = 1, null, 3;
      |}
      |""".stripMargin

  private def esfFile(tpl: String = template): String = {
    val dir = Files.createTempDirectory("esf-nul").toString
    Files.writeString(Paths.get(dir, "t.esf"), tpl)
    s"$dir/t.esf"
  }

  test("esf: nullable qualifier derives containsNull=true read schema") {
    val dir = Files.createTempDirectory("esf-nul-schema").toString // empty
    val s = spark.read.format("lwes").option("eventName", "Nul::Ev")
      .option("esf", esfFile()).load(dir).schema
    assert(s("xs").dataType == ArrayType(IntegerType, containsNull = true))
    assert(s("tags").dataType == ArrayType(StringType, containsNull = true))
    assert(s("strict").dataType == ArrayType(IntegerType, containsNull = false))
  }

  test("esf: nullable-declared writes carry null elements on the N_ wire tokens") {
    val esf = esfFile()
    val dir = Files.createTempDirectory("esf-nul-w").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = true)),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("narrow", ArrayType(IntegerType, containsNull = true))))
    val rows = Seq(
      Row(1L, Seq(7, null, 9), Seq(null, "a"), Seq(70000 - 65536, null)),
      // all-present under a nullable DECLARATION still takes the N_
      // token (declared type wins — same contract as every other
      // template-declared encoding)
      Row(2L, Seq(1, 2), Seq("b"), Seq(3, 4)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("lwes").option("eventName", "Nul::Ev")
      .option("compression", "gzip")
      .option("esf", esf).mode("append").save(dir)
    // wire check: parse the journal raw and assert the tokens
    // hidden .part-*.crc checksum twins also contain "part-" — JVM-wide
    // Files.list ordering is arbitrary, so exclude them explicitly
    val f = Files.list(Paths.get(dir))
      .filter(p => p.getFileName.toString.contains("part-") &&
        !p.getFileName.toString.startsWith("."))
      .findFirst().get().toString
    val r = graft.lwes.JournalReader.open(f)
    val toks = scala.collection.mutable.Set[Byte]()
    try r.iterator.foreach { ev =>
      ev.get("xs").foreach(a => toks += a.token)
      ev.get("filled").foreach(a => toks += a.token)
    } finally r.close()
    assert(toks.contains(LwesType.NInt32Array))
    assert(toks.contains(LwesType.NInt64Array)) // default fill, nullable token
    // read back with the template: values + default hole
    val got = spark.read.format("lwes").option("eventName", "Nul::Ev")
      .option("esf", esf).load(dir)
      .select("id", "xs", "tags", "narrow", "filled")
      .orderBy("id").collect()
    assert(got(0).getSeq[Any](1) == Seq(7, null, 9))
    assert(got(0).getSeq[Any](2) == Seq(null, "a"))
    assert(got(0).getSeq[Any](3) == Seq(70000 - 65536, null))
    // the declared default (with its null hole) filled both rows
    assert(got(0).getSeq[Any](4) == Seq(1L, null, 3L))
    assert(got(1).getSeq[Any](4) == Seq(1L, null, 3L))
  }

  test("esf: a null element under a NON-nullable declaration fails, named") {
    val dir = Files.createTempDirectory("esf-nul-bad").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("strict", ArrayType(IntegerType, containsNull = true))))
    val e = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, Seq(1, null, 3))), 1), schema)
        .write.format("lwes").option("eventName", "Nul::Ev")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("strict") &&
      msg.contains("nullable"))
  }

  test("esf: nullable elements range-check to the declared width, named") {
    val dir = Files.createTempDirectory("esf-nul-range").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("narrow", ArrayType(IntegerType, containsNull = true))))
    val e = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, Seq(70000, null))), 1), schema)
        .write.format("lwes").option("eventName", "Nul::Ev")
        .option("esf", esfFile()).mode("append").save(dir)
    }
    val msg = rootMessage(e)
    assert(msg.contains("esf validation") && msg.contains("out of range") &&
      msg.contains("uint16"))
  }

  test("esf: nullable on a scalar declaration is a named load error") {
    val e = intercept[IllegalArgumentException](
      Esf.parse("Ev\n{\n  nullable int32 x;\n}"))
    assert(e.getMessage.contains("esf parse error") &&
      e.getMessage.contains("'nullable'") && e.getMessage.contains("scalar") &&
      e.getMessage.contains("line 3"))
  }

  test("esf: a null default element under a non-nullable array fails at load, with line") {
    val e = intercept[IllegalArgumentException](
      Esf.parse("Ev\n{\n  int32 xs[4] = 1, null, 3;\n}"))
    assert(e.getMessage.contains("esf parse error") &&
      e.getMessage.contains("malformed default") &&
      e.getMessage.contains("line 3"))
  }

  test("esf: uint64 out-of-range decimal rejects as EsfValidationException") {
    // r17 contract fix: the ESF path names EVERY violation, including
    // the uint64 raw-bits range check that used to throw generic IAE
    val esf = esfFile("U::Ev\n{\n  required int64 id;\n  uint64 big;\n}\n")
    val dir = Files.createTempDirectory("esf-u64").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("big", DecimalType(20, 0), nullable = true)))
    val over = new java.math.BigDecimal("18446744073709551616") // 2^64
    val e = intercept[Exception] {
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1L, over)), 1), schema)
        .write.format("lwes").option("eventName", "U::Ev")
        .option("esf", esf).mode("append").save(dir)
    }
    // the root failure must be the NAMED EsfValidationException
    var c: Throwable = e
    var found = false
    while (c != null && !found) {
      found = c.isInstanceOf[EsfValidationException]
      c = if (c.getCause == c) null else c.getCause
    }
    assert(found, s"expected EsfValidationException in the cause chain of $e")
    assert(rootMessage(e).contains("uint64 range"))
  }

  test("fallback parity: unknown tokens beyond 0x98 still cost one record, resync'd") {
    val dir = Files.createTempDirectory("narr-unk").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/j.journal")
    w.write(LwesEvent("U::E").setInt64("id", 1L))
    // a correctly-framed record whose attr token is 0x99: payload
    // parse fails, the frame header resyncs, later records survive
    val bad = LwesCodec.serialize(LwesEvent("U::E").setInt32("ab", 5))
    bad(bad.length - 5) = 0x99.toByte
    w.writeRecord(bad, 0, bad.length, 0L, Array[Byte](0, 0, 0, 0), 0, 0)
    w.write(LwesEvent("U::E").setInt64("id", 2L))
    w.close()
    val got = spark.read.format("lwes").schema("id long")
      .option("eventName", "U::E").load(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L))
  }
}

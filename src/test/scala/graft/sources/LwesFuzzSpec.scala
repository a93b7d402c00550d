package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.util.Random

/** Property fuzz: random schemas x random rows (nulls, unicode, extreme
  * values) survive the DataFrame -> journal -> DataFrame round-trip
  * exactly. Seeded, so failures reproduce. */
class LwesFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val types: Seq[DataType] = Seq(BooleanType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, StringType,
    // modern array tokens (r15: vectorized; wire arrays
    // carry no null elements, including the empty array)
    ArrayType(ShortType, containsNull = false),
    ArrayType(IntegerType, containsNull = false),
    ArrayType(LongType, containsNull = false),
    ArrayType(FloatType, containsNull = false),
    ArrayType(DoubleType, containsNull = false),
    ArrayType(BooleanType, containsNull = false),
    ArrayType(StringType, containsNull = false),
    // uint64-as-decimal, both shapes (r16): scalars round-trip through
    // the uint64 raw-bits write, decimal ARRAYS through the r16
    // setAttr uint64[] mirror of the uint64As=decimal read
    DecimalType(20, 0),
    ArrayType(DecimalType(20, 0), containsNull = false),
    // nullable-array wire tokens (r17): containsNull=true columns mix
    // null-holed values (N_*_ARRAY on the wire) with all-present ones
    // (classic tokens) row by row — both shapes fuzz both reader paths
    ArrayType(IntegerType, containsNull = true),
    ArrayType(LongType, containsNull = true),
    ArrayType(DoubleType, containsNull = true),
    ArrayType(StringType, containsNull = true),
    ArrayType(BooleanType, containsNull = true),
    ArrayType(DecimalType(20, 0), containsNull = true))

  // `latin1` trials write with stringEncoding=ISO-8859-1, so generated
  // strings stay inside the Latin-1 repertoire (chars <= 0xFF) — high
  // bytes included, which is the interesting part: they round-trip as
  // ONE wire byte and transcode back through the enc=0 read path
  private def randValue(rnd: Random, dt: DataType, latin1: Boolean = false): Any = {
    if (rnd.nextInt(6) == 0) return null
    dt match {
      case BooleanType => rnd.nextBoolean()
      case ShortType => rnd.nextInt().toShort
      case IntegerType => rnd.nextInt() match {
        case 0 => Int.MinValue
        case v => v
      }
      case LongType => if (rnd.nextInt(10) == 0) Long.MinValue else rnd.nextLong()
      case FloatType => rnd.nextInt(5) match {
        case 0 => Float.MinPositiveValue
        case 1 => Float.MaxValue
        case _ => rnd.nextFloat() * 1e6f - 5e5f
      }
      case DoubleType => rnd.nextInt(5) match {
        case 0 => Double.MinPositiveValue
        case 1 => -0.0
        case _ => rnd.nextDouble() * 1e12 - 5e11
      }
      case _: DecimalType => // full unsigned-64 range, 2^63.. included
        new java.math.BigDecimal(new java.math.BigInteger(64, rnd.self))
      case StringType => rnd.nextInt(5) match {
        case 0 => ""
        case 1 => if (latin1) "héllo wörld À§ÿñ ±Ç" else "héllo wörld 世界 😀"
        case 2 if latin1 =>
          // random Latin-1 high-byte soup (0xA0..0xFF printable range)
          Seq.fill(rnd.nextInt(20))((0xa0 + rnd.nextInt(0x60)).toChar).mkString
        case _ => rnd.alphanumeric.take(rnd.nextInt(50)).mkString
      }
      case ArrayType(et, cn) =>
        // classic arrays carry no null elements; containsNull columns
        // hole ~1/4 of theirs (empty arrays legal either way)
        Seq.fill(rnd.nextInt(9))(
          if (cn && rnd.nextInt(4) == 0) null
          else Iterator.continually(randValue(rnd, et, latin1)).filter(_ != null).next())
      case _ => null
    }
  }

  // fixed seeds keep CI deterministic; GRAFT_FUZZ_SEED shifts both
  // fuzzes for exploratory local sweeps (failures print the seed)
  private val seedShift: Long =
    sys.env.get("GRAFT_FUZZ_SEED").flatMap(_.toLongOption).getOrElse(0L)

  test("20 random schemas round-trip exactly through the journal format") {
    val rnd = new Random(4242 + seedShift)
    (0 until 20).foreach { trial =>
      val nCols = 1 + rnd.nextInt(8)
      val schema = StructType((0 until nCols).map(i =>
        StructField(s"c$i", types(rnd.nextInt(types.length)), nullable = true)))
      val nRows = 1 + rnd.nextInt(200)
      // every 3rd trial writes ISO-8859-1 (the reserved `enc` attr,
      // r18): string values fuzz the Latin-1 high-byte range and both
      // readers must transcode them back identically
      val latin1 = trial % 3 == 0
      val rows = (0 until nRows).map { r =>
        Row.fromSeq(Seq(r.toLong) ++ schema.fields.map(f =>
          randValue(rnd, f.dataType, latin1)))
      }
      val full = StructType(StructField("rid", LongType, nullable = false) +: schema.fields)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), full)
      val dir = Files.createTempDirectory(s"fuzz$trial").toString
      val comp = Seq("gzip", "none", "deflate", "zstd")(rnd.nextInt(4))
      val w0 = df.write.format("lwes").option("eventName", s"Fuzz::T$trial")
        .option("compression", comp)
      (if (latin1) w0.option("stringEncoding", "ISO-8859-1") else w0)
        .mode("append").save(dir)
      val exp = df.collect().map(r => r.toSeq.map(normalize)).sortBy(_.toString)
      // the scan must reproduce the source exactly (arrays included
      // since r15)
      val back = spark.read.format("lwes").schema(full)
        .option("eventName", s"Fuzz::T$trial").load(dir)
      val got = back.collect().map(r => r.toSeq.map(normalize)).sortBy(_.toString)
      assert(got.length == exp.length, s"trial $trial: row count")
      exp.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
        assert(e == g,
          s"trial $trial row $i (seedShift=$seedShift): " +
            s"expected $e got $g (schema $full, comp=$comp)")
      }
    }
  }

  test("resync fuzz: random garbage records between valid events never cost good rows") {
    val rnd = new Random(31337)
    (0 until 10).foreach { trial =>
      val dir = Files.createTempDirectory(s"fuzz-resync$trial").toString
      val comp = Seq("gzip", "none", "zstd")(rnd.nextInt(3))
      val ext = comp match {
        case "gzip" => "journal.gz"; case "zstd" => "journal.zst"
        case _ => "journal"
      }
      val w = graft.lwes.JournalWriter.create(s"$dir/j.$ext")
      val nGood = 20 + rnd.nextInt(80)
      var garbage = 0
      (0 until nGood).foreach { i =>
        w.write(graft.lwes.LwesEvent(s"FR::E").setInt64("id", i.toLong)
          .setString("s", rnd.alphanumeric.take(rnd.nextInt(30)).mkString))
        if (rnd.nextInt(3) == 0) {
          // correctly framed, undecodable payload
          val len = 1 + rnd.nextInt(64)
          val junk = Array.fill[Byte](len)((rnd.nextInt(256) - 128).toByte)
          // a junk payload whose first byte happens to frame a valid
          // name+attrs would decode as a (harmless) foreign event —
          // force an invalid name length so it always exercises resync
          junk(0) = 0xF0.toByte
          w.writeRecord(junk, 0, len, 0L, Array[Byte](0, 0, 0, 0), 0, 0)
          garbage += 1
        }
      }
      w.close()
      val back = spark.read.format("lwes").schema("id long, s string")
        .option("eventName", "FR::E").load(dir)
      assert(back.collect().map(_.getLong(0)).sorted.toSeq ==
        (0 until nGood).map(_.toLong),
        s"trial $trial (comp=$comp, $garbage garbage records)")
    }
  }

  test("block-compressed SequenceFile containers survive random payload fuzz") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.io.{BytesWritable, LongWritable, SequenceFile}
    val rnd = new Random(777)
    val dir = Files.createTempDirectory("fuzz-seq-block").toString
    val conf = new Configuration()
    conf.setInt("io.seqfile.compress.blocksize", 2048) // many small blocks
    val w = SequenceFile.createWriter(conf,
      SequenceFile.Writer.file(new Path(s"$dir/f.seq")),
      SequenceFile.Writer.keyClass(classOf[LongWritable]),
      SequenceFile.Writer.valueClass(classOf[BytesWritable]),
      SequenceFile.Writer.compression(SequenceFile.CompressionType.BLOCK))
    val expected = (0 until 500).map { i =>
      val s = rnd.alphanumeric.take(rnd.nextInt(80)).mkString
      val ev = graft.lwes.LwesEvent(s"F::${i % 3}")
        .setInt64("id", i.toLong).setString("s", s)
        .setInt32("n", rnd.nextInt())
      w.append(new LongWritable(i.toLong),
        new BytesWritable(graft.lwes.LwesCodec.serialize(ev)))
      (i.toLong, s)
    }
    w.close()
    val back = spark.read.format("lwes").schema("id long, s string").load(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(back.toSeq == expected)
  }

  test("random ESF templates: derived schema writes back, defaults fill, both paths") {
    val rnd = new Random(816 + seedShift)
    val types = Seq("uint16", "int16", "uint32", "int32", "int64", "uint64",
      "boolean", "string", "byte", "float", "double", "ip_addr")
    def ip(): String =
      s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(254)}"
    // (spark-typed value, template literal) per declared type — values
    // stay in the declared range so validation passes
    def value(t: String): Any = t match {
      case "uint16" => rnd.nextInt(65536)
      case "int16" => rnd.nextInt(65536).toShort
      case "uint32" => rnd.self.nextLong(1L << 32)
      case "int32" => rnd.nextInt()
      case "int64" => rnd.nextLong()
      case "uint64" => rnd.nextLong() // raw bits, any long
      case "boolean" => rnd.nextBoolean()
      case "string" => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
      case "byte" => (rnd.nextInt(256) - 128).toShort // ShortType column
      case "float" => (rnd.nextInt(1000) / 4.0).toFloat
      case "double" => rnd.nextInt(100000) / 8.0
      case "ip_addr" => ip()
    }
    def literal(t: String, v: Any): String = t match {
      case "string" => "\"" + v + "\""
      case "ip_addr" => "\"" + v + "\""
      case _ => v.toString
    }
    (0 until 10).foreach { trial =>
      val nAttrs = 1 + rnd.nextInt(6)
      val attrs = (0 until nAttrs).map { i =>
        val t = types(rnd.nextInt(types.length))
        // byte[] maps to BinaryType (one blob), not ArrayType — keep
        // the fuzz's per-element model to true element arrays
        val isArr = rnd.nextInt(10) < 3 && t != "byte"
        // r17: a third of array declarations take the `nullable`
        // qualifier (N_*_ARRAY wire tokens); their defaults and row
        // values may carry null holes
        val isNul = isArr && rnd.nextInt(3) == 0
        val dflt: Option[Any] =
          if (rnd.nextInt(10) < 4)
            Some(if (isArr) Seq.fill(1 + rnd.nextInt(3))(
              if (isNul && rnd.nextInt(4) == 0) null else value(t))
            else value(t))
          else None
        (s"a$i", t, isArr, isNul, dflt)
      }
      val tpl = s"Fz::T$trial {  # trial $trial\n  required int64 rid;\n" +
        attrs.map {
        case (n, t, isArr, isNul, d) =>
          val decl = s"  ${if (isNul) "nullable " else ""}$t $n${if (isArr) "[4]" else ""}"
          val dl = d.map {
            case xs: Seq[_] =>
              " = " + xs.map(x =>
                if (x == null) "null" else literal(t, x)).mkString(", ")
            case x => " = " + literal(t, x)
          }.getOrElse("")
          s"$decl$dl;"
      }.mkString("\n") + "\n}\n"
      val tdir = Files.createTempDirectory(s"esf-fuzz$trial").toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tdir, "f.esf"), tpl)
      val esf = s"$tdir/f.esf"
      val dir = Files.createTempDirectory(s"esf-fuzz-w$trial").toString
      // derived schema off an EMPTY dir (no sampling possible)
      val schema = spark.read.format("lwes").option("eventName", s"Fz::T$trial")
        .option("esf", esf).load(dir).schema
      // rows typed per the DERIVED schema; ~40% of cells null so both
      // the write-side default fill and plain unset are exercised
      val nRows = 3 + rnd.nextInt(12)
      val data = (0 until nRows).map { _ =>
        attrs.map { case (_, t, isArr, isNul, _) =>
          if (rnd.nextInt(10) < 4) null
          else if (isArr) Seq.fill(rnd.nextInt(4))(
            if (isNul && rnd.nextInt(4) == 0) null else value(t))
          else value(t)
        }
      }
      val rows = data.zipWithIndex.map { case (vs, r) =>
        Row.fromSeq(r.toLong +: vs)
      }
      val full = StructType(
        StructField("rid", LongType, nullable = false) +:
          attrs.map { case (n, _, _, _, _) =>
            schema(n).copy(nullable = true) })
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), full)
        .write.format("lwes").option("eventName", s"Fz::T$trial")
        .option("esf", esf).mode("append").save(dir)
      // expected: value if set, else the default, else null — per cell
      val expected = data.map(vs => vs.zip(attrs).map {
        case (v, (_, _, _, _, dflt)) => if (v != null) v else dflt.orNull
      })
      val got = spark.read.format("lwes").option("eventName", s"Fz::T$trial")
        .option("esf", esf)
        .schema(full).load(dir)
        .orderBy("rid").collect()
      assert(got.length == nRows, s"trial $trial rows")
      got.zipWithIndex.foreach { case (row, r) =>
        attrs.indices.foreach { i =>
          val g = normalize(row.get(i + 1))
          val e = normalize(expected(r)(i))
          assert(g == e,
            s"trial $trial row $r (seedShift=$seedShift) " +
              s"attr ${attrs(i)._1} " +
              s"(${if (attrs(i)._4) "nullable " else ""}" +
              s"${attrs(i)._2}${if (attrs(i)._3) "[]" else ""}): " +
              s"expected $e got $g\ntemplate:\n$tpl")
        }
      }
    }
  }

  /** -0.0 serializes as "-0.0" and parses back to -0.0; normalize NaN
    * boxing only (equality of boxed Float/Double NaN differs) and
    * collection types (Row.getSeq shapes vary per reader path). */
  private def normalize(v: Any): Any = v match {
    case f: Float if f.isNaN => "NaN"
    case d: Double if d.isNaN => "NaN"
    case s: scala.collection.Seq[_] => s.map(normalize).toList
    case other => other
  }
}

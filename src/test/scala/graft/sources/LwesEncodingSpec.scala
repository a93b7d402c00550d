package graft.sources

import graft.lwes.{LwesCodec, LwesEvent, LwesType}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.ByteBuffer
import java.nio.file.Files

/** The reserved lwes-java string-encoding attribute (`enc` int16:
  * 0 = ISO-8859-1, 1 = UTF-8, serialized first by lwes-java emitters)
  * honored end to end: codec byte-stability for Latin-1 events, both
  * reader paths decoding a Latin-1 emitter journal, the
  * `stringEncoding=ISO-8859-1` write option, pushdown soundness on
  * Latin-1 records, and the loud boundaries (out-of-range enc values,
  * unmappable characters on write). The reference SerDe ignores `enc`
  * entirely — no encoding handling anywhere in EventSerDe.java — so a
  * Latin-1 journal read through it produces silent mojibake; this is
  * beyond-reference coverage of the public lwes-java behavior. */
class LwesEncodingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Latin = "café über-naïve" // é ü ï: all <= 0xFF

  test("codec: enc=0 events encode string values Latin-1 and round-trip byte-stably") {
    val ev = LwesEvent("E")
      .setInt16(LwesCodec.EncAttr, LwesCodec.EncIso88591)
      .setString("s", Latin)
      .setStringArray("sa", Array("a", Latin))
    val bytes = LwesCodec.serialize(ev)
    // é must be ONE byte (0xE9), not the two-byte UTF-8 sequence
    assert(bytes.count(b => (b & 0xff) == 0xe9) == 2) // scalar + array copy
    assert(!bytes.sliding(2).exists(p => (p(0) & 0xff) == 0xc3 && (p(1) & 0xff) == 0xa9))
    val back = LwesCodec.deserialize(bytes)
    assert(back.get("s").get.value == Latin)
    assert(back.get("sa").get.value.asInstanceOf[Array[String]].toSeq == Seq("a", Latin))
    assert(LwesCodec.serialize(back).sameElements(bytes))
    // the same event WITHOUT enc writes UTF-8 (two bytes for é)
    val utf = LwesCodec.serialize(LwesEvent("E").setString("s", Latin))
    assert(utf.sliding(2).exists(p => (p(0) & 0xff) == 0xc3 && (p(1) & 0xff) == 0xa9))
  }

  test("codec: enc=0 + null-holed NULLABLE string arrays round-trip byte-stably") {
    // the two r18 wire features composed: Latin-1 string elements
    // inside N_STRING_ARRAY presence-bitset values
    val ev = LwesEvent("E")
      .setInt16(LwesCodec.EncAttr, LwesCodec.EncIso88591)
      .setNullableArray("ns", LwesType.Str,
        Array[AnyRef](Latin, null, "", null, "Ç à ñ"))
    val bytes = LwesCodec.serialize(ev)
    val back = LwesCodec.deserialize(bytes)
    assert(back.get("ns").get.value.asInstanceOf[Array[AnyRef]].toSeq ==
      Seq(Latin, null, "", null, "Ç à ñ"))
    assert(LwesCodec.serialize(back).sameElements(bytes))
    // present elements really are Latin-1 on the wire: é and Ç as one byte
    assert(bytes.count(b => (b & 0xff) == 0xe9) == 1)
    assert(bytes.count(b => (b & 0xff) == 0xc7) == 1)
  }

  test("codec: enc=0 with a character above 0xFF fails loudly on write") {
    val ev = LwesEvent("E")
      .setInt16(LwesCodec.EncAttr, LwesCodec.EncIso88591)
      .setString("s", "snowman ☃")
    val e = intercept[IllegalArgumentException](LwesCodec.serialize(ev))
    assert(e.getMessage.contains("ISO-8859-1"), e.getMessage)
  }

  test("codec: an out-of-range enc value is rejected on BOTH directions") {
    // write side: serializing it would produce a journal whose records
    // silently vanish on read (the reader treats it as corruption)
    val ev = LwesEvent("E").setInt16(LwesCodec.EncAttr, 7).setString("s", "x")
    val we = intercept[IllegalArgumentException](LwesCodec.serialize(ev))
    assert(we.getMessage.contains("enc"), we.getMessage)
    // read side: hand-built foreign record with enc=7 is named corruption
    val buf = ByteBuffer.allocate(32)
    buf.put(1.toByte).put('E'.toByte).putShort(1)
    buf.put(3.toByte).put("enc".getBytes("UTF-8")).put(LwesType.Int16).putShort(7)
    val bytes = java.util.Arrays.copyOf(buf.array(), buf.position())
    val e = intercept[IllegalArgumentException](LwesCodec.deserialize(bytes))
    assert(e.getMessage.contains("enc"), e.getMessage)
  }

  test("codec: enc AFTER a string attribute restarts the parse — never mojibake") {
    // hand-built foreign shape: [name][count=2][s: Str Latin-1 bytes][enc: Int16 0]
    val sLat = Latin.map(_.toByte).toArray
    val buf = ByteBuffer.allocate(64)
    buf.put(1.toByte).put('E'.toByte).putShort(2)
    buf.put(1.toByte).put('s'.toByte).put(LwesType.Str)
      .putShort(sLat.length.toShort).put(sLat)
    buf.put(3.toByte).put("enc".getBytes("UTF-8")).put(LwesType.Int16).putShort(0)
    val bytes = java.util.Arrays.copyOf(buf.array(), buf.position())
    val back = LwesCodec.deserialize(bytes)
    assert(back.get("s").get.value == Latin)
  }

  test("both reader paths decode a Latin-1 emitter journal; stringEncoding write parity") {
    val dir = Files.createTempDirectory("enc-emitter").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/j.journal.gz")
    // emitter-shaped: enc FIRST, lwes-java order
    w.write(LwesEvent("Enc::E")
      .setInt16(LwesCodec.EncAttr, LwesCodec.EncIso88591)
      .setInt64("id", 1L).setString("s", Latin)
      .setStringArray("sa", Array(Latin, "plain")))
    // a second record WITHOUT enc stays UTF-8 — per-record charsets
    w.write(LwesEvent("Enc::E").setInt64("id", 2L).setString("s", "café")
      .setStringArray("sa", Array("x")))
    w.close()
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("sa", ArrayType(StringType))))
    val got = spark.read.format("lwes").schema(schema)
      .option("eventName", "Enc::E")
      .load(dir).orderBy("id").collect()
    assert(got(0).getString(1) == Latin)
    assert(got(0).getSeq[String](2) == Seq(Latin, "plain"))
    assert(got(1).getString(1) == "café")
    // DSv2 write option produces the same wire shape and reads back equal
    val dir2 = Files.createTempDirectory("enc-write").toString
    val rows = Seq(Row(1L, Latin, Seq(Latin, "plain")), Row(2L, "ascii only", Seq("x")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.format("lwes").option("eventName", "Enc::W")
      .option("stringEncoding", "ISO-8859-1")
      .option("compression", "none").mode("append").save(dir2)
    val back = spark.read.format("lwes").schema(schema)
      .option("eventName", "Enc::W").load(dir2).orderBy("id").collect()
    assert(back(0).getString(1) == Latin)
    assert(back(0).getSeq[String](2) == Seq(Latin, "plain"))
    // and the raw file really is Latin-1: 0xE9 single bytes, no 0xC3A9
    val raw = Files.readAllBytes(
      Files.list(java.nio.file.Paths.get(dir2))
        .filter(p => p.getFileName.toString.contains("journal") &&
          !p.getFileName.toString.startsWith("."))
        .findFirst().get())
    assert(raw.count(b => (b & 0xff) == 0xe9) >= 2)
    assert(!raw.sliding(2).exists(p => (p(0) & 0xff) == 0xc3 && (p(1) & 0xff) == 0xa9))
    // inference surfaces the enc attribute as a regular int16 column
    val inf = spark.read.format("lwes").option("eventName", "Enc::W").load(dir2).schema
    assert(inf.fieldNames.contains("enc"))
    // unmappable characters fail the WRITE loudly, not mojibake
    val e = intercept[Exception] {
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(3L, "bad ☃", Seq.empty[String])), 1),
          schema)
        .write.format("lwes").option("eventName", "Enc::W")
        .option("stringEncoding", "ISO-8859-1").mode("append")
        .save(Files.createTempDirectory("enc-bad").toString)
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(Option(root(e).getMessage).exists(_.contains("ISO-8859-1")), root(e).toString)
  }

  test("pushed string predicates stay sound on Latin-1 records, both paths") {
    val dir = Files.createTempDirectory("enc-pred").toString
    val w = graft.lwes.JournalWriter.create(s"$dir/j.journal")
    for (i <- 0 until 20) {
      w.write(LwesEvent("P::E")
        .setInt16(LwesCodec.EncAttr, LwesCodec.EncIso88591)
        .setInt64("id", i.toLong)
        .setString("s", if (i % 4 == 0) Latin else s"plain-$i"))
    }
    w.close()
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val df = spark.read.format("lwes").schema(schema)
      .option("eventName", "P::E").load(dir)
    // non-ASCII equality literal: early byte-compare must not wrongly
    // reject (Latin-1 wire bytes ≠ UTF-8 literal bytes)
    assert(df.filter(org.apache.spark.sql.functions.col("s") === Latin).count() == 5,
      "eq")
    // ASCII prefix predicate rejects Latin rows correctly in-parse:
    // "plain-1" prefixes ids 1,10,11,13,14,15,17,18,19 (12 and 16
    // carry the Latin value instead)
    assert(df.filter(org.apache.spark.sql.functions.col("s").startsWith("plain-1")).count() == 9,
      "prefix")
  }

  test("stringEncoding composes with ESF template writes and template reads") {
    // the enc attribute is writer-stamped, not a column, so template
    // validation neither sees nor rejects it; the template-derived
    // read schema omits it and the charset is still honored
    val esf = Files.createTempDirectory("enc-esf")
      .resolve("t.esf").toString
    Files.writeString(java.nio.file.Paths.get(esf),
      "Enc::T\n{\n  required int64 id;\n  string s;\n  string tags[4];\n}\n")
    val dir = Files.createTempDirectory("enc-esf-j").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("tags", ArrayType(StringType, containsNull = false))))
    spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(1L, Latin, Seq(Latin, "x")), Row(2L, "plain", Seq("y"))), 1),
        schema)
      .write.format("lwes").option("eventName", "Enc::T")
      .option("esf", esf).option("stringEncoding", "ISO-8859-1")
      .mode("append").save(dir)
    val got = spark.read.format("lwes").option("esf", esf)
      .option("eventName", "Enc::T")
      .load(dir).orderBy("id").collect()
    val si = got(0).fieldIndex("s")
    assert(got(0).getString(si) == Latin)
    assert(got(0).getSeq[String](got(0).fieldIndex("tags")) == Seq(Latin, "x"))
  }

  test("writer refuses stringEncoding=ISO-8859-1 combined with an enc data column") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("enc", ShortType)))
    val e = intercept[Exception] {
      spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(1L, 0.toShort)), 1), schema)
        .write.format("lwes").option("eventName", "C::E")
        .option("stringEncoding", "ISO-8859-1").mode("append")
        .save(Files.createTempDirectory("enc-clash").toString)
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(Option(root(e).getMessage).exists(_.contains("reserved")), root(e).toString)
  }
}

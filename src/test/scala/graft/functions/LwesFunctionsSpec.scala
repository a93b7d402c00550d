package graft.functions

import graft.functions.LwesExpressions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LwesFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("to_lwes -> from_lwes round-trips typed fields") {
    val df = Seq((1L, "alpha", 2.5, true), (2L, "beta", -1.25, false))
      .toDF("id", "name", "score", "flag")
    val out = df
      .select(to_lwes(struct($"id", $"name", $"score", $"flag"), "T::E").as("bin"))
      .select(from_lwes($"bin", "id long, name string, score double, flag boolean").as("e"))
      .select("e.id", "e.name", "e.score", "e.flag")
      .orderBy("id").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3))).toSeq
      == Seq((1L, "alpha", 2.5, true), (2L, "beta", -1.25, false)))
  }

  test("lwes_event_name peeks the type; missing fields read as null") {
    val df = Seq((7L, "x")).toDF("id", "name")
    val bin = df.select(to_lwes(struct($"id", $"name"), "My::Type").as("bin"))
    assert(bin.select(lwes_event_name($"bin")).head.getString(0) == "My::Type")
    val e = bin.select(from_lwes($"bin", "id long, nope string").as("e"))
      .select("e.id", "e.nope").head
    assert(e.getLong(0) == 7L && e.isNullAt(1))
  }

  test("SQL registration: from_lwes/to_lwes/lwes_event_name usable in spark.sql") {
    LwesExpressions.register(spark)
    Seq((5L, "hello")).toDF("id", "msg").createOrReplaceTempView("src")
    val r = spark.sql(
      """SELECT lwes_event_name(bin) AS en,
        |       from_lwes(bin, 'id long, msg string').msg AS msg
        |FROM (SELECT to_lwes(struct(id, msg), 'Q::R') AS bin FROM src)""".stripMargin)
      .head
    assert(r.getString(0) == "Q::R" && r.getString(1) == "hello")
  }

  test("malformed bytes -> null, not an exception") {
    val df = Seq(Array[Byte](1, 2, 3)).toDF("bin")
    val r = df.select(from_lwes($"bin", "id long").as("e"),
      lwes_event_name($"bin").as("en")).head
    assert(r.isNullAt(0) || r.getStruct(0).isNullAt(0))
  }

  test("signature kernels are pure-SQL functions via GraftExtensions") {
    // SQL results must equal the Scala-API kernels bit-for-bit
    val sqlRow = spark.sql(
      """SELECT simhash_portable(split('quick brown fox jumps', ' ')) AS sp,
        |  simhash64(split('quick brown fox jumps', ' ')) AS s64,
        |  minhashes(shingle_hashes(split('a b c d e f g', ' '), 3), 16) AS mh,
        |  hyperplane_bucket(array(1.0d, -2.0d, 3.0d, 0.5d), 8) AS hb,
        |  round(cosine_sim(array(1.0d, 2.0d, 3.0d), array(3.0d, 2.0d, 1.0d)), 4) AS cs,
        |  nfc_casefold('Stra\u00dfe AB') AS nc,
        |  nfc_normalize('e\u0301') AS nn""".stripMargin).head()
    import graft.functions.SignatureExpressions._
    val api = spark.range(1).select(
      simhash_portable48(split(lit("quick brown fox jumps"), " ")).as("sp"),
      simhash64(split(lit("quick brown fox jumps"), " ")).as("s64"),
      minhashes(shingle_hashes(split(lit("a b c d e f g"), " "), 3), 16).as("mh"),
      hyperplane_bucket(array(lit(1.0d), lit(-2.0d), lit(3.0d), lit(0.5d)), 8).as("hb"),
      round(cosine_sim(array(lit(1.0d), lit(2.0d), lit(3.0d)),
        array(lit(3.0d), lit(2.0d), lit(1.0d))), 4).as("cs"),
      nfc_casefold(lit("Stra\u00dfe AB")).as("nc"),
      nfc_normalize(lit("e\u0301")).as("nn")).head()
    assert(sqlRow.getLong(0) == api.getLong(0))
    assert(sqlRow.getLong(1) == api.getLong(1))
    assert(sqlRow.getSeq[Long](2) == api.getSeq[Long](2))
    assert(sqlRow.getAs[Number](3).longValue == api.getAs[Number](3).longValue)
    assert(sqlRow.getDouble(4) == api.getDouble(4))
    // simple (not full) case folding: the kernel lowercases per char,
    // so U+00DF stays — what matters here is SQL == Scala-API parity
    assert(sqlRow.getString(5) == api.getString(5) &&
      sqlRow.getString(5) == "stra\u00dfe ab")
    assert(sqlRow.getString(6) == api.getString(6))
  }

  /** The error condition analysis raised for `df`, or fails the test. */
  private def analysisCondition(df: => org.apache.spark.sql.DataFrame): String =
    intercept[org.apache.spark.sql.AnalysisException](df.queryExecution.assertAnalyzed())
      .getCondition

  test("round_half_up rejects a non-double child at analysis time") {
    val df = Seq((1L, 2.5)).toDF("n", "d")
    assert(df.select(SignatureExpressions.round_half_up($"d", 0)).head.getDouble(0) == 3.0)
    assert(analysisCondition(df.select(SignatureExpressions.round_half_up($"n", 2))) ==
      "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
  }

  test("band_signatures rejects a non-array<long> child and bands/r below 1") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1, 2, 3, 4))).toDF("mh", "ints")
    assert(df.select(SignatureExpressions.band_signatures($"mh", 2, 2))
      .head.getSeq[Long](0).length == 2)
    assert(analysisCondition(df.select(SignatureExpressions.band_signatures($"ints", 2, 2))) ==
      "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
    Seq((0, 2), (2, 0), (-1, 4)).foreach { case (b, r) =>
      assert(analysisCondition(df.select(SignatureExpressions.band_signatures($"mh", b, r))) ==
        "DATATYPE_MISMATCH.VALUE_OUT_OF_RANGE", s"bands=$b r=$r")
    }
  }
}

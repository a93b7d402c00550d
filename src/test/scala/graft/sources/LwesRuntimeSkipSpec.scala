package graft.sources

import graft.sources.lwes.{LwesOptions, LwesScan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A30 — runtime zone-map skipping: a join's runtime (DPP-machinery)
  * filters on NON-partition attribute columns prune whole journal
  * files via the A27 sidecar min/max, at plan time under the placement
  * cap and in executor-side skims over it, and short-circuit records
  * in the parse. Every test asserts result parity with the unpruned
  * plan — skipping must be invisible to answers. */
class LwesRuntimeSkipSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-rskip").toString

  /** 16 contiguous-day journal files: 20k rows, day = id % 365,
    * range-partitioned so each file covers a disjoint day range. */
  private def writeFact(dir: String): Unit = {
    spark.range(20000)
      .select(col("id").as("event_id"),
        (col("id") % 365).as("day"),
        (col("id") % 97).cast("double").as("value"))
      .repartitionByRange(16, col("day"))
      .sortWithinPartitions("day")
      .write.format("lwes").option("eventName", "Rs::E")
      .mode("append").save(dir)
  }

  /** Days 88..95 via a predicate no v1 Filter can express (so nothing
    * static reaches the fact scan; any file prune is the RUNTIME
    * filter's). */
  private def dim: DataFrame =
    spark.range(366)
      .select(col("id").as("d"), (col("id") / 8).cast("long").as("grp"))
      .filter(col("grp") === 11)
      .select(col("d").as("day"))

  private def fact(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("event_id long, day long, value double")
      .option("eventName", "Rs::E")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def joined(f: DataFrame): DataFrame =
    f.join(broadcast(dim), Seq("day"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("tv"))

  test("runtime join filters prune files via sidecar stats at plan time") {
    val dir = tmp()
    writeFact(dir)
    val q = joined(fact(dir))
    val rows = q.collect()
    val scans = LwesScan.scansIn(q.queryExecution.executedPlan)
    assert(scans.map(_.statsPrunedFileCount).sum >= 12L,
      s"runtime zone-map prune missing: ${scans.map(_.statsPrunedFileCount)}")
    assert(scans.map(_.partitionPrunedFileCount).sum == 0L,
      "no partition columns exist; the prune must be stats-attributed")
    // parity: same answer with every prune layer off
    val plain = joined(fact(dir, LwesOptions.StatsPrune -> "false")).collect()
    assert(rows.sameElements(plain), "pruned and unpruned answers diverged")
    // 8 days x ceil/floor(20000/365) rows each — sanity floor
    assert(rows.head.getLong(0) > 400L)
  }

  test("over the placement cap, runtime skipping defers to executor skims") {
    val dir = tmp()
    writeFact(dir)
    // manifest off for this row: a manifest-covered candidate prunes
    // at plan time at any cap (r19) — the over-cap skim placement only
    // exists for manifest-less sidecar directories
    val mf = new java.io.File(dir, graft.sources.lwes.LwesStats.ManifestName)
    assert(mf.delete(), "batch commit should have published a manifest")
    new java.io.File(dir,
      s".${graft.sources.lwes.LwesStats.ManifestName}.crc").delete()
    val q = joined(fact(dir, LwesOptions.StatsPruneMaxFiles -> "0"))
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan
    assert(LwesScan.scansIn(plan).map(_.statsPrunedFileCount).sum == 0L,
      "over the cap the DRIVER must not have pruned")
    assert(LwesScan.scanMetricSum(plan, "filesPrunedByStats") >= 12L,
      "executor skim must drop the non-matching files")
    val plain = joined(fact(dir, LwesOptions.StatsPrune -> "false")).collect()
    assert(rows.sameElements(plain))
  }

  test("runtime filters short-circuit records inside the parse") {
    val dir = tmp()
    writeFact(dir)
    val q = joined(fact(dir))
    q.collect()
    // surviving files straddle the dim's day range: their non-matching
    // records must die in the parse (the join would discard them anyway)
    assert(LwesScan.scanMetricSum(
      q.queryExecution.executedPlan, "rowsFiltered") > 0L,
      "runtime filters should reach the in-parse row filter")
  }

  test("ESF read defaults and statsPrune=false disable runtime skipping") {
    val dir = tmp()
    writeFact(dir)
    // statsPrune=false: no prune anywhere, answers unchanged
    val off = joined(fact(dir, LwesOptions.StatsPrune -> "false"))
    val offRows = off.collect()
    assert(LwesScan.scansIn(off.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L)
    // ESF defaults: a default can satisfy what the wire cannot — the
    // scan must advertise no stats-filterable columns at all
    val tdir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tdir, "t.esf"),
      "Rs::E {\n  int64 event_id;\n  int64 day = 90;\n  string value;\n}\n")
    val esf = fact(dir, "esf" -> s"$tdir/t.esf")
      .join(broadcast(dim), Seq("day"))
      .agg(count(lit(1)).as("n"))
    esf.collect()
    assert(LwesScan.scansIn(esf.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L,
      "ESF-defaulted reads must not zone-map prune")
    assert(offRows.head.getLong(0) > 400L)
  }

  test("string join keys runtime-prune too") {
    val dir = tmp()
    spark.range(3000)
      .select(col("id").as("event_id"),
        concat(lit("k"), lpad((col("id") % 300).cast("string"), 4, "0"))
          .as("key"))
      .repartitionByRange(8, col("key"))
      .sortWithinPartitions("key")
      .write.format("lwes").option("eventName", "Rs::S")
      .mode("append").save(dir)
    val sdim = spark.range(300)
      .select(concat(lit("k"), lpad(col("id").cast("string"), 4, "0"))
        .as("key"), (col("id") / 30).cast("long").as("grp"))
      .filter(col("grp") === 3).select("key") // k0090..k0119
    val q = spark.read.format("lwes")
      .schema("event_id long, key string").option("eventName", "Rs::S")
      .load(dir).join(broadcast(sdim), Seq("key"))
      .agg(count(lit(1)).as("n"))
    val n = q.collect().head.getLong(0)
    assert(n == 300L, s"30 keys x 10 rows each, got $n")
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum >= 5L)
  }
}

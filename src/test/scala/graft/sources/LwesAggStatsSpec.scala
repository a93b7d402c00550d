package graft.sources

import graft.sources.lwes.{LwesOptions, LwesScan, LwesStats}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A26×A27 — pushed aggregates answered from zone-map sidecars: an
  * ungated COUNT(*)/COUNT(col)/integral-MIN/MAX over journals written
  * by the batch writer never opens a journal at all, for ANY codec
  * (the footer fast path covered only `.zsj` COUNT/receipt-bounds).
  * Every test asserts the path taken (`eventsParsed`,
  * `filesAggFromStats`) AND result parity with the unpushed plan —
  * the shortcut must be invisible to answers. */
class LwesAggStatsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-aggst").toString

  /** Three gzip journals via the DSv2 writer (so each gets a sidecar):
    * ids [0,100) [100,200) [200,300), every 5th record omits `page`. */
  private def writeGz(dir: String): Unit = {
    import spark.implicits._
    (0 until 3).foreach { p =>
      (p * 100 until p * 100 + 100)
        .map(i => (i.toLong, if (i % 5 == 0) null else s"pg/${i % 10}", i * 1.5))
        .toDF("id", "page", "cost").repartition(1)
        .write.format("lwes").option("eventName", "Ag::E")
        .option("compression", "gzip").mode("append").save(dir)
    }
  }

  private def rd(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("id long, page string, cost double")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def metric(df: DataFrame, name: String): Long =
    LwesScan.scanMetricSum(df.queryExecution.executedPlan, name)

  /** Run `agg` pushed and unpushed; assert identical answers, return
    * the pushed frame post-execution for metric asserts. */
  private def checkParity(dir: String, agg: DataFrame => DataFrame,
      extra: (String, String)*): DataFrame = {
    val pushed = agg(rd(dir, extra: _*))
    val rows = pushed.collect().toSeq
    val plain = agg(rd(dir, (extra :+
      (LwesOptions.AggPushdown -> "false")): _*)).collect().toSeq
    assert(rows == plain, s"pushed $rows != unpushed $plain")
    pushed
  }

  test("COUNT(*)/COUNT(col)/MIN/MAX answered from sidecars: no journal opened") {
    val dir = tmp()
    writeGz(dir)
    val q = checkParity(dir, _.agg(count(lit(1)).as("n"),
      count(col("page")).as("n_pg"),
      min(col("id")).as("mn"), max(col("id")).as("mx")))
    assert(metric(q, "eventsParsed") == 0L,
      "sidecar-answered aggregate parsed events")
    assert(metric(q, "filesAggFromStats") == 3L)
    val r = q.collect().head
    assert(r.getLong(0) == 300L && r.getLong(1) == 240L &&
      r.getLong(2) == 0L && r.getLong(3) == 299L)
  }

  test("float-FROM-STRING bounds are not sidecar-exact: the whole file streams") {
    // the default writer keeps the reference's float-as-string parity:
    // the wire attr is a STRING ('s' stats) read as DoubleType — a
    // class mismatch, so the r20 'd' fast path correctly stands down
    val dir = tmp()
    writeGz(dir)
    val q = checkParity(dir, _.agg(count(lit(1)).as("n"),
      max(col("cost")).as("mx_cost")))
    assert(metric(q, "eventsParsed") == 300L)
    assert(metric(q, "filesAggFromStats") == 0L)
  }

  test("declared-type float/double MIN/MAX answer from kind-d sidecars (r20)") {
    import spark.implicits._
    val dir = tmp()
    // native double/float wire tokens via an ESF template (no defaults)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".fp.esf"),
      "Fp::A\n{\n  required int64 id;\n  double m;\n  float f;\n}\n")
    (0 until 3).foreach { p =>
      (p * 100 until p * 100 + 100)
        .map(i => (i.toLong, i * 1.5, (i * 0.25).toFloat))
        .toDF("id", "m", "f").repartition(1)
        .write.format("lwes").option("eventName", "Fp::A")
        .option(LwesOptions.Esf, s"$dir/.fp.esf")
        .option("compression", "gzip").mode("append").save(dir)
    }
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes")
        .schema("id long, m double, f float").option("eventName", "Fp::A")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    def agg(d: DataFrame) = d.agg(count(lit(1)).as("n"),
      min(col("m")).as("mn_m"), max(col("m")).as("mx_m"),
      min(col("f")).as("mn_f"), max(col("f")).as("mx_f"),
      count(col("m")).as("n_m"))
    // read without the eventName option: the ungated scan
    val pushed = agg(spark.read.format("lwes")
      .schema("id long, m double, f float").load(dir))
    val want = agg(r(LwesOptions.AggPushdown -> "false"))
    val a = pushed.collect()(0)
    val b = want.collect()(0)
    assert(a == b, s"pushed $a vs unpushed $b")
    assert(a.getDouble(1) == 0.0 && a.getDouble(2) == 299 * 1.5)
    assert(a.getFloat(3) == 0.0f && a.getFloat(4) == (299 * 0.25).toFloat)
    assert(LwesScan.scanMetricSum(pushed.queryExecution.executedPlan,
      "eventsParsed") == 0L, "kind-d sidecar answers must not parse")
    assert(LwesScan.scanMetricSum(pushed.queryExecution.executedPlan,
      "filesAggFromStats") == 3L)
    // double wire read as a FLOAT column narrows: MIN/MAX must stream
    val narrowed = spark.read.format("lwes").schema("id long, m float")
      .load(dir).agg(min(col("m")).as("mn"))
    narrowed.collect()
    assert(LwesScan.scanMetricSum(narrowed.queryExecution.executedPlan,
      "eventsParsed") == 300L,
      "double wire -> FloatType MIN must stream (no allFloat)")
  }

  test("an event-name filter gates records: sidecars stand down") {
    // every journal mixes Ag::E and Ag::O records, so the filter drops
    // records its sidecar counted (single-name journals are name-pure
    // and keep answering — LwesAggPushdownSpec's name-pure matrix)
    import spark.implicits._
    val dir = tmp()
    (0 until 3).foreach { p =>
      (p * 100 until p * 100 + 100)
        .map(i => (i.toLong, s"pg/${i % 10}", if (i % 2 == 0) "Ag::E" else "Ag::O"))
        .toDF("id", "page", "ev").repartition(1)
        .write.format("lwes").option("eventNameColumn", "ev")
        .option("compression", "gzip").mode("append").save(dir)
    }
    val q = checkParity(dir, _.agg(count(lit(1)).as("n"),
      min(col("id")).as("mn")), LwesOptions.EventName -> "Ag::E")
    assert(metric(q, "eventsParsed") == 150L)
    assert(metric(q, "filesAggFromStats") == 0L)
    assert(q.collect().head.getLong(0) == 150L)
  }

  test("string MIN/MAX answer from exact sidecar bounds, zero parses (r19)") {
    val dir = tmp()
    writeGz(dir) // sparse `page` strings, all well under the 64-byte cap
    val q = checkParity(dir, _.agg(min(col("page")).as("mn"),
      max(col("page")).as("mx"), count(col("page")).as("n")))
    val r = q.collect().head
    assert(r.getString(0) == "pg/1" && r.getString(1) == "pg/9")
    assert(metric(q, "eventsParsed") == 0L,
      "exact string bounds should answer without opening a journal")
    assert(metric(q, "filesAggFromStats") == 3L)
    // non-ASCII values answer too: the tracker stores decoded UTF-8
    // bytes, which ARE the column's read-back bytes in UTF8String order
    val dir2 = tmp()
    import spark.implicits._
    Seq("añil", "zèbre", "apple").toDF("page")
      .repartition(1).write.format("lwes").option("eventName", "Ag::U")
      .option("compression", "gzip").mode("append").save(dir2)
    val u = checkParity(dir2,
      _.agg(min(col("page")).as("mn"), max(col("page")).as("mx")))
    val ur = u.collect().head
    assert(ur.getString(0) == "apple" && ur.getString(1) == "zèbre")
    assert(metric(u, "eventsParsed") == 0L)
  }

  test("over-cap string maxima stream; truncated minima stream too") {
    val dir = tmp()
    import spark.implicits._
    val long = "z" * 100 // over MaxStrBytes: max records +inf, min stays short
    Seq("aa", long, "mm").toDF("page")
      .repartition(1).write.format("lwes").option("eventName", "Ag::L")
      .option("compression", "gzip").mode("append").save(dir)
    val q = checkParity(dir,
      _.agg(min(col("page")).as("mn"), max(col("page")).as("mx")))
    val r = q.collect().head
    assert(r.getString(0) == "aa" && r.getString(1) == long)
    // the MAX is +inf in the sidecar, so the whole file streams (the
    // all-or-nothing rule: every pushed function must answer)
    assert(metric(q, "eventsParsed") == 3L)
    // a corpus whose MINIMUM is over-long streams as well (minExact=0)
    val dir3 = tmp()
    Seq("z" * 100, "z" * 90).toDF("page")
      .repartition(1).write.format("lwes").option("eventName", "Ag::M")
      .option("compression", "gzip").mode("append").save(dir3)
    val m = checkParity(dir3, _.agg(min(col("page")).as("mn")))
    assert(m.collect().head.getString(0) == "z" * 90)
    assert(metric(m, "eventsParsed") == 2L)
  }

  test("missing and corrupt sidecars fall back per file") {
    val dir = tmp()
    // manifest off: with the r19 commit-published manifest, losing a
    // sidecar no longer loses the stats — this row pins the per-file
    // fallback in isolation
    writeGz(dir)
    val mf = new java.io.File(dir, LwesStats.ManifestName)
    assert(mf.delete(), "commit should have published a manifest")
    new java.io.File(dir, s".${LwesStats.ManifestName}.crc").delete()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val journals = fs.listStatus(new Path(dir))
      .filter(s => !s.getPath.getName.startsWith(".")).map(_.getPath).sortBy(_.getName)
    fs.delete(LwesStats.sidecarPath(journals(0)), false)
    val out = fs.create(LwesStats.sidecarPath(journals(1)), true)
    out.write("not a stats file".getBytes("UTF-8")); out.close()
    val q = checkParity(dir, _.agg(count(lit(1)).as("n"),
      max(col("id")).as("mx")))
    assert(metric(q, "filesAggFromStats") == 1L)
    assert(metric(q, "eventsParsed") == 200L) // two files streamed
    assert(q.collect().head.getLong(0) == 300L)
  }

  test("columns not backed by a wire attribute never answer from ATTR stats") {
    // the event-name column (and partition columns) has no sidecar
    // ATTR entry — a complete sidecar would wrongly count 0 without
    // the nonAttrCols guard. r20: both now answer through their OWN
    // metadata (record/name counts, path values) instead of streaming
    // — the guard's job is unchanged (attr stats stay silent), the
    // path just got cheaper and the answer identical.
    val dir = tmp()
    writeGz(dir)
    val q = spark.read.format("lwes")
      .schema("id long, etype string")
      .option(LwesOptions.EventNameColumn, "etype")
      .load(dir)
      .agg(count(col("etype")).as("n_et"), count(lit(1)).as("n"))
    val r = q.collect().head
    assert(r.getLong(0) == 300L && r.getLong(1) == 300L)
    assert(metric(q, "eventsParsed") == 0L,
      "the name column's COUNT answers from record counts (r20)")
    assert(metric(q, "filesAggFromStats") == 3L)
  }

  test("receipt MIN/MAX answered from exact .t name tags, any codec") {
    val dir = tmp()
    import spark.implicits._
    (0 until 3).foreach { p =>
      (p * 100 until p * 100 + 100)
        .map(i => (i.toLong, 1700000000000L + i * 1000L))
        .toDF("id", "ReceiptTime").repartition(1)
        .write.format("lwes").option("eventName", "Tg::E")
        .option("compression", "gzip").mode("append").save(dir)
    }
    def agg(df: DataFrame) = df.agg(count(lit(1)).as("n"),
      min(col("ReceiptTime")).as("mn_rt"), max(col("ReceiptTime")).as("mx_rt"))
    val rdT = (extra: Seq[(String, String)]) => extra.foldLeft(
      spark.read.format("lwes").schema("id long, ReceiptTime long")) {
        case (r, (k, v)) => r.option(k, v) }.load(dir)
    val pushed = agg(rdT(Nil))
    val rows = pushed.collect().toSeq
    assert(rows == agg(rdT(Seq(LwesOptions.AggPushdown -> "false")))
      .collect().toSeq)
    val r = rows.head
    assert(r.getLong(1) == 1700000000000L &&
      r.getLong(2) == 1700000000000L + 299000L)
    assert(metric(pushed, "eventsParsed") == 0L,
      "tag+sidecar-answered aggregate opened a journal")
    assert(metric(pushed, "filesAggFromStats") == 3L)
  }

  test("a NULL receipt stamps 0 in the header: tag bounds stay exact") {
    val dir = tmp()
    import spark.implicits._
    (0 until 100)
      .map(i => (i.toLong,
        if (i % 9 == 0) None else Some(1700000000000L + i * 1000L)))
      .toDF("id", "ReceiptTime").repartition(1)
      .write.format("lwes").option("eventName", "Tg::N")
      .option("compression", "gzip").mode("append").save(dir)
    def agg(df: DataFrame) = df.agg(
      min(col("ReceiptTime")).as("mn_rt"), max(col("ReceiptTime")).as("mx_rt"))
    val pushed = agg(spark.read.format("lwes")
      .schema("id long, ReceiptTime long").load(dir))
    val plain = agg(spark.read.format("lwes")
      .schema("id long, ReceiptTime long")
      .option(LwesOptions.AggPushdown, "false").load(dir))
    val (a, b) = (pushed.collect().toSeq, plain.collect().toSeq)
    assert(a == b, s"pushed $a != unpushed $b")
    assert(a.head.getLong(0) == 0L) // the stamped 0-default IS the min
    assert(metric(pushed, "eventsParsed") == 0L)
  }

  test("streaming-sink journals carry sidecars through epoch promotion") {
    val src = tmp(); val dst = tmp(); val ckpt = tmp()
    writeGz(src) // DSv2-written gzip source journals
    val q = spark.readStream.format("lwes")
      .schema("id long, page string").load(src)
      .writeStream.format("lwes")
      .option("eventName", "Ag::S")
      .option("compression", "gzip")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(dst)
    try q.processAllAvailable() finally q.stop()
    val fs = new Path(dst).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val visible = fs.listStatus(new Path(dst))
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    assert(visible.nonEmpty)
    visible.foreach { s =>
      assert(fs.exists(LwesStats.sidecarPath(s.getPath)),
        s"promoted journal ${s.getPath.getName} lacks its sidecar")
    }
    // attribute bounds are NOT footer-answerable: zero parses proves
    // the sidecars (not `.zsj` footers) answered
    val agg = spark.read.format("lwes").schema("id long, page string")
      .load(dst)
      .agg(count(lit(1)).as("n"), count(col("page")).as("n_pg"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
    val r = agg.collect().head
    assert(r.getLong(0) == 300L && r.getLong(1) == 240L &&
      r.getLong(2) == 0L && r.getLong(3) == 299L)
    assert(metric(agg, "eventsParsed") == 0L)
    assert(metric(agg, "filesAggFromStats") == visible.length.toLong)
    // and pushed predicates prune the streamed files at plan time
    val pruned = spark.read.format("lwes").schema("id long, page string")
      .load(dst).filter(col("id") < 0)
    assert(pruned.collect().isEmpty)
    assert(LwesScan.scansIn(pruned.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == visible.length.toLong)
    // r19: the epoch commit also refreshed the directory STATS manifest
    // — prove it answers alone by deleting every per-file sidecar
    assert(new java.io.File(dst, LwesStats.ManifestName).isFile,
      "epoch commit should publish the stats manifest")
    visible.foreach(s => fs.delete(LwesStats.sidecarPath(s.getPath), false))
    LwesStats.clearManifestCacheForTesting()
    val viaManifest = spark.read.format("lwes").schema("id long, page string")
      .load(dst).agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val vr = viaManifest.collect().head
    assert(vr.getLong(0) == 300L && vr.getLong(1) == 299L)
    assert(metric(viaManifest, "eventsParsed") == 0L,
      "manifest entries from the epoch commit should answer alone")
  }

  test("attr absent from a COMPLETE sidecar answers COUNT 0 / all-NULL bounds") {
    val dir = tmp()
    writeGz(dir)
    val q = spark.read.format("lwes")
      .schema("id long, nope long")
      .load(dir)
      .agg(count(col("nope")).as("n_nope"), min(col("nope")).as("mn_nope"),
        count(lit(1)).as("n"))
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1) && r.getLong(2) == 300L)
    assert(metric(q, "eventsParsed") == 0L,
      "absence proof should not require opening journals")
    assert(metric(q, "filesAggFromStats") == 3L)
  }

  // ------------------------------------------------- A26×A31 (frames)

  /** One fat id-sorted `.zsj`, small frames, read with a small split
    * target so the scan plans many RANGE slices — the shape the
    * whole-file sidecar path cannot answer. */
  private def writeFatSplit(dir: String): Unit = {
    spark.range(6000)
      .select(col("id"), (col("id") % 7).cast("double").as("cost"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 10)
          .cast("long").as("grp"))
      .repartition(1).sortWithinPartitions("id")
      .write.format("lwes").option("eventName", "Ag::F")
      .option(LwesOptions.Compression, "split-zstd")
      .option(LwesOptions.SplitFrameBytes, "8192")
      .mode("append").save(dir)
  }

  private def rdFat(dir: String, extra: (String, String)*): DataFrame = {
    // no eventName option: the ungated frame paths (a name filter
    // keeps them only for frames whose blobs prove the names pure)
    val base = spark.read.format("lwes")
      .schema("id long, cost double, grp long")
      .option(LwesOptions.SplitTargetBytes, "8192")
      // these tests pin the FRAME-grain (range-slice) paths; complete
      // mode would answer from whole-file sidecars in one partition
      .option(LwesOptions.CompleteAggPushdown, "false")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  test("range slices of a fat .zsj answer attr aggregates from frame stats") {
    val dir = tmp()
    writeFatSplit(dir)
    def agg(df: DataFrame) = df.agg(count(lit(1)).as("n"),
      count(col("grp")).as("n_grp"),
      min(col("id")).as("mn"), max(col("id")).as("mx"),
      min(col("grp")).as("mn_g"), max(col("grp")).as("mx_g"))
    val pushed = agg(rdFat(dir))
    val rows = pushed.collect().toSeq
    val plain = agg(rdFat(dir, LwesOptions.AggPushdown -> "false"))
      .collect().toSeq
    assert(rows == plain, s"pushed $rows != unpushed $plain")
    assert(metric(pushed, "eventsParsed") == 0L,
      "frame-stats-answered aggregate parsed events")
    assert(metric(pushed, "framesAggFromStats") > 1L,
      "expected multiple frames answered from GSJ2 stats")
    assert(metric(pushed, "filesAggFromStats") == 0L,
      "range slices must not take the whole-file sidecar path")
    val r = rows.head
    assert(r.getLong(0) == 6000L && r.getLong(1) == 4800L &&
      r.getLong(2) == 0L && r.getLong(3) == 5999L &&
      r.getLong(4) == 1L && r.getLong(5) == 9L)
  }

  test("stats-less GSJ1 fat files stream their slices, same answer") {
    val dir = tmp()
    spark.range(6000)
      .select(col("id"), (col("id") % 7).cast("double").as("cost"),
        (col("id") % 10).as("grp"))
      .repartition(1).sortWithinPartitions("id")
      .write.format("lwes").option("eventName", "Ag::F")
      .option(LwesOptions.Compression, "split-zstd")
      .option(LwesOptions.SplitFrameBytes, "8192")
      .option(LwesOptions.WriteStats, "false")
      .mode("append").save(dir)
    val q = rdFat(dir).agg(min(col("grp")).as("mn"), max(col("id")).as("mx"),
      count(lit(1)).as("n"))
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 5999L && r.getLong(2) == 6000L)
    assert(metric(q, "framesAggFromStats") == 0L)
    assert(metric(q, "eventsParsed") == 6000L, "GSJ1 slices must stream")
  }

  test("float attribute bounds keep streaming even with frame stats present") {
    val dir = tmp()
    writeFatSplit(dir)
    // `cost` rides the wire as a double: kind 'x', never answerable —
    // the all-or-nothing rule must stream rather than half-answer
    val q = rdFat(dir).agg(min(col("cost")).as("mn"), count(lit(1)).as("n"))
    val r = q.collect().head
    assert(r.getDouble(0) == 0.0 && r.getLong(1) == 6000L)
    assert(metric(q, "framesAggFromStats") == 0L)
    assert(metric(q, "eventsParsed") == 6000L)
  }

  test("MIN/MAX/COUNT over a partition column answer from the listing (r20)") {
    import spark.implicits._
    val dir = tmp()
    Seq("d0", "d1", "d2").zipWithIndex.foreach { case (d, p) =>
      (p * 100 until p * 100 + 100).map(i => (i.toLong, d))
        .toDF("id", "dt").repartition(1)
        .write.format("lwes").option("eventName", "Pc::E")
        .option("compression", "gzip")
        .option("partitionBy", "dt").mode("append").save(dir)
    }
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, dt string")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    def agg(d: DataFrame) = d.agg(min(col("dt")).as("mn"),
      max(col("dt")).as("mx"), count(col("dt")).as("nd"),
      count(lit(1)).as("n"), max(col("id")).as("mxid"))
    val q = agg(r())
    val rows = q.collect().toSeq
    assert(rows == agg(r(LwesOptions.AggPushdown -> "false")).collect().toSeq)
    val row = rows.head
    assert(row.getString(0) == "d0" && row.getString(1) == "d2" &&
      row.getLong(2) == 300L && row.getLong(3) == 300L &&
      row.getLong(4) == 299L)
    assert(metric(q, "eventsParsed") == 0L,
      "partition-column aggregate parsed events")
    assert(metric(q, "filesAggFromStats") == 3L)
    // and the complete probe accepts the shape: single-stage plan
    val ps = q.queryExecution.executedPlan.toString
    assert(ps.contains(" complete") && !ps.contains("HashAggregate") &&
      !ps.contains("Exchange"), ps)
  }

  test("a file missing a partition key reads NULL: bounds/counts agree (r20)") {
    import spark.implicits._
    val dir = tmp()
    // dt=dX everywhere; hr= only under d0 — d1's file has no hr key,
    // so its rows read hr = NULL on BOTH the row path and the
    // metadata path (COUNT excludes them, MIN/MAX ignore them)
    (0 until 100).map(i => (i.toLong, "d0", "h1")).toDF("id", "dt", "hr")
      .repartition(1).write.format("lwes").option("eventName", "Pm::E")
      .option("partitionBy", "dt,hr").mode("append").save(dir)
    (100 until 200).map(i => (i.toLong, "d1")).toDF("id", "dt")
      .repartition(1).write.format("lwes").option("eventName", "Pm::E")
      .option("partitionBy", "dt").mode("append").save(dir)
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, dt string, hr string")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    def agg(d: DataFrame) = d.agg(count(col("hr")).as("nh"),
      min(col("hr")).as("mnh"), max(col("hr")).as("mxh"),
      min(col("dt")).as("mnd"), count(lit(1)).as("n"))
    val q = agg(r())
    val rows = q.collect().toSeq
    assert(rows == agg(r(LwesOptions.AggPushdown -> "false")).collect().toSeq)
    val row = rows.head
    assert(row.getLong(0) == 100L && row.getString(1) == "h1" &&
      row.getString(2) == "h1" && row.getString(3) == "d0" &&
      row.getLong(4) == 200L)
    assert(metric(q, "eventsParsed") == 0L)
  }

  test("GROUP BY partition col + bounds of ANOTHER partition col (r20)") {
    import spark.implicits._
    val dir = tmp()
    // two-level layout: dt={d0,d1} x hr={h0,h1}, 50 rows per leaf
    for (d <- Seq("d0", "d1"); h <- Seq("h0", "h1"))
      (0 until 50).map(i => (i.toLong, d, h)).toDF("id", "dt", "hr")
        .repartition(1).write.format("lwes").option("eventName", "Pg::E")
        .option("partitionBy", "dt,hr").mode("append").save(dir)
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes")
        .schema("id long, dt string, hr string")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    def agg(d: DataFrame) = d.groupBy(col("dt"))
      .agg(min(col("hr")).as("mnh"), max(col("hr")).as("mxh"),
        count(col("hr")).as("nh"), count(lit(1)).as("n"))
      .orderBy(col("dt"))
    val q = agg(r())
    val rows = q.collect().toSeq
    assert(rows == agg(r(LwesOptions.AggPushdown -> "false")).collect().toSeq)
    assert(rows.map(x => (x.getString(0), x.getString(1), x.getString(2),
      x.getLong(3), x.getLong(4))) ==
      Seq(("d0", "h0", "h1", 100L, 100L), ("d1", "h0", "h1", 100L, 100L)))
    assert(metric(q, "eventsParsed") == 0L,
      "grouped partition-bound aggregate parsed events")
  }

  test("MIN/MAX/COUNT over the event-name column answer from name counts (r20)") {
    import spark.implicits._
    val dir = tmp()
    (0 until 300).map(i => (i.toLong, s"Ev::T${i % 5}")).toDF("id", "ev")
      .repartition(1).write.format("lwes").option("eventNameColumn", "ev")
      .option("compression", "gzip").mode("append").save(dir)
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, ev string")
        .option("eventNameColumn", "ev")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    def agg(d: DataFrame) = d.agg(min(col("ev")).as("mn"),
      max(col("ev")).as("mx"), count(col("ev")).as("ne"),
      count(lit(1)).as("n"))
    val q = agg(r())
    val rows = q.collect().toSeq
    assert(rows == agg(r(LwesOptions.AggPushdown -> "false")).collect().toSeq)
    val row = rows.head
    assert(row.getString(0) == "Ev::T0" && row.getString(1) == "Ev::T4" &&
      row.getLong(2) == 300L && row.getLong(3) == 300L)
    assert(metric(q, "eventsParsed") == 0L,
      "name-count-answered aggregate parsed events")
    // a journal past the MaxNames cap (namesComplete=false) streams —
    // same answer, never a wrong bound from capped counts
    val dir2 = tmp()
    (0 until 200).map(i => (i.toLong, s"Ev::N$i")).toDF("id", "ev")
      .repartition(1).write.format("lwes").option("eventNameColumn", "ev")
      .option("compression", "gzip").mode("append").save(dir2)
    def r2(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, ev string")
        .option("eventNameColumn", "ev")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir2)
    }
    val q2 = agg(r2())
    val rows2 = q2.collect().toSeq
    assert(rows2 == agg(r2(LwesOptions.AggPushdown -> "false")).collect().toSeq)
    assert(rows2.head.getString(0) == "Ev::N0" &&
      rows2.head.getString(1) == "Ev::N99")
    assert(metric(q2, "eventsParsed") > 0L,
      "capped name stats must stream, not answer")
    // a hand-edited sidecar listing a ZERO-count name passes the
    // reconcile (the zero adds nothing to the sum) but must not
    // surface a value no record reads — zero-count entries are
    // excluded from the bounds, like mergeNameCounts excludes them
    // from groups
    val dir3 = tmp()
    (0 until 100).map(i => (i.toLong, s"Ev::Z${i % 2}")).toDF("id", "ev")
      .repartition(1).write.format("lwes").option("eventNameColumn", "ev")
      .mode("append").save(dir3)
    val side = new java.io.File(dir3).listFiles()
      .find(_.getName.endsWith(".stats")).get
    val text = new String(java.nio.file.Files.readAllBytes(side.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val edited = text.replaceFirst("(?m)^e=", "e=Aaa n=0\ne=")
    java.nio.file.Files.write(side.toPath,
      edited.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the batch commit also published a directory manifest, which
    // would shadow the edited sidecar — remove it so the read
    // consults the per-file sidecar
    new java.io.File(dir3, LwesStats.ManifestName).delete()
    def r3(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, ev string")
        .option("eventNameColumn", "ev")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir3)
    }
    val q3 = r3().agg(min(col("ev")).as("mn"), max(col("ev")).as("mx"))
    val r3row = q3.collect().head
    assert(r3row.getString(0) == "Ev::Z0" && r3row.getString(1) == "Ev::Z1",
      s"zero-count phantom name leaked into bounds: $r3row")
    assert(metric(q3, "eventsParsed") == 0L,
      "the edited sidecar must still answer (guard, not parse failure)")
  }
}

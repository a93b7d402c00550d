package graft.sources

import graft.sources.lwes.{LwesOptions, LwesScan, LwesStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A27 — attribute zone-map sidecars: batch writes drop a hidden
  * `.<journal>.stats` file; pushed attribute predicates then prune
  * whole journals at plan time. Every test asserts BOTH the prune
  * count and result parity with the unpruned plan — pruning must be
  * invisible to answers. */
class LwesStatsPruneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-stats").toString

  /** Three disjoint-range files: ids [0,100), [100,200), [200,300);
    * pages "a..", "m..", "z.." respectively. `manifest = false` writes
    * sidecars only — for rows that test the per-file path in isolation
    * (with the default commit-published manifest, losing a sidecar no
    * longer loses the stats). */
  private def writeRanged(dir: String, manifest: Boolean = true): Unit = {
    import spark.implicits._
    Seq(("a", 0), ("m", 100), ("z", 200)).foreach { case (p, base) =>
      (base until base + 100).map(i => (i.toLong, s"$p/${i % 10}", i * 1.5))
        .toDF("id", "page", "cost").repartition(1)
        .write.format("lwes").option("eventName", "St::E")
        .option(LwesOptions.StatsManifest, manifest.toString)
        .mode("append").save(dir)
    }
  }

  private def rd(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("id long, page string, cost double")
      .option("eventName", "St::E")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def prunedOf(df: DataFrame): Long = {
    df.collect() // force planning+execution
    LwesScan.scansIn(df.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum
  }

  private def parity(dir: String, f: DataFrame => DataFrame): Unit = {
    val a = f(rd(dir)).orderBy("id").collect()
    val b = f(rd(dir, LwesOptions.StatsPrune -> "false")).orderBy("id").collect()
    assert(a.sameElements(b), "pruned and unpruned answers diverged")
  }

  test("integral range predicates prune whole files from sidecar stats") {
    val dir = tmp()
    writeRanged(dir)
    val q = rd(dir).filter(col("id") < 100)
    assert(q.collect().length == 100)
    assert(prunedOf(rd(dir).filter(col("id") < 100)) == 2L)
    assert(prunedOf(rd(dir).filter(col("id") >= 250)) == 2L)
    assert(prunedOf(rd(dir).filter(col("id") === 150L)) == 2L)
    assert(prunedOf(rd(dir).filter(col("id").isin(5L, 7L))) == 2L)
    parity(dir, _.filter(col("id") < 100))
    parity(dir, _.filter(col("id") === 150L))
  }

  test("string equality / range / prefix predicates prune files") {
    val dir = tmp()
    writeRanged(dir)
    assert(prunedOf(rd(dir).filter(col("page") === "m/5")) == 2L)
    assert(prunedOf(rd(dir).filter(col("page") > "n")) == 2L)
    assert(prunedOf(rd(dir).filter(col("page").startsWith("z/"))) == 2L)
    assert(prunedOf(rd(dir).filter(col("page").isin("a/1", "a/2"))) == 2L)
    parity(dir, _.filter(col("page") === "m/5"))
    parity(dir, _.filter(col("page").startsWith("z/")))
  }

  /** Three files with disjoint DOUBLE wire ranges (via an ESF template
    * declaring native float/double tokens — the default writer keeps
    * the reference's float-as-string parity, which stats 's'-class):
    * m in [0,100), [100,200), [200,300); f = m as float. */
  private def writeFpRanged(dir: String): Unit = {
    import spark.implicits._
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".fp.esf"),
      "Fp::E\n{\n  required int64 id;\n  double m;\n  float f;\n}\n")
    Seq(0, 100, 200).foreach { base =>
      (base until base + 100)
        .map(i => (i.toLong, i.toDouble + 0.5, (i.toFloat + 0.5f)))
        .toDF("id", "m", "f").repartition(1)
        .write.format("lwes").option("eventName", "Fp::E")
        .option(LwesOptions.Esf, s"$dir/.fp.esf")
        .mode("append").save(dir)
    }
  }

  private def rdFp(dir: String, extra: (String, String)*): DataFrame = {
    // read WITHOUT the template: declared-type wire tokens need no ESF
    // on the read side, and template defaults would disable pruning
    val base = spark.read.format("lwes")
      .schema("id long, m double, f float")
      .option("eventName", "Fp::E")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def fpPruned(df: DataFrame): Long = {
    df.collect()
    LwesScan.scansIn(df.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum
  }

  private def fpParity(dir: String, f: DataFrame => DataFrame): Unit = {
    val a = f(rdFp(dir)).orderBy("id").collect()
    val b = f(rdFp(dir, LwesOptions.StatsPrune -> "false")).orderBy("id").collect()
    assert(a.sameElements(b), "pruned and unpruned answers diverged")
  }

  test("float/double range predicates prune whole files (kind-d sidecars, r20)") {
    val dir = tmp()
    writeFpRanged(dir)
    assert(fpPruned(rdFp(dir).filter(col("m") < 100.0)) == 2L)
    assert(fpPruned(rdFp(dir).filter(col("m") >= 250.0)) == 2L)
    assert(fpPruned(rdFp(dir).filter(col("m") === 150.5)) == 2L)
    assert(fpPruned(rdFp(dir).filter(col("m").isin(5.5, 7.5))) == 2L)
    // FloatType column over FLOAT wire values (allFloat) prunes too
    assert(fpPruned(rdFp(dir).filter(col("f") < 100.0f)) == 2L)
    fpParity(dir, _.filter(col("m") < 100.0))
    fpParity(dir, _.filter(col("m") === 150.5))
    fpParity(dir, _.filter(col("f") < 100.0f))
  }

  test("float zone maps: NaN is greatest and ±0.0 are equal (Spark order)") {
    import spark.implicits._
    val dir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".fp.esf"),
      "Fp::N\n{\n  required int64 id;\n  double m;\n}\n")
    def write(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "m").repartition(1)
        .write.format("lwes").option("eventName", "Fp::N")
        .option(LwesOptions.Esf, s"$dir/.fp.esf").mode("append").save(dir)
    write(Seq((1L, 1.0), (2L, Double.NaN))) // NaN file: bounds [1, NaN]
    write(Seq((3L, -0.0)))                  // negative-zero file
    write(Seq((4L, -50.0), (5L, -10.0)))    // plainly negative file
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, m double")
        .option("eventName", "Fp::N")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    // m > 1e9 matches ONLY the NaN row (NaN > x is TRUE in Spark's
    // order): the NaN file must survive pruning, the other two drop
    val gtHuge = r().filter(col("m") > 1e9)
    assert(gtHuge.collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(LwesScan.scansIn(gtHuge.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 2L,
      "NaN bounds must keep their file for a > predicate")
    // m = 0.0 matches the -0.0 row (±0.0 EQUAL in Spark comparisons):
    // the -0.0 file must survive an EqualTo(0.0) prune
    val eqZero = r().filter(col("m") === 0.0)
    assert(eqZero.collect().map(_.getLong(0)).toSeq == Seq(3L))
    val eqZeroUnpruned = r(LwesOptions.StatsPrune -> "false")
      .filter(col("m") === 0.0).collect().map(_.getLong(0)).toSeq
    assert(eqZeroUnpruned == Seq(3L))
    // and the all-negative file is prunable under it
    assert(LwesScan.scansIn(eqZero.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum >= 1L)
  }

  test("double wire values keep FloatType-column predicates unpruned (no allFloat)") {
    import spark.implicits._
    val dir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".fp.esf"),
      "Fp::W\n{\n  required int64 id;\n  double m;\n}\n")
    (0 until 50).map(i => (i.toLong, i.toDouble)).toDF("id", "m")
      .repartition(1).write.format("lwes").option("eventName", "Fp::W")
      .option(LwesOptions.Esf, s"$dir/.fp.esf").mode("append").save(dir)
    // reading the DOUBLE wire attr as a FLOAT column narrows per value:
    // stats must refuse to prune (allFloat=false), like the integral
    // narrowing rule
    val q = spark.read.format("lwes").schema("id long, m float")
      .option("eventName", "Fp::W").load(dir).filter(col("m") > 100.0f)
    assert(q.collect().isEmpty)
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L,
      "double wire -> FloatType column must not prune")
    // the same attr read at its own width DOES prune
    val q2 = spark.read.format("lwes").schema("id long, m double")
      .option("eventName", "Fp::W").load(dir).filter(col("m") > 100.0)
    assert(q2.collect().isEmpty)
    assert(LwesScan.scansIn(q2.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 1L)
  }

  test("a COMPLETE sidecar lacking the attribute prunes the file") {
    import spark.implicits._
    val dir = tmp()
    (0 until 50).map(i => (i.toLong, i.toLong)).toDF("id", "extra")
      .repartition(1).write.format("lwes").option("eventName", "St::E")
      .mode("append").save(dir)
    (100 until 150).map(i => Tuple1(i.toLong)).toDF("id")
      .repartition(1).write.format("lwes").option("eventName", "St::E")
      .mode("append").save(dir)
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes")
        .schema("id long, extra long").option("eventName", "St::E")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    // the attr-less file cannot satisfy any null-rejecting predicate
    val q = r().filter(col("extra").isNotNull)
    assert(q.collect().length == 50)
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 1L)
    val a = r().filter(col("extra") === 7L).collect()
    val b = r(LwesOptions.StatsPrune -> "false")
      .filter(col("extra") === 7L).collect()
    assert(a.sameElements(b) && a.length == 1)
  }

  test("deleted or corrupted sidecars keep their files (no pruning)") {
    val dir = tmp()
    writeRanged(dir, manifest = false) // isolate the per-file path
    val d = new java.io.File(dir)
    val sidecars = d.listFiles().filter(_.getName.endsWith(".stats"))
    assert(sidecars.length == 3, "expected one sidecar per journal")
    // corrupt one, delete another
    java.nio.file.Files.writeString(sidecars(0).toPath, "not a sidecar")
    assert(sidecars(1).delete())
    val q = rd(dir).filter(col("id") < 100)
    assert(q.collect().length == 100)
    val pruned = LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum
    assert(pruned <= 1L, s"only the intact sidecar may prune (got $pruned)")
    parity(dir, _.filter(col("id") < 100))
  }

  test("writeStats=false writes no sidecars; statsPrune=false reads none") {
    val dir = tmp()
    import spark.implicits._
    (0 until 50).map(i => (i.toLong, s"p$i", 1.0)).toDF("id", "page", "cost")
      .repartition(1).write.format("lwes").option("eventName", "St::E")
      .option(LwesOptions.WriteStats, "false").mode("append").save(dir)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".stats")))
    assert(rd(dir).filter(col("id") < 10).collect().length == 10)
    val dir2 = tmp()
    writeRanged(dir2)
    assert(prunedOf(rd(dir2, LwesOptions.StatsPrune -> "false")
      .filter(col("id") < 100)) == 0L)
  }

  test("non-ASCII strings prune on UTF-8 records, stay guarded on Latin-1 (r20 u8)") {
    import spark.implicits._
    // UTF-8 journal (the default charset): stored UTF-8 bounds ARE the
    // read-back bytes, so non-ASCII values prune since r20 (the r19
    // ASCII-only guard lifted where it is provably sound)
    val dir = tmp()
    (0 until 50).map(i => (i.toLong, if (i == 0) "café" else s"b$i"))
      .toDF("id", "page").repartition(1)
      .write.format("lwes").option("eventName", "St::E").mode("append").save(dir)
    def q(d: String, enc: Option[String], lit: String) = {
      val base = spark.read.format("lwes").schema("id long, page string")
        .option("eventName", "St::E")
      enc.foldLeft(base)((b, e) => b.option(LwesOptions.StringEncoding, e))
        .load(d).filter(col("page") === lit)
    }
    val utf = q(dir, None, "zzz") // above every stored byte-bound
    assert(utf.collect().isEmpty)
    assert(LwesScan.scansIn(utf.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 1L,
      "non-ASCII UTF-8 values must prune since r20 (u8 flag)")
    // literal BETWEEN the bounds must keep the file (and match rows)
    val mid = q(dir, None, "café")
    assert(mid.collect().map(_.getLong(0)).toSeq == Seq(0L))
    // Latin-1 journal: the conservative ASCII-only guard stays — the
    // same non-ASCII corpus written with stringEncoding=ISO-8859-1
    // must NOT prune
    val dirL = tmp()
    (0 until 50).map(i => (i.toLong, if (i == 0) "café" else s"b$i"))
      .toDF("id", "page").repartition(1)
      .write.format("lwes").option("eventName", "St::E")
      .option(LwesOptions.StringEncoding, "ISO-8859-1")
      .mode("append").save(dirL)
    val lat = q(dirL, None, "zzz")
    assert(lat.collect().isEmpty)
    assert(LwesScan.scansIn(lat.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L,
      "a non-ASCII value in a Latin-1 record must keep the guard")
  }

  test("ESF read defaults disable zone-map pruning (defaults satisfy predicates)") {
    import spark.implicits._
    val dir = tmp()
    // journal rows NEVER carry `bonus`; the read-side template defaults
    // it to 42 — a zone map would call the file impossible for
    // bonus = 42 and silently drop every row
    (0 until 30).map(i => Tuple1(i.toLong)).toDF("id")
      .repartition(1).write.format("lwes").option("eventName", "St::E")
      .mode("append").save(dir)
    val tdir = tmp()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tdir, "t.esf"),
      "St::E {\n  int64 id;\n  int64 bonus = 42;\n}\n")
    val q = spark.read.format("lwes").schema("id long, bonus long")
      .option("eventName", "St::E").option("esf", s"$tdir/t.esf").load(dir)
      .filter(col("bonus") === 42L)
    assert(q.collect().length == 30,
      "default-filled rows must survive the pushed predicate")
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L)
  }

  test("narrowing reads keep files whose stats overflow the column type") {
    import spark.implicits._
    val dir = tmp()
    // int64 attr with values far beyond Int range; read into an INT
    // column — stats min/max cannot speak for the narrowed values
    (0 until 20).map(i => (i.toLong, (1L << 40) + i)).toDF("id", "big")
      .repartition(1).write.format("lwes").option("eventName", "St::E")
      .mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, big int")
      .option("eventName", "St::E").load(dir).filter(col("big") < 10)
    q.collect() // whatever the narrowing yields, pruning must not engage
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L)
  }

  test("compaction carries sidecars across the rewrite") {
    val dir = tmp()
    writeRanged(dir)
    graft.sources.lwes.Compact.compact(spark, dir, targetFiles = 1)
    assert(new java.io.File(dir).listFiles()
      .exists(f => f.getName.startsWith(".compact-") &&
        f.getName.endsWith(".stats")),
      "compacted journal should keep a zone-map sidecar")
    // r19 merge-on-compact: the directory manifest exists and covers
    // the compacted journal
    assert(new java.io.File(dir, LwesStats.ManifestName).isFile,
      "compaction should publish the per-directory stats manifest")
    val q = rd(dir).filter(col("id") < 100)
    assert(q.collect().length == 100)
    parity(dir, _.filter(col("id") < 100))
  }

  test("manifest-only directory: pruning and aggregates survive sidecar loss") {
    // the r19 manifest is primary: consolidate, then DELETE every
    // per-file sidecar — plan-time pruning and the A26 sidecar-answered
    // aggregate must keep working through the manifest alone (one read
    // per directory instead of a GET per file)
    val dir = tmp()
    writeRanged(dir)
    val hconf = spark.sessionState.newHadoopConf()
    val n = LwesStats.writeManifest(new org.apache.hadoop.fs.Path(dir), hconf)
    assert(n == 3, s"manifest entries: $n")
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".stats"))
      .foreach(f => assert(f.delete()))
    LwesStats.clearManifestCacheForTesting()
    // plan-time prune through the manifest
    assert(prunedOf(rd(dir).filter(col("id") < 100)) == 2L)
    parity(dir, _.filter(col("id") < 100))
    // pushed aggregate answered from manifest entries, zero parses
    // (no eventName option: a name filter gates record admission and
    // correctly forces the streamed fold — A26 contract)
    val agg = spark.read.format("lwes")
      .schema("id long, page string, cost double").load(dir)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"),
      max(col("id")).as("mx"))
    val r = agg.collect()(0)
    assert(r.getLong(0) == 300L && r.getLong(1) == 0L && r.getLong(2) == 299L)
    val plan = agg.queryExecution.executedPlan
    assert(LwesScan.scanMetricSum(plan, "eventsParsed") == 0L,
      "manifest-backed aggregate should parse nothing")
    assert(LwesScan.scanMetricSum(plan, "filesAggFromStats") == 3L)
  }

  test("a failed manifest read is not cached: the next scan retries") {
    // regression (r20 advisory): manifestEntries used to pin Map.empty
    // in the JVM-lifetime cache on ANY read failure — a transient IO
    // error (or racing the delete+rename publish window) permanently
    // disabled stats answering for the directory; in manifest-only
    // dirs that meant streaming every scan for the process lifetime
    val dir = tmp()
    writeRanged(dir)
    val hpath = new org.apache.hadoop.fs.Path(dir)
    val hconf = spark.sessionState.newHadoopConf()
    assert(LwesStats.writeManifest(hpath, hconf) == 3)
    // go manifest-only
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".stats"))
      .foreach(f => assert(f.delete()))
    val journal = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .head
    val mf = new java.io.File(dir, LwesStats.ManifestName)
    val mfBytes = java.nio.file.Files.readAllBytes(mf.toPath)
    assert(mf.delete())
    LwesStats.clearManifestCacheForTesting()
    // read while the manifest is GONE (the publish window): no stats —
    // and, critically, no poisoned cache entry
    val during = LwesStats.read(
      new org.apache.hadoop.fs.Path(journal.getPath), hconf,
      journal.length(), manifestHint = true, sidecarHint = false)
    assert(during.isEmpty)
    // manifest republished: the SAME JVM must see it on the next read
    java.nio.file.Files.write(mf.toPath, mfBytes)
    val after = LwesStats.read(
      new org.apache.hadoop.fs.Path(journal.getPath), hconf,
      journal.length(), manifestHint = true, sidecarHint = false)
    assert(after.isDefined,
      "a failed manifest read must not poison the cache for the JVM")
  }

  test("batch commits publish the manifest incrementally: no writeManifest call") {
    // r19: each append's driver commit merges its sidecar texts into
    // the directory manifest (one read + one write, no listing), so
    // coverage starts at the FIRST write — prove it by deleting every
    // per-file sidecar and pruning through the commit-built manifest
    val dir = tmp()
    writeRanged(dir) // three separate appends = three commit merges
    assert(new java.io.File(dir, LwesStats.ManifestName).isFile,
      "batch commit should publish the stats manifest")
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".stats"))
      .foreach(f => assert(f.delete()))
    LwesStats.clearManifestCacheForTesting()
    assert(prunedOf(rd(dir).filter(col("id") < 100)) == 2L)
    parity(dir, _.filter(col("id") < 100))
    // opting out leaves no manifest behind
    val off = tmp()
    import spark.implicits._
    (0 until 10).map(i => (i.toLong, "x", 1.0)).toDF("id", "page", "cost")
      .write.format("lwes").option("eventName", "St::E")
      .option(LwesOptions.StatsManifest, "false").mode("append").save(off)
    assert(!new java.io.File(off, LwesStats.ManifestName).exists)
  }

  test("stale manifest entry falls back to the per-file sidecar") {
    val dir = tmp()
    writeRanged(dir)
    val hconf = spark.sessionState.newHadoopConf()
    LwesStats.writeManifest(new org.apache.hadoop.fs.Path(dir), hconf)
    // REPLACE one journal with different content (new length + fresh
    // sidecar) without rebuilding the manifest: its manifest entry is
    // now length-stale and must be ignored in favor of the sidecar.
    // Pick the [200,300) file so the id<100 expectations below stay
    // deterministic regardless of listing order.
    val victim = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .find { f =>
        LwesStats.read(new org.apache.hadoop.fs.Path(f.getPath), hconf,
            f.length())
          .exists(st => st.attrs.get("id").exists(_.minL >= 200))
      }.get
    import spark.implicits._
    val sub = java.nio.file.Files.createTempDirectory("re").toString
    (1000 until 1150).map(i => (i.toLong, s"q/${i % 10}", i * 1.5))
      .toDF("id", "page", "cost").repartition(1)
      .write.format("lwes").option("eventName", "St::E")
      .mode("append").save(sub)
    val fresh = new java.io.File(sub).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".")).head
    assert(victim.delete())
    new java.io.File(dir, s".${victim.getName}.stats").delete()
    // RawLocalFileSystem keeps .crc twins; stale ones would fail reads
    // of the replaced content with a checksum error
    new java.io.File(dir, s".${victim.getName}.crc").delete()
    new java.io.File(dir, s"..${victim.getName}.stats.crc").delete()
    java.nio.file.Files.copy(fresh.toPath,
      new java.io.File(dir, victim.getName).toPath)
    java.nio.file.Files.copy(
      new java.io.File(sub, s".${fresh.getName}.stats").toPath,
      new java.io.File(dir, s".${victim.getName}.stats").toPath)
    LwesStats.clearManifestCacheForTesting()
    // the replaced file's range is [1000,1150): an id<100 scan must
    // still prune it — via its FRESH per-file sidecar, not the stale
    // manifest entry (which, were it trusted, describes the old range
    // and would KEEP the file for ids < 100)
    val got = rd(dir).filter(col("id") < 100).collect()
    assert(got.length == 100)
    assert(prunedOf(rd(dir).filter(col("id") < 100)) == 2L)
    // and a full count must see the new content exactly
    assert(rd(dir).count() == 350L)
  }

  test("the listing proves sidecar absence: bare dirs never pay a GET") {
    import graft.sources.lwes.LwesInputPartition
    def flags(dir: String): Seq[Boolean] = {
      val df = rd(dir).filter(col("id") < 0)
      df.collect()
      LwesScan.scansIn(df.queryExecution.executedPlan)
        .flatMap(_.planInputPartitions().toSeq).flatMap {
          case p: LwesInputPartition => Seq(p)
          case m: graft.sources.lwes.LwesFilesPartition => m.files
        }.map(_.hasStats)
    }
    // raw-writer journals (no sidecars): every planned partition knows
    // from the LISTING that no sidecar exists — statsPrune costs zero
    // extra requests on foreign/bare directories
    val bare = tmp()
    (0 until 3).foreach { i =>
      val w = graft.lwes.JournalWriter.create(s"$bare/j$i.gz")
      w.write(graft.lwes.LwesEvent("St::E").setInt64("id", i.toLong)
        .setString("page", "x").setDouble("cost", 1.0))
      w.close()
    }
    val bf = flags(bare)
    assert(bf.nonEmpty && bf.forall(_ == false), s"bare-dir flags: $bf")
    // DSv2-written journals: flags are true and files actually prune
    val rich = tmp()
    writeRanged(rich)
    val q = rd(rich).filter(col("id") < 0)
    assert(q.collect().isEmpty)
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 3L)
  }

  test("over the placement cap, pruning defers to executor-side skims") {
    val dir = tmp()
    // manifest off: a manifest-covered candidate never defers (its
    // plan-time cost is one read per dir) — this row pins the
    // manifest-LESS over-cap placement
    writeRanged(dir, manifest = false)
    // cap 0 < 3 candidates: the driver plans every file (no sidecar
    // wave, statsPrunedFileCount stays 0) and each task skims its own
    // files — same files skipped, reported under the same metric name
    val df = rd(dir, LwesOptions.StatsPruneMaxFiles -> "0")
      .filter(col("id") < 0)
    assert(df.collect().isEmpty)
    assert(LwesScan.scansIn(df.queryExecution.executedPlan)
      .map(_.statsPrunedFileCount).sum == 0L,
      "over the cap the DRIVER must not have pruned")
    assert(LwesScan.scanMetricSum(df.queryExecution.executedPlan,
      "filesPrunedByStats") == 3L, "executor skim")
    assert(LwesScan.scanMetricSum(df.queryExecution.executedPlan,
      "eventsParsed") == 0L)
    // partial skims keep surviving files readable: answers match the
    // plan-time-pruned and the unpruned reads exactly
    val capped = rd(dir, LwesOptions.StatsPruneMaxFiles -> "0")
      .filter(col("id") < 100).orderBy("id").collect()
    val planned = rd(dir).filter(col("id") < 100).orderBy("id").collect()
    val plain = rd(dir, LwesOptions.StatsPrune -> "false")
      .filter(col("id") < 100).orderBy("id").collect()
    assert(capped.sameElements(planned) && capped.sameElements(plain))
  }
}

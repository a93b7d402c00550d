package graft.sources

import graft.sources.lwes.{LwesOptions, LwesScan}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A28 — top-N pushdown: an unfiltered `ORDER BY <receipt> [DESC]
  * LIMIT k` prunes whole journals (exact name tags + sidecar counts)
  * and, inside fat `.zsj` files, whole frames (exact footer bounds) at
  * plan time. PARTIAL push: Spark keeps the global Sort+Limit, so
  * every test asserts BOTH the prune count and value parity with the
  * unpruned plan — pruning must be invisible to answers. */
class LwesTopNPushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-topn").toString

  /** One journal per (base, n): receipts [base, base+n). */
  private def writeRanged(dir: String, ranges: Seq[(Long, Int)],
      extra: (String, String)*): Unit = {
    import spark.implicits._
    ranges.foreach { case (base, n) =>
      val w = (0 until n).map(i => base + i).toDF("ReceiptTime")
        .select(col("ReceiptTime"), (col("ReceiptTime") % 97).as("user_id"))
        .repartition(1)
        .write.format("lwes").option("eventName", "Tn::E").mode("append")
      extra.foldLeft(w) { case (x, (k, v)) => x.option(k, v) }.save(dir)
    }
  }

  private def rd(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("ReceiptTime long, user_id long")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def topNOf(df: DataFrame): (Array[Long], Long) = {
    val vals = df.collect().map(_.getLong(0))
    val pruned = LwesScan.scansIn(df.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum
    (vals, pruned)
  }

  /** Value-multiset parity (ties make row identity ambiguous, values
    * never) between the pruned plan and topNPrune=false. */
  private def parity(dir: String, k: Int, desc: Boolean,
      extra: (String, String)*): (Long, Array[Long]) = {
    def q(opts: (String, String)*) = {
      val d = rd(dir, opts: _*)
      (if (desc) d.orderBy(col("ReceiptTime").desc)
       else d.orderBy(col("ReceiptTime"))).limit(k)
    }
    val (a, pruned) = topNOf(q(extra: _*))
    val (b, _) = topNOf(q(extra :+ (LwesOptions.TopNPrune -> "false"): _*))
    assert(a.sorted.sameElements(b.sorted),
      s"pruned and unpruned top-$k values diverged")
    (pruned, a)
  }

  test("desc top-k prunes every file the newest file outranks") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100), (2000L, 100), (3000L, 100)))
    val (pruned, vals) = parity(dir, 50, desc = true)
    assert(pruned == 3L, s"expected 3 files pruned, got $pruned")
    assert(vals.max == 3099L && vals.min == 3050L)
    val d = rd(dir).orderBy(col("ReceiptTime").desc).limit(50)
    d.collect()
    assert(d.queryExecution.executedPlan.toString.contains("topN=[receipt desc k=50]"))
  }

  test("asc top-k mirrors with tag-max bounds") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100), (2000L, 100)))
    val (pruned, vals) = parity(dir, 30, desc = false)
    assert(pruned == 2L)
    assert(vals.min == 0L && vals.max == 29L)
  }

  test("overlapping ranges keep every file the bound cannot exclude") {
    val dir = tmp()
    // A [0,100), B [150,250), C [220,320): k=150 needs rows from BOTH
    // C and B (70 values >= 250, so the 150th largest sits inside B's
    // overlap band) — any sound bound lands in (99, 250), pruning
    // exactly A however precisely the frame units refine it
    writeRanged(dir, Seq((0L, 100), (150L, 100), (220L, 100)))
    val (pruned, vals) = parity(dir, 150, desc = true)
    assert(pruned == 1L, s"expected exactly the outranked file pruned, got $pruned")
    assert(vals.length == 150 && vals.max == 319L)
  }

  test("ties at the bound cannot break the value multiset") {
    val dir = tmp()
    // A: 100 rows all receipt=100; B: [100,200); C: [0,100) — k=100
    // desc bounds at 100, prunes only C (max 99); the single value-100
    // slot in the top-100 may come from A or B, values identical
    import spark.implicits._
    Seq.fill(100)(100L).toDF("ReceiptTime")
      .select(col("ReceiptTime"), (col("ReceiptTime") % 97).as("user_id"))
      .repartition(1).write.format("lwes").option("eventName", "Tn::E")
      .mode("append").save(dir)
    writeRanged(dir, Seq((100L, 100), (0L, 100)))
    val (pruned, vals) = parity(dir, 100, desc = true)
    assert(pruned == 1L)
    // values >= 101 number exactly 99 (B's tail), so the top-100
    // closes with exactly one of the many tied 100s — whichever row
    // won, the value multiset is fixed
    assert(vals.count(_ == 100L) == 1)
  }

  test("no sidecars -> no bound, no prune, same answer") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)),
      LwesOptions.WriteStats -> "false")
    val (pruned, vals) = parity(dir, 10, desc = true)
    assert(pruned == 0L)
    assert(vals.max == 1099L)
  }

  test("untagged files are never pruned and never feed the bound") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100), (2000L, 100)))
    // strip the tag from the NEWEST file (its sidecar is orphaned too)
    val f = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && f.getName.contains(".t2000-"))
      .head
    assert(f.renameTo(new java.io.File(dir, "foreign-journal.zsj")))
    val (pruned, vals) = parity(dir, 150, desc = true)
    // bound now comes from the [1000,1100) file: 100 rows < 150 with
    // the [0,100) file's counts -> bound 0 -> nothing prunes
    assert(pruned == 0L)
    assert(vals.max == 2099L)
  }

  test("a residual filter blocks the push entirely") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100), (2000L, 100)))
    val d = rd(dir).filter(col("user_id") >= 0)
      .orderBy(col("ReceiptTime").desc).limit(10)
    val vals = d.collect().map(_.getLong(0))
    assert(vals.max == 2099L && vals.length == 10)
    val scans = LwesScan.scansIn(d.queryExecution.executedPlan)
    assert(scans.map(_.topNPrunedFileCount).sum == 0L)
    assert(!d.queryExecution.executedPlan.toString.contains("topN=["))
  }

  test("an event-name filter clears the push in build()") {
    // the journals are single-name Tn::E with sidecars: name-pure, so
    // the push survives the gate and the older file prunes
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)))
    val (pruned, vals) = parity(dir, 10, desc = true, "eventName" -> "Tn::E")
    assert(vals.max == 1099L)
    assert(pruned > 0L, s"name-pure files should prune ($pruned)")
  }

  /** One journal of `n` records with receipts [base, base+n) whose
    * event names come from `nameOf(i)` (mixed-name when it varies). */
  private def writeNamed(dir: String, base: Long, n: Int,
      nameOf: Int => String): Unit = {
    import spark.implicits._
    (0 until n).map(i => (base + i, (base + i) % 97, nameOf(i)))
      .toDF("ReceiptTime", "user_id", "ev").repartition(1)
      .write.format("lwes").option("eventNameColumn", "ev")
      .mode("append").save(dir)
  }

  test("an event-name filter over mixed-name files prunes nothing") {
    val dir = tmp()
    (0 until 2).foreach(p => writeNamed(dir, p * 1000L, 100,
      i => if (i % 2 == 0) "Tn::E" else "Tn::O"))
    val (pruned, vals) = parity(dir, 10, desc = true, "eventName" -> "Tn::E")
    assert(vals.max == 1098L && vals.length == 10)
    assert(pruned == 0L, s"mixed-name files must not feed the bound ($pruned)")
  }

  // ------------------------------ name-pure soundness matrix (top-N)

  test("name-pure: eventName-scoped receipt, integral, string, double and " +
      "partition top-k prune") {
    val rdir = tmp()
    writeRanged(rdir, Seq((0L, 100), (1000L, 100), (2000L, 100)))
    val (rp, rv) = parity(rdir, 50, desc = true, "eventName" -> "Tn::E")
    assert(rp > 0L && rv.max == 2099L, s"receipt: pruned $rp")
    /** pruned-file count of `q(gated opts)`, after value parity with
      * the same gated query under topNPrune=false */
    def check(q: Seq[(String, String)] => DataFrame, name: String): Long = {
      val d = q(Seq("eventName" -> name))
      val got = d.collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      val want = q(Seq("eventName" -> name, LwesOptions.TopNPrune -> "false"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|"))
      assert(got.sorted.sameElements(want.sorted), s"$name: $got vs $want")
      LwesScan.scansIn(d.queryExecution.executedPlan)
        .map(_.topNPrunedFileCount).sum
    }
    val idir = tmp()
    writeScored(idir)
    assert(check(o => rdScored(idir, o: _*).orderBy(col("score").desc)
      .limit(5), "Ts::E") > 0L, "integral")
    val sdir = tmp()
    writeTagged(sdir)
    assert(check(o => rdTagged(sdir, o: _*).orderBy(col("tag").desc)
      .limit(5), "Ts::S") > 0L, "string")
    val ddir = tmp()
    writeFpScored(ddir)
    assert(check(o => rdFpScored(ddir, "double", o: _*)
      .orderBy(col("score").desc).limit(5), "Fs::E") > 0L,
      "double")
    import spark.implicits._
    val pdir = tmp()
    Seq("d0", "d1", "d2").zipWithIndex.foreach { case (d, p) =>
      (p * 100 until p * 100 + 100).map(i => (i.toLong, d))
        .toDF("id", "dt").repartition(1)
        .write.format("lwes").option("eventName", "Pt::E")
        .option("partitionBy", "dt").mode("append").save(pdir)
    }
    assert(check(o => o.foldLeft(spark.read.format("lwes")
        .schema("id long, dt string")) { case (r, (k, v)) => r.option(k, v) }
      .load(pdir).orderBy(col("dt").desc, col("id")).limit(20), "Pt::E") > 0L,
      "partition column")
  }

  test("name-pure: a mixed-name file adds no top-N unit") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)))
    // newest file: 100 records, only 5 of them Tn::E — its 100-record
    // sidecar unit must not close k=10 and prune the pure [1000,1100)
    writeNamed(dir, 2000L, 100, i => if (i % 20 == 0) "Tn::E" else "Tn::O")
    val (pruned, vals) = parity(dir, 10, desc = true, "eventName" -> "Tn::E")
    assert(vals.length == 10 && vals.count(_ >= 2000L) == 5)
    assert(pruned == 1L, s"only the [0,100) file is outranked ($pruned)")
  }

  test("name-pure: a sidecar without nc= feeds no top-N unit") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)))
    SidecarFixtures.stripNamesComplete(dir)
    val (pruned, vals) = parity(dir, 10, desc = true, "eventName" -> "Tn::E")
    assert(vals.max == 1099L)
    assert(pruned == 0L, s"unproven names must not feed the bound ($pruned)")
    // the edited sidecars still read: without the gate they bound
    assert(parity(dir, 10, desc = true)._1 > 0L)
  }

  test("name-pure: a receipt column mapped to one event needs NULLS LAST") {
    // the gate admits Tm::A and Tm::B; rt reads Tm::A's receipt and is
    // NULL on every Tm::B record. Tm::A-only files are pure for rt and
    // bound k, but a Tm::B-only or mixed file past that bound holds
    // NULL rows, which NULLS FIRST ranks ahead of every receipt
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)), "eventName" -> "Tm::A")
    writeRanged(dir, Seq((2000L, 100)), "eventName" -> "Tm::B")
    writeNamed(dir, 3000L, 100, i => if (i % 2 == 0) "Tm::A" else "Tm::B")
    def run(order: Column, opts: (String, String)*): (Seq[Option[Long]], Long) = {
      val d = (opts :+ ("mapping" -> "rt:Tm::A::ReceiptTime,u:Tm::B::user_id"))
        .foldLeft(spark.read.format("lwes").schema("rt long, u long")) {
          case (r, (k, v)) => r.option(k, v) }
        .load(dir).orderBy(order).limit(10).select("rt")
      val vals = d.collect().toSeq.map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      (vals.sorted, LwesScan.scansIn(d.queryExecution.executedPlan)
        .map(_.topNPrunedFileCount).sum)
    }
    def parityOf(order: Column): (Seq[Option[Long]], Long) = {
      val (got, pruned) = run(order)
      val (want, _) = run(order, LwesOptions.TopNPrune -> "false")
      assert(got == want, s"$order: pruned $got vs unpruned $want")
      (got, pruned)
    }
    Seq(col("rt").asc, col("rt").desc_nulls_first).foreach { o =>
      val (vals, pruned) = parityOf(o)
      assert(vals.forall(_.isEmpty) && pruned == 0L, s"$o: $vals, pruned $pruned")
    }
    val (asc, ascPruned) = parityOf(col("rt").asc_nulls_last)
    assert(asc == (0L until 10L).map(Some(_)) && ascPruned == 3L,
      s"asc nulls last: $asc, pruned $ascPruned")
    val (desc, descPruned) = parityOf(col("rt").desc)
    assert(desc == (3080L until 3100L by 2).map(Some(_)) && descPruned == 1L,
      s"desc: $desc, pruned $descPruned")
  }

  test("k beyond the directory keeps everything") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 50), (1000L, 50)))
    val (pruned, vals) = parity(dir, 1000, desc = true)
    assert(pruned == 0L && vals.length == 100)
  }

  test("topNPrune=false is a true escape hatch") {
    val dir = tmp()
    writeRanged(dir, Seq((0L, 100), (1000L, 100)))
    val d = rd(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("ReceiptTime").desc).limit(10)
    d.collect()
    assert(!d.queryExecution.executedPlan.toString.contains("topN=["))
    assert(LwesScan.scansIn(d.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 0L)
  }

  test("a Long.MinValue foreign-metadata receipt cannot corrupt the bound order") {
    import spark.implicits._
    val dir = tmp()
    // evil: 60 records stamped ReceiptTime = Long.MinValue inside a
    // split journal, RENAMED to carry a tag claiming [1000,2000] with
    // its sidecar copied alongside — foreign-inconsistent metadata
    // whose footer contributes (Long.MinValue, 60) units. A sort keyed
    // on -bound would place that unit FIRST (negation overflow),
    // consume it, close k=100 on the [1000,1050) file's units, bound
    // at ~1000, and prune the [900,960) file that holds HALF the true
    // top-100 — returning MinValue rows instead. The fixed ordering
    // consumes it LAST, yields bound Long.MinValue, prunes nothing.
    Seq.fill(60)(Long.MinValue).toDF("ReceiptTime")
      .select(col("ReceiptTime"), lit(1L).as("user_id"))
      .repartition(1).write.format("lwes").option("eventName", "Tn::E")
      .option(LwesOptions.Compression, "split-zstd")
      .mode("append").save(dir)
    val written = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(written.length == 1)
    val evil = new java.io.File(dir, "evil.t1000-2000.zsj")
    val sidecar = new java.io.File(dir, "." + written.head.getName + ".stats")
    assert(sidecar.exists())
    assert(sidecar.renameTo(new java.io.File(dir, ".evil.t1000-2000.zsj.stats")))
    assert(written.head.renameTo(evil))
    writeRanged(dir, Seq((1000L, 50), (900L, 60) /* true top-100 tail */))
    val (pruned, vals) = parity(dir, 100, desc = true)
    assert(pruned == 0L,
      s"the MinValue unit must force an unbounded walk, not a prune ($pruned)")
    assert(vals.min == 910L && !vals.contains(Long.MinValue),
      "the [900,960) file lost top-k rows to the corrupted bound")
  }

  test("one fat split journal bounds per footer frame and prunes to the tail") {
    import spark.implicits._
    val dir = tmp()
    (0 until 20000).map(i => 1700000000000L + i).toDF("ReceiptTime")
      .select(col("ReceiptTime"), (col("ReceiptTime") % 97).as("user_id"))
      .orderBy("ReceiptTime").coalesce(1)
      .write.format("lwes").option("eventName", "Tn::F")
      .option(LwesOptions.Compression, "split-zstd")
      .option(LwesOptions.SplitFrameBytes, "16384")
      .mode("append").save(dir)
    def q(opts: (String, String)*) =
      rd(dir, (opts :+ (LwesOptions.SplitTargetBytes -> "16384")): _*)
        .orderBy(col("ReceiptTime").desc).limit(25)
    val d = q()
    val vals = d.collect().map(_.getLong(0))
    assert(vals.max == 1700000019999L && vals.min == 1700000019975L)
    val scans = LwesScan.scansIn(d.queryExecution.executedPlan)
    assert(scans.map(_.prunedFrameCount).sum > 50L,
      "expected the top-N bound to prune most frames of the fat journal")
    val u = q(LwesOptions.TopNPrune -> "false")
    assert(u.collect().map(_.getLong(0)).sorted.sameElements(vals.sorted))
  }

  // ------------------------------------------- r19 attribute top-N

  /** Disjoint score-range journals via the DSv2 writer (sidecars +
    * commit-published manifest): scores [base, base+100) per file. */
  private def writeScored(dir: String): Unit = {
    import spark.implicits._
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      (base until base + 100).map(i => (i, if (i % 10 == 0) null else i * 3))
        .map { case (i, s) => (i, s.asInstanceOf[java.lang.Long]) }
        .toDF("id", "score")
        .repartition(1)
        .write.format("lwes").option("eventName", "Ts::E")
        .option("compression", "gzip").mode("append").save(dir)
    }
  }

  private def rdScored(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes").schema("id long, score long")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  /** Four ESF-native-double journals with disjoint score ranges
    * (kind-'d' sidecars; every 10th score NULL). */
  private def writeFpScored(dir: String, esfType: String = "double"): Unit = {
    import spark.implicits._
    Files.writeString(java.nio.file.Paths.get(dir, ".fps.esf"),
      s"Fs::E\n{\n  required int64 id;\n  $esfType score;\n}\n")
    Seq(0L, 100L, 200L, 300L).foreach { base =>
      val df = (base until base + 100)
        .map(i => (i, if (i % 10 == 0) null else (i * 1.5).asInstanceOf[Any]))
        .map { case (i, s) => (i, s.asInstanceOf[java.lang.Double]) }
        .toDF("id", "score")
      // the ESF writer refuses narrowing: a float-declared attr needs
      // a FloatType column (i*1.5 at these magnitudes is float-exact)
      (if (esfType == "float") df.withColumn("score", col("score").cast("float"))
       else df)
        .repartition(1)
        .write.format("lwes").option("eventName", "Fs::E")
        .option(LwesOptions.Esf, s"$dir/.fps.esf").mode("append").save(dir)
    }
  }

  private def rdFpScored(dir: String, st: String,
      extra: (String, String)*): DataFrame = {
    // no eventName filter: these journals are single-event anyway
    // (the gated reads are in the name-pure matrix)
    val base = spark.read.format("lwes").schema(s"id long, score $st")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  test("double attr top-k bounds from kind-d sidecars and prunes (r20)") {
    val dir = tmp()
    writeFpScored(dir)
    val q = rdFpScored(dir, "double").orderBy(col("score").desc).limit(5)
    val vals = q.collect().map(_.getDouble(1))
    val want = rdFpScored(dir, "double", LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(5).collect().map(_.getDouble(1))
    assert(vals.sorted.sameElements(want.sorted))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("topN=[score desc k=5]"), plan.toString)
    assert(LwesScan.scansIn(plan).map(_.topNPrunedFileCount).sum == 3L,
      "three lower-score files should prune")
    // ASC NULLS LAST prunes the three high files; default asc (nulls
    // first) must decline — null rows belong in the top-k
    val asc = rdFpScored(dir, "double").orderBy(col("score").asc_nulls_last).limit(5)
    val ascVals = asc.collect().map(_.getDouble(1))
    val ascWant = rdFpScored(dir, "double", LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").asc_nulls_last).limit(5).collect()
      .map(_.getDouble(1))
    assert(ascVals.sorted.sameElements(ascWant.sorted))
    assert(LwesScan.scansIn(asc.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L)
    val nf = rdFpScored(dir, "double").orderBy(col("score")).limit(5)
    assert(nf.collect().count(_.isNullAt(1)) == 5, "nulls-first top-5 is NULL")
    assert(!nf.queryExecution.executedPlan.toString.contains("topN=["))
  }

  test("double attr top-k: NaN ranks greatest; bound predicate keeps NaN rows") {
    import spark.implicits._
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, ".fpn.esf"),
      "Fn::E\n{\n  required int64 id;\n  double score;\n}\n")
    def write(rows: Seq[(Long, Double)]): Unit =
      rows.toDF("id", "score").repartition(1)
        .write.format("lwes").option("eventName", "Fn::E")
        .option(LwesOptions.Esf, s"$dir/.fpn.esf").mode("append").save(dir)
    write(Seq((1L, 1.0), (2L, Double.NaN))) // bounds [1.0, NaN]
    write(Seq((3L, -50.0), (4L, -10.0)))    // provably outranked
    write(Seq((5L, 5.0), (6L, 8.0)))
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, score double")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    val q = r().orderBy(col("score").desc).limit(2)
    val ids = q.collect().map(_.getLong(0))
    // NaN is the GREATEST value in Spark's sort: top-2 desc = NaN, 8.0
    assert(ids.toSeq == Seq(2L, 6L), ids.toSeq.toString)
    // bound = 1.0 (the NaN file's min over 2 rows): only the negative
    // file is provably outranked; the synthesized >= 1.0 in-parse
    // filter must KEEP the NaN row (NaN >= x under compareDoubles)
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 1L)
    val want = r(LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(2).collect().map(_.getLong(0))
    assert(ids.sameElements(want))
  }

  test("FloatType top-k: double wire declines (no allFloat); float wire prunes") {
    val dir = tmp()
    writeFpScored(dir) // double wire tokens
    // FloatType read over double wire: dblFits=false, no provable
    // units — push stays (plan shape), prune must NOT fire
    val q = rdFpScored(dir, "float").orderBy(col("score").desc).limit(5)
    val vals = q.collect().map(_.getFloat(1))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 0L,
      "double wire must not feed a FloatType bound")
    val want = rdFpScored(dir, "float", LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(5).collect().map(_.getFloat(1))
    assert(vals.sorted.sameElements(want.sorted))
    // FLOAT wire tokens (allFloat sidecars): the same read prunes
    val dirF = tmp()
    writeFpScored(dirF, esfType = "float")
    val qf = rdFpScored(dirF, "float").orderBy(col("score").desc).limit(5)
    val fVals = qf.collect().map(_.getFloat(1))
    val fWant = rdFpScored(dirF, "float", LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(5).collect().map(_.getFloat(1))
    assert(fVals.sorted.sameElements(fWant.sorted))
    assert(LwesScan.scansIn(qf.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L)
  }

  test("partition-column top-k prunes whole partitions from the listing (r20)") {
    import spark.implicits._
    val dir = tmp()
    Seq("d0", "d1", "d2", "d3").zipWithIndex.foreach { case (d, p) =>
      (p * 100 until p * 100 + 100).map(i => (i.toLong, d))
        .toDF("id", "dt").repartition(1)
        .write.format("lwes").option("eventName", "Pt::E")
        .option("partitionBy", "dt").mode("append").save(dir)
    }
    def r(extra: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, dt string")
      extra.foldLeft(base) { case (x, (k, v)) => x.option(k, v) }.load(dir)
    }
    // desc top-50: only the newest partition (d3) can hold results
    val q = r().orderBy(col("dt").desc, col("id")).limit(50)
    val vals = q.collect().map(r => (r.getString(1), r.getLong(0)))
    val want = r(LwesOptions.TopNPrune -> "false")
      .orderBy(col("dt").desc, col("id")).limit(50).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(vals.sameElements(want))
    assert(vals.forall(_._1 == "d3") && vals.map(_._2).min == 300L)
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("topN=[dt desc k=50]"), plan.toString)
    assert(LwesScan.scansIn(plan).map(_.topNPrunedFileCount).sum == 3L)
    // asc NULLS LAST mirrors
    val asc = r().orderBy(col("dt").asc_nulls_last, col("id")).limit(50)
    val ascVals = asc.collect().map(_.getString(1))
    assert(ascVals.forall(_ == "d0"))
    assert(LwesScan.scansIn(asc.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L)
    // a keyless file (all-NULL rows) is outranked and pruned too
    (1000 until 1100).map(i => (i.toLong, "x")).toDF("id", "pad")
      .drop("pad").repartition(1)
      .write.format("lwes").option("eventName", "Pt::E")
      .mode("append").save(dir)
    val q2 = r().orderBy(col("dt").desc, col("id")).limit(50)
    val v2 = q2.collect().map(r => (r.getString(1), r.getLong(0)))
    val w2 = r(LwesOptions.TopNPrune -> "false")
      .orderBy(col("dt").desc, col("id")).limit(50).collect()
      .map(r => (r.getString(1), r.getLong(0)))
    assert(v2.sameElements(w2))
    assert(LwesScan.scansIn(q2.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 4L,
      "the keyless all-NULL file must prune under NULLS LAST")
    // stats-less files feed no bound: no prune, same answer
    val dirB = tmp()
    Seq("d0", "d1").zipWithIndex.foreach { case (d, p) =>
      (p * 100 until p * 100 + 100).map(i => (i.toLong, d))
        .toDF("id", "dt").repartition(1)
        .write.format("lwes").option("eventName", "Pt::E")
        .option("partitionBy", "dt")
        .option(LwesOptions.WriteStats, "false").mode("append").save(dirB)
    }
    val qb = spark.read.format("lwes").schema("id long, dt string").load(dirB)
      .orderBy(col("dt").desc, col("id")).limit(10)
    assert(qb.collect().map(_.getString(1)).forall(_ == "d1"))
    assert(LwesScan.scansIn(qb.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 0L)
  }

  test("attr desc top-k bounds from sidecar min/max and prunes low files") {
    val dir = tmp()
    writeScored(dir)
    val q = rdScored(dir).orderBy(col("score").desc).limit(5)
    val vals = q.collect().map(r => r.getLong(1))
    val want = rdScored(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(5).collect().map(_.getLong(1))
    assert(vals.sorted.sameElements(want.sorted))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("topN=[score desc k=5]"), plan.toString)
    assert(LwesScan.scansIn(plan).map(_.topNPrunedFileCount).sum == 3L,
      "three lower-score files should prune")
  }

  test("attr asc NULLS LAST pushes and prunes; default asc (nulls first) declines") {
    val dir = tmp()
    writeScored(dir)
    val q = rdScored(dir).orderBy(col("score").asc_nulls_last).limit(5)
    val vals = q.collect().map(r => r.getLong(1))
    val want = rdScored(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").asc_nulls_last).limit(5).collect().map(_.getLong(1))
    assert(vals.sorted.sameElements(want.sorted))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L)
    // default ASC = NULLS FIRST: null rows belong in the top-k, the
    // count-based bound is unsound, the push must decline
    val nf = rdScored(dir).orderBy(col("score")).limit(5)
    val nfRows = nf.collect()
    assert(nfRows.count(_.isNullAt(1)) == 5, "nulls-first top-5 is all NULL")
    assert(!nf.queryExecution.executedPlan.toString.contains("topN=["),
      nf.queryExecution.executedPlan.toString)
  }

  test("attr top-k: manifest-covered files do not count against the GET cap") {
    // regression (r20 advisory): the cap bounds the DRIVER-side
    // per-file sidecar GET wave, but manifest-covered candidates cost
    // one read per DIRECTORY — counting them used to silently disable
    // the attribute top-N prune at exactly the 10^5-file scale the A33
    // manifest exists for. 4 manifest-covered files, cap 1: still prunes.
    val dir = tmp()
    writeScored(dir) // batch commits publish the directory manifest
    assert(new java.io.File(dir, graft.sources.lwes.LwesStats.ManifestName)
      .exists(), "precondition: the directory manifest must exist")
    val q = rdScored(dir, LwesOptions.StatsPruneMaxFiles -> "1")
      .orderBy(col("score").desc).limit(5)
    val vals = q.collect().map(_.getLong(1))
    val want = rdScored(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("score").desc).limit(5).collect().map(_.getLong(1))
    assert(vals.sorted.sameElements(want.sorted))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L,
      "manifest-covered candidates must not trip the per-file GET cap")
  }

  test("attr top-k: value parity when nulls pad an underfilled result") {
    // only 4 non-null in a tiny corpus, k=6: nulls enter a NULLS LAST
    // result tail; bound never reaches k from 4 provable rows -> no
    // prune, exact answers either way
    val dir = tmp()
    import spark.implicits._
    Seq((1L, java.lang.Long.valueOf(5L)), (2L, java.lang.Long.valueOf(9L)),
        (3L, null.asInstanceOf[java.lang.Long]),
        (4L, java.lang.Long.valueOf(1L)), (5L, java.lang.Long.valueOf(7L)),
        (6L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "score").repartition(1)
      .write.format("lwes").option("eventName", "Ts::U")
      .option("compression", "gzip").mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, score long")
      .option("eventName", "Ts::U").load(dir)
      .orderBy(col("score").desc).limit(6)
    val got = q.collect().map(r => if (r.isNullAt(1)) -1L else r.getLong(1))
    assert(got.count(_ == -1L) == 2 && got.filter(_ >= 0).sorted
      .sameElements(Array(1L, 5L, 7L, 9L)))
  }

  /** Four files with disjoint tag prefixes a../g../m../t.., every 10th
    * tag NULL; 100 rows each. */
  private def writeTagged(dir: String, prefixes: Seq[String]
      = Seq("a", "g", "m", "t")): Unit = {
    import spark.implicits._
    prefixes.zipWithIndex.foreach { case (p, q) =>
      (0 until 100).map { i =>
        val id = q * 100 + i
        (id.toLong, if (i % 10 == 0) null else f"$p${i % 100}%02d")
      }.toDF("id", "tag").repartition(1)
        .write.format("lwes").option("eventName", "Ts::S")
        .option("compression", "gzip").mode("append").save(dir)
    }
  }

  private def rdTagged(dir: String, extra: (String, String)*): DataFrame = {
    // no eventName option (the gated reads are in the name-pure matrix)
    val base = spark.read.format("lwes").schema("id long, tag string")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  test("string attr desc top-k bounds from exact sidecar bounds and prunes (r20)") {
    val dir = tmp()
    writeTagged(dir)
    val q = rdTagged(dir).orderBy(col("tag").desc).limit(5)
    val vals = q.collect().map(_.getString(1))
    val want = rdTagged(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("tag").desc).limit(5).collect().map(_.getString(1))
    assert(vals.sorted.sameElements(want.sorted))
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("topN=[tag desc k=5]"), plan.toString)
    assert(LwesScan.scansIn(plan).map(_.topNPrunedFileCount).sum == 3L,
      "three lower-range string files should prune")
  }

  test("string attr asc NULLS LAST prunes; nulls-first declines (r20)") {
    val dir = tmp()
    writeTagged(dir)
    val q = rdTagged(dir).orderBy(col("tag").asc_nulls_last).limit(5)
    val vals = q.collect().map(_.getString(1))
    val want = rdTagged(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("tag").asc_nulls_last).limit(5).collect().map(_.getString(1))
    assert(vals.sorted.sameElements(want.sorted))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L)
    val nf = rdTagged(dir).orderBy(col("tag")).limit(5)
    assert(nf.collect().count(_.isNullAt(1)) == 5)
    assert(!nf.queryExecution.executedPlan.toString.contains("topN=["),
      nf.queryExecution.executedPlan.toString)
  }

  test("string attr top-k: non-ASCII values bound and prune in byte space") {
    val dir = tmp()
    writeTagged(dir, Seq("ä", "ö", "ü", "ÿ")) // 2-byte UTF-8 prefixes
    val q = rdTagged(dir).orderBy(col("tag").desc).limit(5)
    val vals = q.collect().map(_.getString(1))
    val want = rdTagged(dir, LwesOptions.TopNPrune -> "false")
      .orderBy(col("tag").desc).limit(5).collect().map(_.getString(1))
    assert(vals.sorted.sameElements(want.sorted))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 3L,
      "non-ASCII string bounds live in read-back byte space: must prune")
  }

  test("string attr top-k: over-cap values (inf max) contribute no ASC unit") {
    import spark.implicits._
    val dir = tmp()
    // values longer than MaxStrBytes (64): maxima record +inf, minima
    // truncate — ASC has no sound per-file unit, so no bound, no prune,
    // and answers must stay exact
    val long1 = "b" * 80
    val long2 = "c" * 80
    Seq((1L, long1), (2L, long2)).toDF("id", "tag").repartition(1)
      .write.format("lwes").option("eventName", "Ts::S")
      .option("compression", "gzip").mode("append").save(dir)
    Seq((3L, "a" + "z" * 80)).toDF("id", "tag").repartition(1)
      .write.format("lwes").option("eventName", "Ts::S")
      .option("compression", "gzip").mode("append").save(dir)
    val q = rdTagged(dir).orderBy(col("tag").asc_nulls_last).limit(1)
    assert(q.collect().map(_.getString(1)).sameElements(Array("a" + "z" * 80)))
    assert(LwesScan.scansIn(q.queryExecution.executedPlan)
      .map(_.topNPrunedFileCount).sum == 0L,
      "inf maxima must contribute no ASC units and prune nothing")
    // DESC still bounds from (possibly truncated) minima — parity check
    val d = rdTagged(dir).orderBy(col("tag").desc).limit(1)
    assert(d.collect().map(_.getString(1)).sameElements(Array(long2)))
  }

  test("attr top-k over one fat .zsj prunes low-score frames via the bound filter") {
    // the synthesized `score >= B` predicate rides the A31 frame prune:
    // a key-sorted fat journal decompresses only its high-score frames
    val dir = tmp()
    import spark.implicits._
    (0L until 30000L).map(i => (i, i * 7))
      .toDF("id", "score").repartition(1).sortWithinPartitions("score")
      .write.format("lwes").option("eventName", "Ts::F")
      .option(LwesOptions.SplitFrameBytes, "16384")
      .mode("append").save(dir)
    def q(opts: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, score long")
        .option(LwesOptions.SplitTargetBytes, "16384")
      opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
        .orderBy(col("score").desc).limit(20)
    }
    val pruned = q()
    val got = pruned.collect().map(_.getLong(1))
    val want = q(LwesOptions.TopNPrune -> "false").collect().map(_.getLong(1))
    assert(got.sorted.sameElements(want.sorted))
    val plan = pruned.queryExecution.executedPlan
    assert(LwesScan.scansIn(plan).map(_.statsPrunedFrameCount).sum > 0L,
      "the bound filter should drop low-score frames")
    assert(LwesScan.scanMetricSum(plan, "eventsParsed") < 30000L,
      "pruned frames must not be parsed")
  }

  test("double attr top-k over one fat .zsj prunes low-score frames (r20)") {
    // the kind-'d' twin: per-frame zone-map blobs carry dmn/dmx, the
    // footer refinement narrows the whole-file unit to frame units,
    // and the synthesized compareDoubles-ordered `score >= B`
    // predicate rides the A31 frame prune
    val dir = tmp()
    import spark.implicits._
    Files.writeString(java.nio.file.Paths.get(dir, ".fatd.esf"),
      "Fd::F\n{\n  required int64 id;\n  double score;\n}\n")
    (0L until 30000L).map(i => (i, i * 0.75))
      .toDF("id", "score").repartition(1).sortWithinPartitions("score")
      .write.format("lwes").option("eventName", "Fd::F")
      .option(LwesOptions.Esf, s"$dir/.fatd.esf")
      .option(LwesOptions.SplitFrameBytes, "16384")
      .mode("append").save(dir)
    def q(opts: (String, String)*) = {
      val base = spark.read.format("lwes").schema("id long, score double")
        .option(LwesOptions.SplitTargetBytes, "16384")
      opts.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
        .orderBy(col("score").desc).limit(20)
    }
    val pruned = q()
    val got = pruned.collect().map(_.getDouble(1))
    val want = q(LwesOptions.TopNPrune -> "false").collect().map(_.getDouble(1))
    assert(got.sorted.sameElements(want.sorted))
    val plan = pruned.queryExecution.executedPlan
    assert(LwesScan.scansIn(plan).map(_.statsPrunedFrameCount).sum > 0L,
      "the bound filter should drop low-score frames")
    assert(LwesScan.scanMetricSum(plan, "eventsParsed") < 30000L,
      "pruned frames must not be parsed")
  }
}

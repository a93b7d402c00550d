package graft.sources

import graft.lwes.{JournalWriter, LwesEvent, SplitJournalWriter}
import graft.sources.lwes.{LwesOptions, LwesScan}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A26 — aggregate pushdown: COUNT(*)/COUNT(col)/MIN/MAX collapse to
  * one partial row per partition inside the scan; COUNT(*) (and MIN/MAX
  * over a LongType ReceiptTime column) over `.zsj` journals is answered
  * from the footer index without decompressing a frame. */
class LwesAggPushdownSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("lwes-agg").toString

  private val T0 = 1700000000000L

  /** n events over `parts` .zsj journals; every 5th event omits `score`
    * (NULL), every 4th carries no receipt time. */
  private def writeZsj(dir: String, n: Int, parts: Int = 3,
      frameRawBytes: Int = 4 << 20): Unit =
    (0 until parts).foreach { p =>
      val w = new SplitJournalWriter(
        new java.io.FileOutputStream(s"$dir/part-$p.journal.zsj"), frameRawBytes)
      (p until n by parts).foreach { i =>
        val e = LwesEvent(if (i % 3 == 0) "Ad::Click" else "Ad::View")
          .setInt64("id", i.toLong)
          .setString("page", s"/p/${i % 10}")
        if (i % 5 != 0) e.setInt32("score", i)
        if (i % 4 != 0) e.setInt64(LwesEvent.ReceiptTime, T0 + i)
        w.write(e)
      }
      w.close()
    }

  private def rd(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("id long, page string, score int")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def metric(df: DataFrame, name: String): Long =
    LwesScan.scanMetricSum(df.queryExecution.executedPlan, name)

  private def parsed(df: DataFrame): Long = metric(df, "eventsParsed")

  test("COUNT(*) over .zsj is answered from footers: zero events parsed") {
    val dir = tmp()
    writeZsj(dir, 900)
    val q = rd(dir).agg(count(lit(1)).as("n"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(900L))
    assert(plan(q).contains("agg=[CountStar] footerOnly"), plan(q))
    assert(parsed(q) == 0L, "footer path must not parse a single event")
  }

  test("COUNT(*) over gzip journals pushes but streams") {
    val dir = tmp()
    val w = JournalWriter.create(s"$dir/j.gz")
    (0 until 123).foreach(i =>
      w.write(LwesEvent("G::E").setInt64("id", i.toLong)))
    w.close()
    val q = rd(dir).agg(count(lit(1)).as("n"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(123L))
    assert(plan(q).contains("agg=[CountStar]"), plan(q))
    assert(parsed(q) == 123L) // no footer to consult — streamed count
  }

  test("MIN/MAX/COUNT(col) parity with the unpushed plan, nulls ignored") {
    val dir = tmp()
    writeZsj(dir, 900)
    def agg(df: DataFrame) = df.agg(
      min(col("id")).as("mn_id"), max(col("id")).as("mx_id"),
      min(col("page")).as("mn_pg"), max(col("page")).as("mx_pg"),
      count(col("score")).as("n_score"), count(lit(1)).as("n"))
    val pushed = agg(rd(dir))
    val plain = agg(rd(dir, graft.sources.lwes.LwesOptions.AggPushdown -> "false"))
    assert(plan(pushed).contains("agg=[MinCol(id,false)"), plan(pushed))
    assert(!plan(plain).contains("agg=["), plan(plain))
    assert(pushed.collect().toSeq == plain.collect().toSeq)
    // 900 events, every 5th missing score -> 720 non-null
    assert(pushed.collect()(0).getLong(4) == 720L)
  }

  test("MIN/MAX over a LongType receipt column rides the footer bounds") {
    val dir = tmp()
    // every record carries a receipt here: a journal header always has
    // one (unset stamps 0), so holes would legitimately pull min to 0
    // on BOTH paths — that equivalence is asserted below either way
    (0 until 3).foreach { p =>
      val w = new SplitJournalWriter(
        new java.io.FileOutputStream(s"$dir/r-$p.journal.zsj"), 4 << 20)
      (p until 900 by 3).foreach(i => w.write(LwesEvent("Ad::View")
        .setInt64("id", i.toLong)
        .setInt64(LwesEvent.ReceiptTime, T0 + i)))
      w.close()
    }
    def r = spark.read.format("lwes")
      .schema("rt long").option("mapping", s"rt:${LwesEvent.ReceiptTime}")
      .load(dir)
    val q = r.agg(min(col("rt")).as("mn"), max(col("rt")).as("mx"),
      count(lit(1)).as("n"))
    val rows = q.collect()
    assert(plan(q).contains("footerOnly"), plan(q))
    assert(parsed(q) == 0L, "receipt bounds come from the footer index")
    val expect = spark.read.format("lwes")
      .schema("rt long").option("mapping", s"rt:${LwesEvent.ReceiptTime}")
      .option(graft.sources.lwes.LwesOptions.AggPushdown, "false").load(dir)
      .agg(min(col("rt")), max(col("rt")), count(lit(1))).collect()
    assert(rows.toSeq == expect.toSeq)
    assert(rows(0).getLong(0) == T0 && rows(0).getLong(1) == T0 + 899)
  }

  test("a residual data filter blocks aggregate pushdown") {
    val dir = tmp()
    writeZsj(dir, 900)
    val q = rd(dir).filter(col("score") > 100).agg(count(lit(1)).as("n"))
    assert(!plan(q).contains("agg=["), plan(q))
    val expect = rd(dir, graft.sources.lwes.LwesOptions.AggPushdown -> "false")
      .filter(col("score") > 100).agg(count(lit(1))).collect()
    assert(q.collect().toSeq == expect.toSeq)
  }

  test("eventName filter keeps the push but forces the streamed count") {
    val dir = tmp()
    writeZsj(dir, 900)
    val q = rd(dir, "eventName" -> "Ad::Click").agg(count(lit(1)).as("n"))
    assert(plan(q).contains("agg=[CountStar]") &&
      !plan(q).contains("footerOnly"), plan(q))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(300L)) // i % 3 == 0
    assert(parsed(q) == 300L)
  }

  test("range-sliced fat .zsj partitions fold disjoint footer spans") {
    val dir = tmp()
    // one fat multi-frame journal, tiny frames + tiny split target ->
    // several range slices over the same file; each slice must count
    // exactly the frames it owns (no double-count, no gap)
    writeZsj(dir, 4000, parts = 1, frameRawBytes = 2048)
    val q = spark.read.format("lwes")
      .schema("id long, page string, score int")
      .option("splitTargetBytes", "4096").load(dir)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    // min(id) is not footer-answerable -> whole query streams; check
    // the pure-count shape separately for the footer proof
    val c = spark.read.format("lwes")
      .schema("id long").option("splitTargetBytes", "4096").load(dir)
      .agg(count(lit(1)).as("n"))
    assert(c.queryExecution.executedPlan.toString.contains("footerOnly"))
    assert(c.collect().map(_.getLong(0)).toSeq == Seq(4000L))
    assert(parsed(c) == 0L)
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((4000L, 0L)))
  }

  test("footerless .zsj falls back to the streamed count") {
    val dir = tmp()
    val fos = new java.io.FileOutputStream(s"$dir/torn.journal.zsj")
    val w = new SplitJournalWriter(fos, frameRawBytes = 8 << 20)
    (0 until 50).foreach(i =>
      w.write(LwesEvent("Sp::E").setInt64("id", i.toLong)))
    w.flushOpenFrame()
    fos.close() // abandoned: no close(), no footer
    val q = spark.read.format("lwes").schema("id long").load(dir)
      .agg(count(lit(1)).as("n"))
    assert(plan(q).contains("footerOnly"), plan(q)) // planned for footers...
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(50L))
    assert(parsed(q) == 50L) // ...but this file had none: streamed
  }

  test("a receipt-time admission window disables the footer shortcut") {
    val dir = tmp()
    writeZsj(dir, 900)
    def windowed(push: Boolean) = spark.read.format("lwes")
      .schema("id long")
      .option("receiptTimeMin", (T0 + 100).toString)
      .option("receiptTimeMax", (T0 + 500).toString)
      .option(graft.sources.lwes.LwesOptions.AggPushdown, push.toString)
      .load(dir).agg(count(lit(1)).as("n"))
    val q = windowed(push = true)
    assert(plan(q).contains("agg=[CountStar]") &&
      !plan(q).contains("footerOnly"), plan(q))
    // window admission is file/frame-granular either way: pushed and
    // unpushed counts must agree exactly
    assert(q.collect().toSeq == windowed(push = false).collect().toSeq)
  }

  test("empty directory aggregates to count 0 / NULL min") {
    val dir = tmp()
    val q = rd(dir).agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    val r = q.collect()(0)
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  test("non-pushable aggregates are declined, results stay correct") {
    val dir = tmp()
    writeZsj(dir, 300)
    // r19: integral SUM pushes (see the SUM rows); double SUM, AVG and
    // DISTINCT stay declined — order-dependent or non-decomposable
    val s = rd(dir).agg(sum(col("id").cast("double")).as("s"),
      avg(col("score")).as("a"))
    assert(!plan(s).contains("agg=["), plan(s))
    assert(s.collect()(0).getDouble(0) == (0 until 300).map(_.toDouble).sum)
    val cd = rd(dir).agg(countDistinct(col("page")).as("n"))
    assert(!plan(cd).contains("agg=["), plan(cd))
    assert(cd.collect()(0).getLong(0) == 10L)
    // page is a data attribute, not per-file-constant: grouping on it
    // must decline the push and stay correct through the ordinary scan
    val g = rd(dir).groupBy(col("page")).agg(count(lit(1)).as("n"))
    assert(!plan(g).contains("agg=["), plan(g))
    assert(g.collect().map(_.getLong(1)).sum == 300L)
  }

  // ------------------------------------------------- A32 grouped push

  /** Partitioned `.zsj` corpus via the DataFrame writer (sidecars and
    * footers included): 600 rows, dt in {0,1,2}, every 5th score NULL. */
  private def writePartitioned(dir: String): Unit =
    spark.range(600).select(
        col("id"),
        concat(lit("/p/"), col("id") % 10).as("page"),
        when(col("id") % 5 =!= 0, (col("id") % 100).cast("int")).as("score"),
        (col("id") % 3).cast("string").as("dt"))
      .write.format("lwes").option("eventName", "T::E")
      .option("partitionBy", "dt").mode("append").save(dir)

  private def rdp(dir: String, extra: (String, String)*): DataFrame = {
    val base = spark.read.format("lwes")
      .schema("id long, page string, score int, dt string")
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  test("GROUP BY partition col + COUNT(*) rides the footer path: zero parsed") {
    val dir = tmp()
    writePartitioned(dir)
    val q = rdp(dir).groupBy(col("dt")).agg(count(lit(1)).as("n"))
    val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("0" -> 200L, "1" -> 200L, "2" -> 200L))
    assert(plan(q).contains("groupBy=[dt]") && plan(q).contains("footerOnly"),
      plan(q))
    assert(parsed(q) == 0L, "grouped footer count must not parse events")
  }

  test("GROUP BY partition col + MIN/MAX/COUNT(col) answers from sidecars") {
    val dir = tmp()
    writePartitioned(dir)
    val q = rdp(dir).groupBy(col("dt")).agg(
      count(lit(1)).as("n"), count(col("score")).as("ns"),
      min(col("id")).as("mn"), max(col("id")).as("mx"))
    val got = q.collect().map(r => (r.getString(0),
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = rdp(dir, graft.sources.lwes.LwesOptions.AggPushdown -> "false")
      .groupBy(col("dt")).agg(
        count(lit(1)), count(col("score")), min(col("id")), max(col("id")))
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want)
    assert(plan(q).contains("groupBy=[dt]"), plan(q))
    assert(parsed(q) == 0L, "grouped sidecar answers must not parse events")
    assert(LwesScan.scanMetricSum(q.queryExecution.executedPlan,
      "filesAggFromStats") >= 3L)
  }

  test("GROUP BY event-name col + COUNT(*) answers from per-name sidecar counts") {
    val dir = tmp()
    val src = spark.range(500).select(col("id"),
      when(col("id") % 3 === 0, "Ad::Click").otherwise("Ad::View").as("ev"))
    src.write.format("lwes").option("eventNameColumn", "ev")
      .option("compression", "gzip").mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, ev string")
      .option("eventNameColumn", "ev").load(dir)
      .groupBy(col("ev")).agg(count(lit(1)).as("n"))
    val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("Ad::Click" -> 167L, "Ad::View" -> 333L))
    assert(plan(q).contains("groupBy=[ev]"), plan(q))
    assert(parsed(q) == 0L, "per-name counts must come from the sidecar")
    assert(LwesScan.scanMetricSum(q.queryExecution.executedPlan,
      "filesAggFromStats") >= 1L)
  }

  test("GROUP BY event-name col with MIN streams but pushes, exact results") {
    val dir = tmp()
    val src = spark.range(200).select(col("id"),
      when(col("id") % 3 === 0, "Ad::Click").otherwise("Ad::View").as("ev"))
    src.write.format("lwes").option("eventNameColumn", "ev")
      .mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, ev string")
      .option("eventNameColumn", "ev").load(dir)
      .groupBy(col("ev")).agg(min(col("id")).as("mn"), max(col("id")).as("mx"),
        count(lit(1)).as("n"))
    val rows = q.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows == Map("Ad::Click" -> ((0L, 198L, 67L)),
      "Ad::View" -> ((1L, 199L, 133L))))
    assert(plan(q).contains("groupBy=[ev]"), plan(q))
    assert(parsed(q) == 200L) // MIN per name is not in any metadata: streams
  }

  test("streamed fold keeps its string group keys and MIN/MAX across batches") {
    // one gzip journal (one task, no metadata) with > 4096 events per
    // name: the fold reads the batch reader's reused vectors, so a key
    // or bound it keeps from one batch must survive the next batch
    val dir = tmp()
    val names = Seq("S::A", "S::Bee", "S::Gamma") // keys of unequal length
    val w = JournalWriter.create(s"$dir/j.journal.gz")
    (0 until 15000).foreach { i =>
      // each name's MIN and MAX are its first two records: bytes the
      // next batch's first writes land on
      val s = i / 3 match { case 0 => "a-min"; case 1 => "z-max"; case k => f"m$k%05d" }
      w.write(LwesEvent(names(i % 3)).setInt64("id", i.toLong).setString("s", s))
    }
    w.close()
    def q(push: Boolean, extra: Seq[(String, String)]) =
      extra.foldLeft(spark.read.format("lwes").schema("s string, ev string")
          .option("eventNameColumn", "ev").option("aggPushdown", push.toString)) {
          case (r, (k, v)) => r.option(k, v)
        }.load(dir)
        .groupBy(col("ev")).agg(min(col("s")).as("mn"), max(col("s")).as("mx"),
          count(lit(1)).as("n")).orderBy("ev")
    for (extra <- Seq(Seq("eventName" -> "S::Bee"), Nil)) {
      val pushed = q(push = true, extra)
      val got = pushed.collect().toSeq
      assert(plan(pushed).contains("groupBy=[ev]"), plan(pushed))
      assert(parsed(pushed) == (if (extra.isEmpty) 15000L else 5000L))
      assert(got.length == (if (extra.isEmpty) 3 else 1))
      assert(got == q(push = false, extra).collect().toSeq, s"eventName filter: $extra")
    }
  }

  test("SUM over integral columns pushes and answers from sidecars, zero parses") {
    // r19: SUM(int/long) joins COUNT/MIN/MAX on the metadata path —
    // the sidecar's sm= field carries the exact per-file sum
    val dir = tmp()
    spark.range(400).select(col("id"),
        when(col("id") % 5 =!= 0, (col("id") % 100).cast("int")).as("score"))
      .write.format("lwes").option("eventName", "S::E")
      .option("compression", "gzip").mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, score int").load(dir)
      .agg(sum(col("id")).as("s"), sum(col("score")).as("ss"),
        count(lit(1)).as("n"))
    val r = q.collect()(0)
    val want = spark.read.format("lwes").schema("id long, score int")
      .option(graft.sources.lwes.LwesOptions.AggPushdown, "false").load(dir)
      .agg(sum(col("id")), sum(col("score")), count(lit(1))).collect()(0)
    assert(r.getLong(0) == want.getLong(0) && r.getLong(1) == want.getLong(1)
      && r.getLong(2) == want.getLong(2))
    assert(plan(q).contains("SumCol"), plan(q))
    assert(parsed(q) == 0L, "sidecar-answered SUM must not parse events")
    // double sums must NOT push (accumulation-order-dependent)
    val d = spark.read.format("lwes").schema("id long, score int").load(dir)
      .agg(sum(col("id").cast("double")).as("sd"))
    assert(!plan(d).contains("agg=["), plan(d))
  }

  test("complete pushdown: metadata-proven aggregates plan NO merge stage (r20)") {
    import spark.implicits._
    val dir = tmp()
    // three sidecar'd gzip journals: the push-time probe proves every
    // file answers COUNT/MIN/MAX/SUM from its sidecar, so Spark plans
    // the scan's single partition as the FINAL answer — no
    // HashAggregate, no Exchange anywhere in the physical plan
    (0 until 3).foreach { p =>
      (p * 100 until p * 100 + 100)
        .map(i => (i.toLong, if (i % 5 == 0) null else s"pg/${i % 10}"))
        .map { case (i, s) => (i, s) }.toDF("id", "page").repartition(1)
        .write.format("lwes").option("eventName", "Cp::E")
        .option("compression", "gzip").mode("append").save(dir)
    }
    def agg(d: DataFrame) = d.agg(count(lit(1)).as("n"),
      count(col("page")).as("np"), min(col("id")).as("mn"),
      max(col("id")).as("mx"), sum(col("id")).as("sm"))
    val q = agg(spark.read.format("lwes").schema("id long, page string").load(dir))
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains(" complete"), s"complete mode not claimed:\n$plan")
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must plan no aggregate node:\n$plan")
    assert(!plan.contains("Exchange"),
      s"complete pushdown must plan no exchange:\n$plan")
    val want = agg(spark.read.format("lwes").schema("id long, page string")
      .option(graft.sources.lwes.LwesOptions.AggPushdown, "false").load(dir))
      .collect()
    assert(rows.sameElements(want), s"${rows.toSeq} vs ${want.toSeq}")
    assert(LwesScan.scanMetricSum(q.queryExecution.executedPlan,
      "eventsParsed") == 0L)
    // grouped by a partition column: one partition still emits one row
    // per group, no merge
    val dirP = tmp()
    (0 until 300).map(i => (i.toLong, s"d${i % 3}")).toDF("id", "dt")
      .repartition(1).write.format("lwes").option("eventName", "Cp::P")
      .option("partitionBy", "dt").mode("append").save(dirP)
    val g = spark.read.format("lwes").schema("id long, dt string").load(dirP)
      .groupBy(col("dt")).agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    val gRows = g.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains(" complete") && !gPlan.contains("HashAggregate") &&
      !gPlan.contains("Exchange"), gPlan)
    assert(gRows.map(_._1).toSeq == Seq("d0", "d1", "d2"))
    assert(gRows.map(_._2).sum == 300L)
    // a file WITHOUT covering stats anywhere in the listing declines
    // complete mode (partial push survives, answers unchanged)
    val w = graft.lwes.JournalWriter.create(s"$dir/bare.gz")
    w.write(graft.lwes.LwesEvent("Cp::E").setInt64("id", 999L)); w.close()
    val q2 = agg(spark.read.format("lwes").schema("id long, page string").load(dir))
    val r2 = q2.collect()
    val p2 = q2.queryExecution.executedPlan.toString
    assert(!p2.contains(" complete"),
      s"a bare journal must decline complete mode:\n$p2")
    assert(p2.contains("agg=["), "partial push must survive the decline")
    assert(r2(0).getLong(0) == 301L && r2(0).getLong(3) == 999L)
    // empty directory, ungrouped: complete mode still emits the one
    // count-0 row
    val dirE = tmp()
    val e = spark.read.format("lwes").schema("id long").load(dirE)
      .agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    val eRows = e.collect()
    assert(eRows.length == 1 && eRows(0).getLong(0) == 0L && eRows(0).isNullAt(1),
      eRows.toSeq.toString)
  }

  test("pushed ANSI SUM overflow surfaces Spark's ARITHMETIC_OVERFLOW error") {
    // two files whose per-file sums are sidecar-exact but whose
    // COMBINATION overflows a long: the pushed merge must raise the
    // same SparkArithmeticException (error class + ansi-bypass
    // suggestion) the unpushed Aggregate would, not a bare
    // java.lang.ArithmeticException
    val dir = tmp()
    (0 until 2).foreach { p =>
      val w = JournalWriter.create(s"$dir/part-$p.gz")
      (0 until 3).foreach(_ =>
        w.write(LwesEvent("Ov::E").setInt64("v", Long.MaxValue / 4)))
      w.close()
    }
    val prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val q = spark.read.format("lwes").schema("v long").load(dir)
        .agg(sum(col("v")).as("s"))
      val e = intercept[Exception](q.collect())
      // local mode may surface the task failure unwrapped
      val cause = if (e.isInstanceOf[org.apache.spark.SparkThrowable]) e
                  else e.getCause
      assert(cause.isInstanceOf[org.apache.spark.SparkThrowable],
        s"expected a SparkThrowable (SparkArithmeticException), got $e")
      assert(cause.asInstanceOf[org.apache.spark.SparkThrowable]
        .getCondition == "ARITHMETIC_OVERFLOW", cause.getMessage)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("grouped SUM and NULL-over-nothing semantics, sidecar and stream parity") {
    val dir = tmp()
    writePartitioned(dir) // dt in {0,1,2}; every 5th score NULL
    def q(push: Boolean) = rdp(dir,
        graft.sources.lwes.LwesOptions.AggPushdown -> push.toString)
      .groupBy(col("dt"))
      .agg(sum(col("score")).as("s"), sum(col("id")).as("si"))
    val got = q(true).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = q(false).collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    assert(parsed(q(true)) == 0L)
    // all-NULL column: SUM over nothing is NULL, and an absent attr in
    // a COMPLETE sidecar must answer that WITHOUT opening the file
    val dir2 = tmp()
    spark.range(50).select(col("id"), lit(null).cast("int").as("hole"))
      .write.format("lwes").option("eventName", "S::H")
      .option("compression", "gzip").mode("append").save(dir2)
    val h = spark.read.format("lwes").schema("id long, hole int").load(dir2)
      .agg(sum(col("hole")).as("s"), count(lit(1)).as("n"))
    val hr = h.collect()(0)
    assert(hr.isNullAt(0) && hr.getLong(1) == 50L)
    assert(parsed(h) == 0L)
  }

  test("pre-r19 sidecars (no sm=) stream the SUM exactly") {
    val dir = tmp()
    spark.range(200).select(col("id"))
      .write.format("lwes").option("eventName", "S::O")
      .option(graft.sources.lwes.LwesOptions.StatsManifest, "false")
      .option("compression", "gzip").mode("append").save(dir)
    // strip sm= from every sidecar, keeping the rest valid — the r18
    // format; lengths are re-pinned by rewriting in place
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith(".") && f.getName.endsWith(".stats"))
      .foreach { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        java.nio.file.Files.write(f.toPath,
          text.replaceAll(" sm=-?\\d+", "").getBytes("UTF-8"))
        new java.io.File(f.getParent, s".${f.getName}.crc").delete()
      }
    val q = spark.read.format("lwes").schema("id long").load(dir)
      .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
    val r = q.collect()(0)
    assert(r.getLong(0) == (0 until 200).map(_.toLong).sum && r.getLong(1) == 200L)
    assert(plan(q).contains("SumCol"), plan(q))
    assert(parsed(q) == 200L, // count could come from stats; the SUM forces the stream
      "an smless sidecar must stream the sum")
  }

  test("name-grouped COUNT over fat .zsj range slices folds per-frame name counts") {
    // A32xA31 (r19): GSJ2 frame blobs carry per-name counts, so
    // GROUP BY event-name + COUNT(*) over range slices of ONE fat
    // journal decompresses nothing
    val dir = tmp()
    spark.range(3000).select(col("id"),
        when(col("id") % 3 === 0, "Ad::Click").otherwise("Ad::View").as("ev"))
      .repartition(1)
      .write.format("lwes").option("eventNameColumn", "ev")
      .option(graft.sources.lwes.LwesOptions.SplitFrameBytes, "8192")
      .mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, ev string")
      .option("eventNameColumn", "ev")
      .option(graft.sources.lwes.LwesOptions.SplitTargetBytes, "8192")
      // this test pins the FRAME-grain name-count path; complete mode
      // would answer from the whole-file sidecar instead
      .option(graft.sources.lwes.LwesOptions.CompleteAggPushdown, "false")
      .load(dir)
      .groupBy(col("ev")).agg(count(lit(1)).as("n"))
    val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows == Map("Ad::Click" -> 1000L, "Ad::View" -> 2000L))
    assert(parsed(q) == 0L, "per-frame name counts must answer the push")
    assert(LwesScan.scanMetricSum(q.queryExecution.executedPlan,
      "framesAggFromStats") >= 1L, plan(q))
  }

  test("grouped aggregate over an empty directory emits zero groups") {
    val dir = tmp()
    // listing-derived partition cols are absent in an empty dir, so
    // group on the event-name column (always admissible)
    val q = spark.read.format("lwes").schema("id long, ev string")
      .option("eventNameColumn", "ev").load(dir)
      .groupBy(col("ev")).agg(count(lit(1)).as("n"))
    assert(q.collect().isEmpty)
  }

  test("stats-less partitioned journals stream the grouped answer exactly") {
    val dir = tmp()
    spark.range(300).select(col("id"), (col("id") % 2).cast("string").as("dt"))
      .write.format("lwes").option("eventName", "T::E")
      .option("partitionBy", "dt").option("writeStats", "false")
      .option("compression", "gzip").mode("append").save(dir)
    val q = spark.read.format("lwes").schema("id long, dt string").load(dir)
      .groupBy(col("dt")).agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
    val rows = q.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows == Map("0" -> ((150L, 0L)), "1" -> ((150L, 1L))))
    assert(plan(q).contains("groupBy=[dt]"), plan(q))
    assert(parsed(q) == 300L) // no sidecar, no footer: streamed fold
  }

  // ---------------------------- name-pure soundness matrix (aggregates)

  private val Gate = "eventName" -> "Np::E"

  /** One journal via the DSv2 writer (sidecar, `.t` tag, manifest):
    * ids [base, base+n), receipts T0+id, event name `name(id)`. */
  private def writeNamed(dir: String, base: Int, n: Int,
      name: Int => String = _ => "Np::E", compression: String = "split-zstd"): Unit = {
    import spark.implicits._
    (base until base + n).map(i => (i.toLong, T0 + i, s"pg/${i % 7}", name(i)))
      .toDF("id", "ReceiptTime", "page", "ev").repartition(1)
      .write.format("lwes").option("eventNameColumn", "ev")
      .option(LwesOptions.Compression, compression).mode("append").save(dir)
  }

  private def rdNamed(dir: String, schema: String,
      extra: Seq[(String, String)]): DataFrame = {
    val base = spark.read.format("lwes").schema(schema)
    extra.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }.load(dir)
  }

  /** `q(extra)` after asserting its rows equal `q(extra + aggPushdown=false)`. */
  private def parityAgg(q: Seq[(String, String)] => DataFrame,
      extra: (String, String)*): DataFrame = {
    val pushed = q(extra)
    val rows = pushed.collect().toSeq
    val plain = q(extra :+ (LwesOptions.AggPushdown -> "false")).collect().toSeq
    assert(rows == plain, s"pushed $rows != unpushed $plain")
    pushed
  }

  private val namedSchema = "id long, ReceiptTime long, page string"
  private def countMinMax(d: DataFrame): DataFrame = d.agg(count(lit(1)).as("n"),
    min(col("ReceiptTime")).as("mn_rt"), max(col("ReceiptTime")).as("mx_rt"),
    min(col("id")).as("mn"), max(col("id")).as("mx"), min(col("page")).as("mn_pg"))
  private def receiptBounds(d: DataFrame): DataFrame = d.agg(
    min(col("ReceiptTime")).as("mn_rt"), max(col("ReceiptTime")).as("mx_rt"))
  private val partial = LwesOptions.CompleteAggPushdown -> "false"

  test("name-pure: eventName-scoped COUNT/MIN/MAX plans complete, parses nothing") {
    val dir = tmp()
    (0 until 3).foreach(p => writeNamed(dir, p * 100, 100))
    val q = parityAgg(o => countMinMax(rdNamed(dir, namedSchema, o)), Gate)
    assert(plan(q).contains(" complete"), plan(q))
    assert(parsed(q) == 0L)
    val r = q.collect().head
    assert(r.getLong(0) == 300L && r.getLong(2) == T0 + 299 &&
      r.getLong(3) == 0L && r.getLong(4) == 299L)
    // the partial push answers every file from its sidecar, receipt-only
    // bounds included (their stats read is what proves purity)
    Seq(countMinMax _, receiptBounds _).foreach { agg =>
      val p = parityAgg(o => agg(rdNamed(dir, namedSchema, o)), Gate, partial)
      assert(metric(p, "filesAggFromStats") == 3L && parsed(p) == 0L, plan(p))
    }
  }

  test("name-pure: a mixed-name file streams beside a pure one, same answers") {
    val dir = tmp()
    writeNamed(dir, 0, 100)
    // odd ids are Np::O: the file's count, id and receipt maxima all
    // differ from what its admitted Np::E records read
    writeNamed(dir, 100, 100, i => if (i % 2 == 0) "Np::E" else "Np::O")
    Seq(countMinMax _, receiptBounds _).foreach { agg =>
      val p = parityAgg(o => agg(rdNamed(dir, namedSchema, o)), Gate, partial)
      assert(metric(p, "filesAggFromStats") == 1L, plan(p))
      assert(metric(p, "framesAggFromStats") == 0L && parsed(p) == 50L, plan(p))
      val c = parityAgg(o => agg(rdNamed(dir, namedSchema, o)), Gate)
      assert(!plan(c).contains(" complete"), plan(c))
    }
    assert(parityAgg(o => countMinMax(rdNamed(dir, namedSchema, o)), Gate)
      .collect().head.getLong(2) == T0 + 198)
  }

  test("name-pure: a sidecar without nc= falls back to the stream") {
    val dir = tmp()
    (0 until 2).foreach(p => writeNamed(dir, p * 100, 100, compression = "gzip"))
    SidecarFixtures.stripNamesComplete(dir)
    val q = parityAgg(o => countMinMax(rdNamed(dir, namedSchema, o)), Gate)
    assert(!plan(q).contains(" complete"), plan(q))
    assert(metric(q, "filesAggFromStats") == 0L && parsed(q) == 200L)
    // the same files answer from their sidecars without the gate
    val u = parityAgg(o => countMinMax(rdNamed(dir, namedSchema, o)), partial)
    assert(metric(u, "filesAggFromStats") == 2L && parsed(u) == 0L)
  }

  test("name-pure: a column mapped to another event reads NULL, not attr stats") {
    val dir = tmp()
    (0 until 2).foreach(p => writeNamed(dir, p * 100, 100))
    def agg(d: DataFrame) = d.agg(count(lit(1)).as("n"),
      min(col("x")).as("mn"), max(col("x")).as("mx"), count(col("x")).as("nx"))
    def q(event: String)(o: Seq[(String, String)]) =
      agg(rdNamed(dir, "x long", o :+ ("mapping" -> s"x:$event::id")))
    val other = parityAgg(q("Np::O"), Gate)
    val r = other.collect().head
    assert(r.getLong(0) == 200L && r.isNullAt(1) && r.isNullAt(2) &&
      r.getLong(3) == 0L, s"$r")
    assert(!plan(other).contains(" complete") &&
      metric(other, "filesAggFromStats") == 0L, plan(other))
    // mapped to the files' only name, the sidecars answer
    val same = parityAgg(q("Np::E"), Gate)
    assert(plan(same).contains(" complete") && parsed(same) == 0L, plan(same))
    assert(same.collect().head.getLong(2) == 199L)
  }

  test("name-pure: eventName-filtered GROUP BY event-name column counts from sidecars") {
    val dir = tmp()
    (0 until 2).foreach(p => writeNamed(dir, p * 100, 100))
    def q(o: Seq[(String, String)]) =
      rdNamed(dir, "id long, ev string", o :+ ("eventNameColumn" -> "ev"))
        .groupBy(col("ev")).agg(count(lit(1)).as("n"))
    val g = parityAgg(q, Gate)
    assert(g.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("Np::E", 200L)))
    assert(plan(g).contains("groupBy=[ev]") && parsed(g) == 0L, plan(g))
    val p = parityAgg(q, Gate, partial)
    assert(metric(p, "filesAggFromStats") == 2L && parsed(p) == 0L, plan(p))
  }
}

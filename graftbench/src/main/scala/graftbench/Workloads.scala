package graftbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Sizes of one run. `full` is what the benchmark measures; `tiny` is the
  * seconds-long self-test. */
final case class Scale(scanEvents: Int, scanFiles: Int, lookupEvents: Int,
    lookupFiles: Int, ingestEvents: Int, ingestFiles: Int, docs: Int)
object Scale {
  val full = Scale(scanEvents = 900000, scanFiles = 16, lookupEvents = 600000,
    lookupFiles = 8, ingestEvents = 480000, ingestFiles = 24, docs = 1000)
  val tiny = Scale(40000, 4, 30000, 2, 24000, 8, 200)
}

/** One op's outcome: events it completed, its latency samples (one per
  * query, micro-batch or pipeline pass) and the check of its answer, which
  * the loop runs after it has read the op's wall and CPU time. */
final case class OpOut(events: Long, latMs: Seq[Double], check: () => Boolean)

/** State one op sees. `traced` ops record spans and per-layer samples. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val traced: Boolean,
    val op: Long, val layer: Layer) {
  var opSpan: Int = -1
  /** span id the listener's job spans of this op hang under */
  var execSpan: Int = -1
}

/** Per-layer samples from traced ops, by metric name. */
final class Layer {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def rec(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def median(name: String): Double = Stats.median(samples.getOrElse(name, Nil).toSeq)
  def mean(name: String): Double = samples.get(name).filter(_.nonEmpty).map(s => s.sum / s.size).getOrElse(0.0)
  def sum(name: String): Double = samples.get(name).map(_.sum).getOrElse(0.0)
}

trait Workload {
  /** The benchmark's own input generation (not part of setup_s); returns
    * the input digest. */
  def generate(seed: Long, scale: Scale): String
  /** The program's set-up for one repetition, warm-up of every op shape
    * included. */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Op shapes in the rotation; op i runs shape i % shapes. */
  def shapeCount: Int = 1
  def op(c: Ctx, i: Int): OpOut
  /** Checks of outputs kept on disk, one per op, made after timing. */
  def verifyDeferred(): Seq[Boolean] = Nil
  /** On-disk bytes per event of the data the workload lands or reads. */
  def bytesPerEvent: Double
  /** Extra traced-run evidence (the lookup shortcut table). */
  def traceNotes(spark: SparkSession): Map[String, Any] = Map.empty
}

object Workloads {
  def apply(name: String, work: File): Workload = name match {
    case "scan" => new ScanWorkload(work)
    case "lookup" => new LookupWorkload(work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names = Seq("scan", "lookup")

  /** Rows as sorted strings, integers widened to Long, for comparison with
    * the generator's expected answer. */
  def canon(rows: Seq[Row]): Seq[String] =
    rows.map(r => r.toSeq.map {
      case i: Int => i.toLong.toString
      case s: Short => s.toLong.toString
      case b: java.lang.Boolean => b.toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted
  def canonExp(rows: Iterable[Seq[Any]]): Seq[String] =
    rows.map(_.map(v => String.valueOf(v)).mkString("|")).toSeq.sorted

  /** Plan, then execute, a batch query; traced ops record the planning
    * time and the scan's metrics. */
  def query(c: Ctx, label: String, df: => DataFrame): (Array[Row], ScanFacts) = {
    c.tracer.span(c.op, -1, label) { opSpan =>
      c.opSpan = opSpan
      val d = df
      val t0 = System.nanoTime()
      c.tracer.span(c.op, opSpan, "lwes_source.plan") { _ => d.queryExecution.executedPlan }
      val planMs = (System.nanoTime() - t0) / 1e6
      val rows = c.tracer.span(c.op, opSpan, "execute") { id => c.execSpan = id; d.collect() }
      val facts = if (c.traced) ScanFacts.of(d.queryExecution.executedPlan) else ScanFacts(Nil, Map.empty)
      if (c.traced) c.layer.rec("plan_ms", planMs)
      (rows, facts)
    }
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** Record the lwes_source counters of one traced batch query. */
  def recScan(c: Ctx, f: ScanFacts, listedFiles: Int, eligibleShortcut: Boolean): Unit = if (c.traced) {
    c.layer.rec("events_parsed", f("eventsParsed"))
    val dropped = f("rowsFiltered") + f("eventsSkipped")
    val seen = f("eventsParsed") + dropped
    if (seen > 0) c.layer.rec("rows_filtered_ratio", dropped.toDouble / seen)
    if (listedFiles > 0) {
      val skipped = f("filesPruned") + f("filesPrunedByStats") + f("filesPrunedByTopN") + f("filesAggFromStats")
      c.layer.rec("files_opened_ratio", math.max(0.0, (listedFiles - skipped).toDouble / listedFiles))
    }
    if (eligibleShortcut) c.layer.rec("shortcut_hit", if (f("eventsParsed") == 0) 1.0 else 0.0)
  }
}

import Workloads._

/** Full-decode Hive-style SQL over raw gzip captures. */
final class ScanWorkload(work: File) extends Workload {
  private var ev: Gen.WebEvents = _
  private var expected: Map[String, Seq[String]] = Map.empty
  private val raw = new File(work, "raw")
  private val mapping = Seq("url:Web::Click::url", "status:Web::Click::status",
    "user_id:Web::Click::user", "bytes:Web::Click::bytes", "ad_id:Web::Impression::ad",
    "imp_user:Web::Impression::user", "cost:Web::Impression::cost",
    "err_code:Web::Error::code", "err_url:Web::Error::url").mkString(", ")
  private val schema = "etype string, ReceiptTime long, SiteID int, req long, url string, " +
    "status int, user_id long, bytes long, ad_id int, imp_user long, cost long, " +
    "err_code int, err_url string"
  private def campaign(ad: Int) = s"camp${ad % 37}"
  private def inDim(ad: Int) = ad % 5 != 0

  val shapes: Seq[(String, String)] = Seq(
    "urls" -> "SELECT url, count(*) AS c, sum(bytes) AS b FROM web WHERE etype = 'Web::Click' GROUP BY url",
    "sites" -> "SELECT SiteID, etype, count(*) AS c, max(ReceiptTime) AS mx FROM web GROUP BY SiteID, etype",
    "campaigns" -> ("SELECT /*+ BROADCAST(d) */ d.campaign, count(*) AS c, sum(w.cost) AS s " +
      "FROM web w JOIN ads d ON w.ad_id = d.ad_id GROUP BY d.campaign"),
    "top_users" -> ("SELECT status, user_id, total FROM (SELECT status, user_id, total, " +
      "row_number() OVER (PARTITION BY status ORDER BY total DESC, user_id) AS rn FROM " +
      "(SELECT status, user_id, sum(bytes) AS total FROM web WHERE etype = 'Web::Click' " +
      "GROUP BY status, user_id)) WHERE rn <= 5"),
    "residual" -> ("SELECT status, count(*) AS c, sum(bytes) AS b FROM web " +
      "WHERE (bytes + user_id) % 7 = 3 GROUP BY status"))

  override def shapeCount: Int = shapes.size

  def generate(seed: Long, scale: Scale): String = {
    ev = Gen.web(raw, seed, scale.scanFiles, scale.scanEvents)
    expected = expect()
    ev.digest
  }

  private def expect(): Map[String, Seq[String]] = {
    val urls = mutable.HashMap.empty[Int, (Long, Long)]
    val sites = mutable.HashMap.empty[(Int, Int), (Long, Long)]
    val camps = mutable.HashMap.empty[String, (Long, Long)]
    val userTot = mutable.HashMap.empty[(Int, Long), Long]
    val resid = mutable.HashMap.empty[Int, (Long, Long)]
    var i = 0
    while (i < ev.n) {
      val k = ev.etype(i).toInt
      val s = sites.getOrElse((ev.site(i), k), (0L, Long.MinValue))
      sites((ev.site(i), k)) = (s._1 + 1, math.max(s._2, ev.time(i)))
      if (k == 0) {
        val u = urls.getOrElse(ev.url(i), (0L, 0L)); urls(ev.url(i)) = (u._1 + 1, u._2 + ev.bytes(i))
        val key = (ev.status(i), ev.user(i)); userTot(key) = userTot.getOrElse(key, 0L) + ev.bytes(i)
        if ((ev.bytes(i) + ev.user(i)) % 7 == 3) {
          val r = resid.getOrElse(ev.status(i), (0L, 0L)); resid(ev.status(i)) = (r._1 + 1, r._2 + ev.bytes(i))
        }
      } else if (k == 1 && inDim(ev.ad(i))) {
        val c = camps.getOrElse(campaign(ev.ad(i)), (0L, 0L)); camps(campaign(ev.ad(i))) = (c._1 + 1, c._2 + ev.cost(i))
      }
      i += 1
    }
    val top = userTot.toSeq.groupBy(_._1._1).toSeq.flatMap { case (st, xs) =>
      xs.sortBy { case ((_, u), t) => (-t, u) }.take(5).map { case ((_, u), t) => Seq(st.toLong, u, t) }
    }
    Map(
      "urls" -> canonExp(urls.map { case (u, (c, b)) => Seq(Gen.url(u), c, b) }),
      "sites" -> canonExp(sites.map { case ((s, k), (c, mx)) => Seq(s.toLong, Gen.EventTypes(k), c, mx) }),
      "campaigns" -> canonExp(camps.map { case (cp, (c, s)) => Seq(cp, c, s) }),
      "top_users" -> canonExp(top),
      "residual" -> canonExp(resid.map { case (st, (c, b)) => Seq(st.toLong, c, b) }))
  }

  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    spark.read.format("lwes").schema(schema).option("eventNameColumn", "etype")
      .option("mapping", mapping).load(raw.getPath).createOrReplaceTempView("web")
    (0 until Gen.Ads).filter(inDim).map(a => (a, campaign(a))).toDF("ad_id", "campaign")
      .createOrReplaceTempView("ads")
    shapes.foreach { case (_, sql) => spark.sql(sql).collect() }
  }

  def op(c: Ctx, i: Int): OpOut = {
    val (label, sql) = shapes(i % shapes.size)
    val ((rows, facts), ms) = timed(query(c, s"scan.$label", c.spark.sql(sql)))
    recScan(c, facts, ev.files.size, eligibleShortcut = false)
    OpOut(ev.n, Seq(ms), () => canon(rows.toSeq) == expected(label))
  }

  def bytesPerEvent: Double = ev.files.map(_.length).sum.toDouble / ev.n
}

/** Dashboard queries over an eventName-scoped table that graft lands. */
final class LookupWorkload(work: File) extends Workload {
  private var ev: Gen.WebEvents = _
  private var seed = 0L
  private val raw = new File(work, "raw")
  private var table: File = _
  private var clicks: Array[Int] = _ // event indexes of clicks, time order
  private var clickDt: Array[String] = _ // dt partition of each click
  private var holiday = ""
  private val schema = "ReceiptTime long, req long, url string, user long, status int, bytes long, dt string"
  private val days = (0 until Gen.Days).map(d => Gen.dtOf(Gen.T0 + d * Gen.DayMs))
  private var landed = 0

  override def shapeCount: Int = shapes.size

  def generate(s: Long, scale: Scale): String = {
    seed = s
    ev = Gen.web(raw, s, scale.lookupFiles, scale.lookupEvents)
    clicks = (0 until ev.n).filter(ev.isClick).toArray
    clickDt = clicks.map(i => Gen.dtOf(ev.time(i)))
    holiday = days(new SplittableRandom(s).nextInt(days.size))
    ev.digest
  }

  private def read(spark: SparkSession, dir: File): DataFrame =
    spark.read.format("lwes").schema(schema).option("eventName", "Web::Click").load(dir.getPath)

  def setup(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    if (table != null) rmrf(table)
    table = new File(work, s"table-$rep")
    spark.read.format("lwes").schema("ReceiptTime long, req long, url string, user long, status int, bytes long")
      .option("eventName", "Web::Click").load(raw.getPath)
      .withColumn("dt", date_format(timestamp_millis(col("ReceiptTime")), "yyyy-MM-dd"))
      .repartitionByRange(24, col("ReceiptTime"))
      .write.format("lwes").option("eventName", "Web::Click").option("partitionBy", "dt")
      .mode("append").save(table.getPath)
    landed = Wire.journals(table).size
    read(spark, table).createOrReplaceTempView("clicks")
    days.map(d => (d, d == holiday)).toDF("dt", "holiday").createOrReplaceTempView("days")
    (0 until shapes.size).foreach(s => spark.sql(shapes(s)._2(params(-1 - s))).collect())
  }

  private def params(i: Int): SplittableRandom = new SplittableRandom(seed * 7919L + i)

  /** (label, sql from per-op parameters) */
  val shapes: Seq[(String, SplittableRandom => String)] = Seq(
    "point" -> (r => s"SELECT req, url, user, status, bytes, ReceiptTime FROM clicks WHERE req = ${clicks(r.nextInt(clicks.length))}"),
    "range" -> { r =>
      val k = r.nextInt(clicks.length - 200)
      s"SELECT req, bytes FROM clicks WHERE ReceiptTime >= ${ev.time(clicks(k))} AND ReceiptTime < ${ev.time(clicks(k + 150))}"
    },
    "count_min_max" -> (_ => "SELECT count(*), min(ReceiptTime), max(ReceiptTime) FROM clicks"),
    "newest_k" -> (_ => "SELECT req, ReceiptTime FROM clicks ORDER BY ReceiptTime DESC LIMIT 10"),
    "day_status" -> (r => s"SELECT status, count(*), sum(bytes) FROM clicks WHERE dt = '${days(r.nextInt(days.size))}' GROUP BY status"),
    "holiday_join" -> (_ => "SELECT count(*), sum(c.bytes) FROM clicks c JOIN days d ON c.dt = d.dt WHERE d.holiday"),
    "user_urls" -> (r => s"SELECT url, count(*) FROM clicks WHERE user = ${ev.user(clicks(r.nextInt(clicks.length)))} GROUP BY url"))

  private def expected(label: String, sql: String): Seq[String] = {
    val cl = clicks
    def num(after: String): Long = sql.split(after)(1).trim.takeWhile(_.isDigit).toLong
    label match {
      case "point" =>
        val i = num("req =").toInt
        canonExp(Seq(Seq(i.toLong, Gen.url(ev.url(i)), ev.user(i), ev.status(i).toLong, ev.bytes(i), ev.time(i))))
      case "range" =>
        val lo = num(">="); val hi = num("<")
        canonExp(cl.filter(i => ev.time(i) >= lo && ev.time(i) < hi).map(i => Seq(i.toLong, ev.bytes(i))))
      case "count_min_max" =>
        canonExp(Seq(Seq(cl.length.toLong, ev.time(cl.head), ev.time(cl.last))))
      case "newest_k" =>
        canonExp(cl.takeRight(10).map(i => Seq(i.toLong, ev.time(i))))
      case "day_status" =>
        val d = sql.split("dt = '")(1).take(10)
        canonExp(cl.indices.filter(clickDt(_) == d).map(cl).groupBy(ev.status(_)).map { case (st, xs) =>
          Seq(st.toLong, xs.length.toLong, xs.map(ev.bytes(_)).sum) })
      case "user_urls" =>
        val u = num("user =")
        canonExp(cl.filter(ev.user(_) == u).groupBy(i => Gen.url(ev.url(i))).map { case (url, xs) => Seq(url, xs.length.toLong) })
      case "holiday_join" =>
        val xs = cl.indices.filter(clickDt(_) == holiday).map(cl)
        canonExp(Seq(Seq(xs.length.toLong, xs.map(ev.bytes(_)).sum)))
    }
  }

  def op(c: Ctx, i: Int): OpOut = {
    val (label, mk) = shapes(i % shapes.size)
    val sql = mk(params(i))
    val ((rows, facts), ms) = timed(query(c, s"lookup.$label", c.spark.sql(sql)))
    val listed = if (label == "day_status") landed / days.size else landed
    recScan(c, facts, listed, eligibleShortcut = label == "count_min_max")
    if (c.traced) shortcuts.getOrElseUpdate(label, facts)
    OpOut(clicks.length, Seq(ms), () => canon(rows.toSeq) == expected(label, sql))
  }

  private val shortcuts = mutable.LinkedHashMap.empty[String, ScanFacts]

  private def markers(f: ScanFacts): Seq[String] =
    Seq("complete", "footerOnly", "topN=", "pushed=", "agg=").filter(m => f.descriptions.exists(_.contains(m)))

  /** Which shortcut each shape's executed plan took, plus the same
    * aggregate and newest-k shapes over the table read without the
    * eventName option, which is the contrast the eventName gap shows. */
  override def traceNotes(spark: SparkSession): Map[String, Any] = {
    def row(f: ScanFacts) = Map("markers" -> markers(f), "counters" -> f.counters, "scan" -> f.descriptions)
    spark.read.format("lwes").schema(schema).load(table.getPath).createOrReplaceTempView("clicks_unscoped")
    val unscoped = Seq("count_min_max" -> "SELECT count(*), min(ReceiptTime), max(ReceiptTime) FROM clicks_unscoped",
      "newest_k" -> "SELECT req, ReceiptTime FROM clicks_unscoped ORDER BY ReceiptTime DESC LIMIT 10").map { case (l, q) =>
      val d = spark.sql(q); d.collect(); l -> row(ScanFacts.of(d.queryExecution.executedPlan))
    }.toMap
    Map("shortcut_table" -> shortcuts.map { case (l, f) => l -> row(f) }.toMap,
      "event_name_gap" -> Map("scoped" -> shortcuts.filter(x => unscoped.contains(x._1)).map { case (l, f) => l -> row(f) }.toMap,
        "unscoped" -> unscoped,
        "fact" -> ("with option(eventName) set, count/min/max and newest-k parse every event; " +
          "the same table read without the option answers them from metadata")))
  }

  def bytesPerEvent: Double = Stats.dirBytes(table).toDouble / clicks.length
}

/** AvailableNow stream over a raw backlog, landed through the lwes sink.
  * Not a timed workload: on a shared 4-vCPU VM its medians moved 2.3x
  * with the host's load where scan's moved 1.2x, so it runs once per
  * traced run (see `Main.ingestPass`) and fills the `streaming.*`
  * per-layer metrics. */
final class IngestWorkload(work: File) extends Workload {
  private var ev: Gen.WebEvents = _
  private val live = new File(work, "live")
  private val warmDir = new File(work, "warm")
  private var expCount = 0L
  private var expSum = 0L
  private val outputs = mutable.ArrayBuffer.empty[File]
  private var batches = 0L

  def generate(seed: Long, scale: Scale): String = {
    // equal files, as a size-rotating journaller leaves them, so every
    // micro-batch of four files is four equal tasks whatever the seed
    ev = Gen.web(live, seed, scale.ingestFiles, scale.ingestEvents, uneven = false)
    Gen.web(warmDir, seed + 1, 4, scale.ingestEvents / 12, "warm", uneven = false)
    var i = 0
    while (i < ev.n) {
      if (keep(i)) { expCount += 1; expSum += Wire.mix(i.toLong, ev.user(i), Gen.url(ev.url(i)), ev.status(i).toLong, ev.bytes(i), ev.time(i)) }
      i += 1
    }
    ev.digest
  }
  private def keep(i: Int) = ev.isClick(i) && ev.status(i) < 500

  private def drain(spark: SparkSession, in: File, tag: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val out = new File(work, s"out-$tag")
    val q = spark.readStream.format("lwes")
      .schema("ReceiptTime long, req long, url string, user long, status int, bytes long")
      .option("eventName", "Web::Click").option("maxFilesPerTrigger", "4").load(in.getPath)
      .filter(col("status") < 500)
      .writeStream.format("lwes").option("eventName", "Web::Click")
      .option("checkpointLocation", new File(work, s"ck-$tag").getPath)
      .trigger(Trigger.AvailableNow()).start(out.getPath)
    q.awaitTermination()
    q
  }

  def setup(spark: SparkSession, rep: Int): Unit = drain(spark, warmDir, s"warm$rep")

  def op(c: Ctx, i: Int): OpOut = {
    val tag = s"op$i"
    // registered before the drain, so a failing op still has its entry and
    // the deferred checks stay aligned with op ids
    outputs += new File(work, s"out-$tag")
    val q = c.tracer.span(c.op, -1, "ingest.drain") { id => c.opSpan = id; c.execSpan = id; drain(c.spark, live, tag) }
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    batches += progress.length
    val lat = progress.map(_.durationMs.get("triggerExecution").toDouble).toSeq
    if (c.traced) progress.foreach { p =>
      val trig = p.durationMs.get("triggerExecution").toDouble
      val add = Option(p.durationMs.get("addBatch")).map(_.toDouble).getOrElse(0.0)
      c.layer.rec("add_batch_ms", add)
      c.layer.rec("batch_overhead_ms", trig - add)
      c.layer.rec("plan_ms", Option(p.durationMs.get("queryPlanning")).map(_.toDouble).getOrElse(0.0))
      c.layer.rec("events_parsed", p.numInputRows.toDouble)
      p.sources.headOption.flatMap(s => Option(s.metrics.get("backlogFiles"))).foreach(b => c.layer.rec("backlog_files", b.toDouble))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val bid = c.tracer.add(c.op, c.opSpan, "streaming.batch", c.tracer.fromEpochMs(start), c.tracer.fromEpochMs(start + trig.toLong))
      c.tracer.add(c.op, bid, "streaming.add_batch", c.tracer.fromEpochMs(start), c.tracer.fromEpochMs(start + add.toLong))
    }
    OpOut(expCount, lat, () => progress.nonEmpty)
  }

  override def verifyDeferred(): Seq[Boolean] = outputs.toSeq.map { out =>
    var n = 0L; var s = 0L
    Wire.journals(out).foreach(f => Wire.read(f).foreach { r =>
      val a = r.attrs
      n += 1
      s += Wire.mix(a("req"), a("user"), a("url"), a("status"), a("bytes"), r.time)
    })
    n == expCount && s == expSum
  }

  def bytesPerEvent: Double = outputs.headOption.map(o => Stats.dirBytes(o).toDouble / expCount).getOrElse(0.0)
  /** Journal files written per micro-batch commit. */
  def filesPerEpoch: Double =
    if (batches == 0) 0.0 else outputs.map(o => Wire.journals(o).size).sum.toDouble / batches
}

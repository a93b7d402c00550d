package graft.queries

import java.nio.file.Files

import graft.lwes.{LwesCodec, LwesEvent}
import org.apache.hadoop.io.{BytesWritable, LongWritable, SequenceFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LWES format correctness queries (SURVEY.md §2 A3-A10).
  *
  * Each query materializes a real journal (the binary wire format) from a
  * testdata table, reads it back through `format("lwes")`, and aggregates;
  * the DuckDB oracle computes the same aggregate from the original
  * parquet. A hash match proves the full serialize → header → gzip →
  * parse → type-convert pipeline preserves the data.
  */
object LwesQueries {
  import Tables.{events, t}

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** The stream gates order wave files by mtime; a filesystem that
    * silently rejects setLastModified would diverge file-processing
    * order from the oracle's wave index. Fail fast instead. */
  private def bumpMtime(f: java.io.File, t: Long): Unit =
    require(f.setLastModified(t),
      s"setLastModified($t) rejected for $f — wave ordering would be lost")

  /** Run `body` (typically a writeStream .start()) with
    * spark.sql.shuffle.partitions narrowed to 4: the streaming gates
    * run few sequential micro-batches, where 32 state-store tasks per
    * batch is pure per-task overhead. start() clones the session conf,
    * so restoring afterwards does not disturb the running query. */
  private def withFewShufflePartitions[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    try { s.conf.set("spark.sql.shuffle.partitions", "4"); body }
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Journal materialization is test scaffolding (the operator under
    * test is the read path); memoize per (source dir, shape) within the
    * JVM so Verify/Bench don't rebuild identical journals per query. */
  private val journalCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def cached(key: String)(build: String => Unit): String =
    journalCache.getOrElseUpdate(key, {
      val dir = tmpDir(key.takeWhile(_ != '|'))
      build(dir)
      dir
    })

  /** events/s drain rate per streaming gate (input rows ÷ summed
    * micro-batch wall time), recorded when each gate's query finishes.
    * Bench folds the latest reading per key into bench-out.json, so a
    * streaming-throughput regression is as visible round-over-round as
    * a batch timing one. */
  val streamThroughput =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Double)]

  /** State-store visibility for the streaming gates: at 100 TB the real
    * streaming risk is unbounded state, and a watermark/eviction
    * regression shows up as state growth long before it shows up as a
    * wrong answer. Logs peak rows/bytes per stateful operator from the
    * finished query's progress history so the numbers are recorded
    * round-over-round in the Verify/Bench output. Also records the
    * gate's drain throughput (see [[streamThroughput]]). */
  private def logStateMetrics(tag: String,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val ops = q.recentProgress.flatMap(_.stateOperators)
    if (ops.nonEmpty) {
      val byOp = ops.groupBy(_.operatorName)
      val summary = byOp.map { case (name, ps) =>
        s"$name rows=${ps.map(_.numRowsTotal).max} bytes=${ps.map(_.memoryUsedBytes).max}"
      }.mkString("; ")
      System.err.println(s"[graft-stream-state] $tag: $summary")
    }
    val rows = q.recentProgress.map(_.numInputRows).sum
    val secs = q.recentProgress.map(_.batchDuration).sum / 1000.0
    if (rows > 0 && secs > 0) streamThroughput(tag) = (rows, secs)
  }

  /** Planted-family corpus for the keep-best gates — base docs ×4 ids,
    * a copy for every 3rd, a "extra tail words" variant for every 5th —
    * written as 6 contiguous-id waves with strictly increasing mtimes
    * (one wave per file). Shared by `lwes_stream_keepbest` and
    * `lwes_stream_keepbest_reconciled`. */
  private def keepbestJournal(s: SparkSession, d: String): String =
    cached(s"skeepbest|$d") { dir =>
      val base = t(s, d, "documents")
      val corpus = base
        .select((col("doc_id") * 4).as("doc_id"), col("text"), col("lang"),
          col("n_chars"))
        .unionAll(base.filter(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") * 4 + 1).as("doc_id"), col("text"),
            col("lang"), col("n_chars")))
        .unionAll(base.filter(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") * 4 + 2).as("doc_id"),
            concat(col("text"), lit(" extra tail words")).as("text"),
            col("lang"), col("n_chars")))
      val docs = corpus
        .select(col("doc_id"), col("text"), col("lang"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("doc_id")).collect()
      // 6 contiguous doc_id ranges, strictly increasing mtimes ->
      // one wave per file; families are id-adjacent so (almost)
      // always co-wave
      val chunk = (docs.length + 5) / 6
      docs.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
        val before = Option(new java.io.File(dir).listFiles())
          .getOrElse(Array.empty).map(_.getName).toSet
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
            docs.head.schema)
          .write.format("lwes").option("eventName", "Doc::K")
          .mode("append").save(dir)
        new java.io.File(dir).listFiles()
          .filterNot(f => before.contains(f.getName) ||
            f.getName.startsWith(".") || f.getName.startsWith("_"))
          .foreach(bumpMtime(_, 1700000000000L + i * 60000L))
      }
    }

  /** Drain the keep-best-at-ingest stream over `src` (one wave per
    * micro-batch) into a fresh sink dir; returns the sink. */
  private def runKeepBestStream(s: SparkSession, src: String,
      tag: String): String = {
    import s.implicits._
    val dst = tmpDir(s"$tag-dst")
    val ckpt = tmpDir(s"$tag-ckpt")
    val q = withFewShufflePartitions(s) {
      val in = s.readStream.format("lwes")
        .schema("doc_id long, text string, lang string, n_chars long")
        .option("eventName", "Doc::K")
        .option("maxFilesPerTrigger", "1").load(src)
        .withColumn("quality", length(col("text")).cast("double"))
        .as[graft.streaming.StreamOps.QNearDocRow]
      graft.streaming.StreamOps.nearDupKeepBestVerdicts(s, in)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[graft.streaming.StreamOps.BandVerdict],
           _: Long) =>
            // persisted: two sinks off one stateful micro-batch must
            // not re-execute the flatMapGroupsWithState plan
            val df = b.toDF().persist()
            try {
              // coalesce(1): a micro-batch's verdicts are a few hundred
              // rows — 4 post-shuffle write tasks per sink were pure
              // per-task overhead, and 4x the sink files for the
              // read-back to open (same rows either way)
              graft.streaming.StreamOps.keepUncollided(df).coalesce(1)
                .write.format("lwes").option("eventName", "Ned::K")
                .mode("append").save(dst)
              // the signature journal: reconcileKeepBest reads THESE
              // instead of re-hashing the day's text (heterogeneous
              // journal, A6 — same dir, second event type)
              graft.streaming.StreamOps.docSigs(df).coalesce(1)
                .write.format("lwes").option("eventName", "Sig::K")
                .mode("append").save(dst)
            } finally df.unpersist()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    q.awaitTermination()
    logStateMetrics(tag, q)
    dst
  }

  /** events table → journal dir, one event type per event_type value,
    * header fields derived from the row. */
  private def eventsJournal(s: SparkSession, d: String, types: Seq[String]): String =
    cached(s"events|$d|${types.mkString(",")}") { dir =>
      val ev = events(s, d)
        .withColumn("ReceiptTime", expr("ts div 1000000"))
        .withColumn("SiteID", (col("user_id") % 5).cast("int"))
        .select("event_id", "user_id", "event_type", "value", "ReceiptTime", "SiteID")
      types.foreach { tp =>
        ev.filter(col("event_type") === tp).drop("event_type")
          .write.format("lwes").option("eventName", s"Ev::$tp").mode("append").save(dir)
      }
    }

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(

    // A3+A10: full write→read round-trip then aggregate.
    "lwes_roundtrip_agg" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"rt|$d") { dir =>
          events(s, d)
            .select("event_id", "user_id", "event_type", "value")
            .write.format("lwes").option("eventName", "App::Event").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("event_id long, user_id long, event_type string, value double")
          .option("eventName", "App::Event").load(dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A4: eventName pushdown — only the requested type is parsed.
    "lwes_event_filter" -> ((
      (s: SparkSession, d: String) => {
        val dir = eventsJournal(s, d, Seq("click", "view"))
        s.read.format("lwes")
          .schema("event_id long, user_id long, value double")
          .option("eventName", "Ev::click").load(dir)
          .agg(count(lit(1)).as("n_clicks"),
            round(sum(col("value")), 2).as("click_value"),
            countDistinct(col("user_id")).as("n_users"))
      },
      """SELECT count(*) AS n_clicks, round(sum(value), 2) AS click_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type = 'click'""".stripMargin)),

    // A4 generalized to VALUES: pushed attribute predicates evaluated
    // inside the vectorized parse — non-matching records short-circuit
    // mid-payload (skip remaining attributes, never materialize), with
    // Spark's residual filter re-applying everything so deferred shapes
    // stay correct. The aggregate hash proves the in-parse evaluation
    // drops exactly the rows the oracle's WHERE drops, and the in-gate
    // require on the scan's rowsFiltered metric (r15) proves the drop
    // happened IN THE PARSER, not in Spark's residual Filter — the
    // metric only counts records the byte-level evaluation rejected.
    "lwes_attr_pushdown" -> ((
      (s: SparkSession, d: String) => {
        val dir = eventsJournal(s, d, Seq("click", "view"))
        val df = s.read.format("lwes")
          .schema("event_id long, user_id long, value double")
          .option("eventName", "Ev::click").load(dir)
          .filter(col("user_id") <= 25 && col("event_id") > 100)
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            max(col("event_id")).as("max_event"))
        val rows = df.collect()
        val nFiltered = graft.sources.lwes.LwesScan
          .scanMetricSum(df.queryExecution.executedPlan, "rowsFiltered")
        require(nFiltered > 0,
          s"pushed attribute predicates never rejected a record inside " +
            s"the parse (rowsFiltered = $nFiltered)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, round(sum(value), 2) AS total_value,
        |  max(event_id) AS max_event
        |FROM events
        |WHERE event_type = 'click' AND user_id <= 25 AND event_id > 100""".stripMargin)),

    // A11 breadth (r16): string ranges, LIKE-prefix, and IN are pushed
    // into the parse too — the filters a `props LIKE 'x%'`-era journal
    // query actually issues. Same two-sided proof as lwes_attr_pushdown:
    // the aggregate hash pins WHAT survives, the in-gate rowsFiltered
    // require pins WHERE the rejection happened (byte-level, in-parse,
    // before materialization — not in Spark's residual Filter).
    "lwes_attr_pushdown_str" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"map|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Created").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("priority string, total double, okey long")
          .option("eventName", "Order::Created")
          .option("mapping", "priority:o_orderpriority, total:o_totalprice, okey:o_orderkey")
          .load(dir)
          .filter(col("priority").isin("1-URGENT", "2-HIGH", "3-MEDIUM") &&
            col("priority") >= "1-U" && col("priority") < "3" &&
            col("priority").startsWith("1-"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("total")), 2).as("total_price"),
            max(col("okey")).as("max_key"))
        val rows = df.collect()
        val nFiltered = graft.sources.lwes.LwesScan
          .scanMetricSum(df.queryExecution.executedPlan, "rowsFiltered")
        require(nFiltered > 0,
          s"pushed string predicates never rejected a record inside " +
            s"the parse (rowsFiltered = $nFiltered)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
        |  AND o_orderpriority >= '1-U' AND o_orderpriority < '3'
        |  AND o_orderpriority LIKE '1-%'""".stripMargin)),

    // A11 breadth (r18): LIKE '%x%' / LIKE '%x' push as
    // StringContains / StringEndsWith and evaluate inside the parse
    // (byte substring/suffix probes with the all-ASCII conclusive-
    // reject rule) — the ONLY pushed predicates here, so the in-gate
    // rowsFiltered require proves THESE shapes reject in-parse, not a
    // neighbouring equality.
    "lwes_attr_pushdown_substr" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"map|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Created").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("priority string, total double, okey long")
          .option("eventName", "Order::Created")
          .option("mapping", "priority:o_orderpriority, total:o_totalprice, okey:o_orderkey")
          .load(dir)
          .filter(col("priority").contains("URG") && col("priority").endsWith("T"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("total")), 2).as("total_price"),
            max(col("okey")).as("max_key"))
        val rows = df.collect()
        val nFiltered = graft.sources.lwes.LwesScan
          .scanMetricSum(df.queryExecution.executedPlan, "rowsFiltered")
        require(nFiltered > 0,
          s"pushed substring/suffix predicates never rejected a record " +
            s"inside the parse (rowsFiltered = $nFiltered)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderkey) AS max_key
        |FROM orders
        |WHERE o_orderpriority LIKE '%URG%' AND o_orderpriority LIKE '%T'""".stripMargin)),

    // A26 (r18): unfiltered COUNT(*) pushes into the scan and is
    // answered from the `.zsj` footer record counts alone — the in-gate
    // requires prove the plan took the footer path (description says
    // footerOnly) AND that not one event was parsed for it.
    "lwes_agg_count" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"map|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Created").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long")
          .option("mapping", "okey:o_orderkey")
          .load(dir)
          .agg(count(lit(1)).as("n"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("agg=[CountStar] footerOnly"),
          s"COUNT(*) was not pushed onto the footer path:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        require(nParsed == 0,
          s"footer-answered count still parsed $nParsed events")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      "SELECT count(*) AS n FROM orders")),

    // A26 (r18): MIN/MAX/COUNT(col) push as a PARTIAL aggregation —
    // one partial row per partition inside the scan (the eventName
    // filter keeps this on the streamed fold, exercising the non-footer
    // path); Spark's final merge must reproduce the unpushed answer.
    "lwes_agg_minmax" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"map|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Created").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("priority string, total double, okey long")
          .option("eventName", "Order::Created")
          .option("mapping", "priority:o_orderpriority, total:o_totalprice, okey:o_orderkey")
          .load(dir)
          .agg(min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
            min(col("priority")).as("min_pri"), max(col("priority")).as("max_pri"),
            max(col("total")).as("max_total"),
            count(col("priority")).as("n_pri"))
        val rows = df.collect()
        require(df.queryExecution.executedPlan.toString.contains("agg=["),
          "MIN/MAX/COUNT(col) aggregation was not pushed into the scan")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_orderpriority) AS min_pri, max(o_orderpriority) AS max_pri,
        |  max(o_totalprice) AS max_total, count(o_orderpriority) AS n_pri
        |FROM orders""".stripMargin)),

    // A26×A27 (r18; float bounds r20): pushed aggregates answered from
    // zone-map sidecars. GZIP journals (no footer index exists), a
    // sparse string attribute (every 7th record omits it), a NATIVE
    // double attribute (via an ESF template — the default writer keeps
    // the reference's float-as-string parity, which is metadata-blind),
    // COUNT(*)/COUNT(col)/MIN/MAX incl. double MIN/MAX — the in-gate
    // requires prove every file was answered from its sidecar with
    // ZERO events parsed, i.e. the "how many / what span" query never
    // opened a journal.
    "lwes_agg_stats" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"aggstats2|$d") { dir =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, ".aggstats.esf"),
            """Order::Created
              |{
              |  required int64 o_orderkey;
              |  double o_totalprice;
              |  string o_orderpriority;
              |}
              |""".stripMargin)
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              when(col("o_orderkey") % 7 =!= 0, col("o_orderpriority"))
                .as("o_orderpriority"))
            .write.format("lwes").option("eventName", "Order::Created")
            .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.aggstats.esf")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, priority string, total double")
          .option("mapping",
            "okey:o_orderkey, priority:o_orderpriority, total:o_totalprice")
          .load(dir)
          .agg(count(lit(1)).as("n"), count(col("priority")).as("n_pri"),
            min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
            min(col("total")).as("min_total"), max(col("total")).as("max_total"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("agg=["),
          s"aggregation was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 1,
          s"sidecar-answered aggregate parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END) AS n_pri,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
        |FROM orders""".stripMargin)),

    // A26×A31 (r18 late): pushed ATTRIBUTE aggregates over ONE fat
    // `.zsj` answered from per-frame GSJ2 zone-map stats. Range slices
    // of a split journal can never use the whole-file sidecar (the
    // slice is not the file), and `.zsj` footers alone answer only
    // COUNT(*)/receipt bounds — per-frame stats close exactly that
    // gap: every slice folds its frames' blobs, zero frames
    // decompressed. The in-gate requires pin the path (eventsParsed
    // == 0, framesAggFromStats >= 1, filesAggFromStats == 0 so the
    // answer is attributable to FRAME stats alone); the oracle replays
    // the aggregates over parquet.
    "lwes_agg_frame_stats" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"aggframes|$d") { dir =>
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_orderpriority"))
                .as("o_orderpriority"))
            .repartition(1).sortWithinPartitions("o_orderkey")
            .write.format("lwes").option("eventName", "Order::Fz")
            .option(graft.sources.lwes.LwesOptions.Compression, "split-zstd")
            .option(graft.sources.lwes.LwesOptions.SplitFrameBytes, "32768")
            .mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, priority string")
          .option("mapping",
            "okey:o_orderkey, ckey:o_custkey, priority:o_orderpriority")
          .option(graft.sources.lwes.LwesOptions.SplitTargetBytes, "32768")
          // this gate pins the FRAME-grain (range-slice) metadata path;
          // r20 complete mode would answer from the whole-file sidecar
          .option(graft.sources.lwes.LwesOptions.CompleteAggPushdown, "false")
          .load(dir)
          .agg(count(lit(1)).as("n"), count(col("priority")).as("n_pri"),
            min(col("okey")).as("min_key"), max(col("okey")).as("max_key"),
            min(col("ckey")).as("min_cust"), max(col("ckey")).as("max_cust"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("agg=["),
          s"aggregation was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFrames = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "framesAggFromStats")
        val nFiles = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFrames >= 1 && nFiles == 0,
          s"frame-stats aggregate parsed $nParsed events " +
            s"(framesAggFromStats=$nFrames, filesAggFromStats=$nFiles)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END) AS n_pri,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust
        |FROM orders""".stripMargin)),

    // A32 (r19): GROUPED aggregate pushdown — `GROUP BY <partition
    // col>` with COUNT(*)/COUNT(col)/MIN/MAX answered per file from
    // the A27 zone-map sidecars (gzip journals: no footer exists), the
    // single most common warehouse shape over a dt-partitioned journal
    // store. Partial push: the scan emits one partial row per group
    // per partition and Spark plans the final merge. The in-gate
    // requires prove zero events parsed and every file answered from
    // its sidecar; a sparse attribute (every 7th record omits
    // o_custkey) pins COUNT(col) exactness.
    "lwes_agg_grouped" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrp|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_custkey"))
                .as("o_custkey"),
              col("prio"))
            .write.format("lwes").option("eventName", "Order::Gp")
            .option("compression", "gzip")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, prio string")
          .option("mapping", "okey:o_orderkey, ckey:o_custkey")
          .load(dir)
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"), count(col("ckey")).as("n_cust"),
            min(col("okey")).as("min_key"), max(col("okey")).as("max_key"))
          .orderBy(col("prio"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("groupBy=[prio]"),
          s"grouped aggregation was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 5,
          s"grouped sidecar aggregate parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT substr(o_orderpriority, 1, 1) AS prio, count(*) AS n,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END) AS n_cust,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin)),

    // A26×A27 (r19): STRING MIN/MAX answered from exact sidecar bounds
    // — the tracker's stored UTF-8 bytes are the column's read-back
    // values when untruncated (minExact / non-inf max), so "first/last
    // value" queries over string attributes never open a journal. The
    // sparse attribute pins null-skipping; the in-gate requires prove
    // zero parses with every file answered from its sidecar.
    "lwes_agg_str_bounds" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"aggstats|$d") { dir =>
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              when(col("o_orderkey") % 7 =!= 0, col("o_orderpriority"))
                .as("o_orderpriority"))
            .write.format("lwes").option("eventName", "Order::Created")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, priority string, total double")
          .option("mapping",
            "okey:o_orderkey, priority:o_orderpriority, total:o_totalprice")
          .load(dir)
          .agg(min(col("priority")).as("min_pri"),
            max(col("priority")).as("max_pri"),
            count(col("priority")).as("n_pri"), count(lit(1)).as("n"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("agg=["),
          s"string-bounds aggregation was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 1,
          s"string bounds parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT min(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END)
        |    AS min_pri,
        |  max(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END)
        |    AS max_pri,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_orderpriority END)
        |    AS n_pri,
        |  count(*) AS n
        |FROM orders""".stripMargin)),

    // A26/A32 (r19): integral SUM pushdown answered from the sidecar's
    // exact sm= sums — `GROUP BY dt, SUM(x)` (the revenue-per-day
    // dashboard shape) with zero events parsed. The sparse column pins
    // null-skipping exactness; sums are overflow-guarded on the write
    // side and accumulate with Spark's exact ANSI semantics on merge.
    "lwes_agg_sum" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrp|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_custkey"))
                .as("o_custkey"),
              col("prio"))
            .write.format("lwes").option("eventName", "Order::Gp")
            .option("compression", "gzip")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, prio string")
          .option("mapping", "okey:o_orderkey, ckey:o_custkey")
          .load(dir)
          .groupBy(col("prio"))
          .agg(sum(col("okey")).as("sum_key"), sum(col("ckey")).as("sum_cust"),
            count(lit(1)).as("n"))
          .orderBy(col("prio"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("SumCol") &&
            plan.toString.contains("groupBy=[prio]"),
          s"grouped SUM was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 5,
          s"sidecar-answered SUM parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT substr(o_orderpriority, 1, 1) AS prio,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END) AS BIGINT)
        |    AS sum_cust,
        |  count(*) AS n
        |FROM orders GROUP BY prio ORDER BY prio""".stripMargin)),

    // A26 (r20): MIN/MAX/COUNT over a PARTITION column answered from
    // the LISTING alone — "earliest/latest day ingested, rows per
    // store" over a partitioned journal layout with zero opens. Every
    // record in a file reads the file's own path-derived value, so the
    // listing's partition map plus the sidecar record count answer the
    // bounds exactly; the in-gate requires pin zero parses AND the
    // single-stage complete plan.
    "lwes_agg_pcol" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrp|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_custkey"))
                .as("o_custkey"),
              col("prio"))
            .write.format("lwes").option("eventName", "Order::Gp")
            .option("compression", "gzip")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, prio string")
          .option("mapping", "okey:o_orderkey, ckey:o_custkey")
          .load(dir)
          .agg(min(col("prio")).as("mn_pri"), max(col("prio")).as("mx_pri"),
            count(col("prio")).as("n_pri"), count(lit(1)).as("n"),
            max(col("okey")).as("mx_key"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        val ps = plan.toString
        require(ps.contains(" complete") && !ps.contains("HashAggregate") &&
            !ps.contains("Exchange"),
          s"partition-column dashboard did not plan single-stage:\n$ps")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        require(nParsed == 0,
          s"listing-answered partition-column aggregate parsed $nParsed events")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT min(substr(o_orderpriority, 1, 1)) AS mn_pri,
        |  max(substr(o_orderpriority, 1, 1)) AS mx_pri,
        |  count(substr(o_orderpriority, 1, 1)) AS n_pri,
        |  count(*) AS n, max(o_orderkey) AS mx_key
        |FROM orders""".stripMargin)),

    // A26 (r20): COMPLETE aggregate pushdown — when the push-time probe
    // proves EVERY file answers every pushed COUNT/MIN/MAX/SUM from its
    // sidecar (or the directory manifest), the scan reports
    // supportCompletePushDown and Spark plans NO aggregate node and NO
    // exchange: the metadata-only partition's rows ARE the final
    // answer. The in-gate requires pin the single-stage plan itself
    // (complete mode claimed, no HashAggregate, no Exchange, zero
    // events parsed); the oracle replays the same dashboard on parquet.
    "lwes_agg_complete" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrp|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_custkey"))
                .as("o_custkey"),
              col("prio"))
            .write.format("lwes").option("eventName", "Order::Gp")
            .option("compression", "gzip")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, prio string")
          .option("mapping", "okey:o_orderkey, ckey:o_custkey")
          .load(dir)
          .agg(count(lit(1)).as("n"), count(col("ckey")).as("nc"),
            min(col("okey")).as("mn"), max(col("okey")).as("mx"),
            sum(col("okey")).as("sk"), sum(col("ckey")).as("sc"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        val ps = plan.toString
        require(ps.contains(" complete"),
          s"complete pushdown mode was not claimed:\n$ps")
        require(!ps.contains("HashAggregate") && !ps.contains("SortAggregate"),
          s"complete pushdown must plan no aggregate node:\n$ps")
        require(!ps.contains("Exchange"),
          s"complete pushdown must plan no exchange:\n$ps")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        require(nParsed == 0,
          s"metadata-complete aggregate parsed $nParsed events")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n,
        |  count(CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END) AS nc,
        |  min(o_orderkey) AS mn, max(o_orderkey) AS mx,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sk,
        |  CAST(sum(CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END) AS BIGINT)
        |    AS sc
        |FROM orders""".stripMargin)),

    // A32 (r19): `GROUP BY <event-name column>` + COUNT(*) answered
    // from the sidecar's per-name record counts — "events per type"
    // over a multi-event journal store with zero opens. The r19 sidecar
    // records per-event-name counts (nc=1 header; old sidecars read
    // incomplete and stream), and the reader trusts them only when they
    // reconcile with the file's record total.
    "lwes_agg_grouped_name" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrpnm|$d") { dir =>
          t(s, d, "orders")
            .withColumn("ev", when(col("o_orderkey") % 2 === 0,
              "Order::Even").otherwise("Order::Odd"))
            .select(col("o_orderkey"), col("ev"))
            .write.format("lwes").option("eventNameColumn", "ev")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes").schema("okey long, ev string")
          .option("eventNameColumn", "ev")
          .option("mapping", "okey:o_orderkey")
          .load(dir)
          .groupBy(col("ev")).agg(count(lit(1)).as("n"))
          .orderBy(col("ev"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("groupBy=[ev]"),
          s"name-grouped aggregation was not pushed into the scan:\n$plan")
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 1,
          s"per-name count parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'Order::Even'
        |    ELSE 'Order::Odd' END AS ev, count(*) AS n
        |FROM orders GROUP BY ev ORDER BY ev""".stripMargin)),

    // A26 (r20): MIN/MAX/COUNT over the EVENT-NAME column answered
    // from the sidecar's per-name counts (trusted under the A32 rule:
    // namesComplete AND the counts reconcile with the record total) —
    // "which event types does this store hold" with zero opens. The
    // name column is never NULL, so COUNT(name) = records.
    "lwes_agg_name_bounds" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrpnm|$d") { dir =>
          t(s, d, "orders")
            .withColumn("ev", when(col("o_orderkey") % 2 === 0,
              "Order::Even").otherwise("Order::Odd"))
            .select(col("o_orderkey"), col("ev"))
            .write.format("lwes").option("eventNameColumn", "ev")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes").schema("okey long, ev string")
          .option("eventNameColumn", "ev")
          .option("mapping", "okey:o_orderkey")
          .load(dir)
          .agg(min(col("ev")).as("mn_ev"), max(col("ev")).as("mx_ev"),
            count(col("ev")).as("n_ev"), count(lit(1)).as("n"))
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        val nParsed = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "eventsParsed")
        val nFromStats = graft.sources.lwes.LwesScan
          .scanMetricSum(plan, "filesAggFromStats")
        require(nParsed == 0 && nFromStats >= 1,
          s"name-count bounds parsed $nParsed events " +
            s"(filesAggFromStats=$nFromStats)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT min(ev) AS mn_ev, max(ev) AS mx_ev, count(ev) AS n_ev,
        |  count(*) AS n
        |FROM (SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'Order::Even'
        |    ELSE 'Order::Odd' END AS ev FROM orders)""".stripMargin)),

    // A27 (r18): attribute zone-map sidecars. Four journals with
    // DISJOINT o_orderkey quartile ranges; a pushed okey <= max/4
    // predicate must drop the three upper-range FILES at plan time
    // from their sidecar stats alone — the in-gate require reads the
    // scan's statsPrunedFileCount, which the residual Filter cannot
    // influence. The oracle replays the same predicate over parquet.
    "lwes_stats_prune" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"statsq|$d") { dir =>
          val orders = t(s, d, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
          val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
          (0L until 4L).foreach { q =>
            // orderkeys are 0-based in the testdata: the first range's
            // lower bound must admit key 0
            val lo = if (q == 0) -1L else mx * q / 4
            orders.filter(col("o_orderkey") > lit(lo) &&
                col("o_orderkey") <= lit(mx * (q + 1) / 4))
              .repartition(1)
              .write.format("lwes").option("eventName", "Order::Stats")
              .mode("append").save(dir)
          }
        }
        val mx = t(s, d, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0)
        val df = s.read.format("lwes")
          .schema("okey long, total double, priority string")
          .option("eventName", "Order::Stats")
          .option("mapping",
            "okey:o_orderkey, total:o_totalprice, priority:o_orderpriority")
          .load(dir)
          .filter(col("okey") <= lit(mx / 4))
          .agg(count(lit(1)).as("n"),
            round(sum(col("total")), 2).as("total_price"),
            max(col("priority")).as("max_pri"))
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.statsPrunedFileCount)
        require(pruned.exists(_ >= 3),
          s"zone-map sidecars pruned no files (statsPruned per scan: " +
            s"${pruned.mkString(",")}; expected >= 3 of 4)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderpriority) AS max_pri
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin)),

    // A27 (r20): FLOAT/DOUBLE zone maps. Four journals with DISJOINT
    // o_totalprice quartile ranges, written through an ESF template so
    // the wire carries NATIVE double tokens (the default writer keeps
    // the reference's float-as-string parity, which is metadata-blind);
    // a pushed total <= q1-cut predicate must drop the three
    // upper-range FILES at plan time from their kind-'d' sidecar
    // bounds alone — IEEE-754-bit-exact, kept under Spark's own
    // floating total order (NaN greatest, ±0.0 equal). The oracle
    // replays the same predicate over parquet.
    "lwes_stats_prune_float" -> ((
      (s: SparkSession, d: String) => {
        // cut = max/4: dividing a double by 4 is an exponent shift
        // (exact), so Spark and the DuckDB oracle derive the IDENTICAL
        // boundary — no approximate-quantile drift can shear the edge
        val mx = t(s, d, "orders")
          .agg(max(col("o_totalprice"))).head().getDouble(0)
        val cut = mx / 4
        val dir = cached(s"statsf|$d") { dir =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, ".statsf.esf"),
            """Order::Fp
              |{
              |  required int64 o_orderkey;
              |  double o_totalprice;
              |}
              |""".stripMargin)
          val orders = t(s, d, "orders").select("o_orderkey", "o_totalprice")
          val parts = Seq(
            col("o_totalprice") <= mx / 4,
            col("o_totalprice") > mx / 4 && col("o_totalprice") <= mx / 2,
            col("o_totalprice") > mx / 2 && col("o_totalprice") <= 3 * mx / 4,
            col("o_totalprice") > 3 * mx / 4)
          parts.foreach { p =>
            orders.filter(p).repartition(1)
              .write.format("lwes").option("eventName", "Order::Fp")
              .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.statsf.esf")
              .mode("append").save(dir)
          }
        }
        val df = s.read.format("lwes")
          .schema("okey long, total double")
          .option("eventName", "Order::Fp")
          .option("mapping", "okey:o_orderkey, total:o_totalprice")
          .load(dir)
          .filter(col("total") <= lit(cut))
          .agg(count(lit(1)).as("n"), max(col("okey")).as("max_key"),
            min(col("total")).as("min_total"), max(col("total")).as("max_total"))
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.statsPrunedFileCount)
        require(pruned.exists(_ >= 3),
          s"float zone maps pruned no files (statsPruned per scan: " +
            s"${pruned.mkString(",")}; expected >= 3 of 4)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, max(o_orderkey) AS max_key,
        |  min(o_totalprice) AS min_total, max(o_totalprice) AS max_total
        |FROM orders
        |WHERE o_totalprice <= (SELECT max(o_totalprice) / 4 FROM orders)""".stripMargin)),

    // A27 (r20): NON-ASCII string zone maps. Three journals keyed by a
    // non-ASCII tag prefix ('ä-' / 'ö-' / 'ü-'); a pushed prefix
    // predicate must drop the two other files at plan time. Sound
    // because the records are UTF-8 (the default charset): the sidecar
    // stores the decoded values' exact UTF-8 bytes, which ARE the
    // read-back bytes, and UTF-8 byte order = code-point order =
    // UTF8String's comparison order (the r19 ASCII-only guard lifted
    // where provably safe; Latin-1 journals keep it). The oracle
    // replays the same derived tag + prefix filter over parquet —
    // DuckDB's default collation is binary UTF-8, the same order.
    "lwes_stats_prune_utf8" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"statsu8|$d") { dir =>
          val orders = t(s, d, "orders").select(col("o_orderkey"),
            element_at(array(lit("ä"), lit("ö"), lit("ü")),
              (pmod(col("o_orderkey"), lit(3)) + 1).cast("int"))
              .as("pfx"))
            .select(col("o_orderkey"),
              concat(col("pfx"), lit("-"),
                col("o_orderkey").cast("string")).as("tag"))
          (0 until 3).foreach { q =>
            orders.filter(pmod(col("o_orderkey"), lit(3)) === q)
              .select("o_orderkey", "tag").repartition(1)
              .write.format("lwes").option("eventName", "Order::U8")
              .mode("append").save(dir)
          }
        }
        val df = s.read.format("lwes")
          .schema("okey long, tag string")
          .option("eventName", "Order::U8")
          .option("mapping", "okey:o_orderkey, tag:tag")
          .load(dir)
          .filter(col("tag").startsWith("ö"))
          .agg(count(lit(1)).as("n"), max(col("okey")).as("max_key"),
            min(col("tag")).as("min_tag"), max(col("tag")).as("max_tag"))
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.statsPrunedFileCount)
        require(pruned.exists(_ >= 2),
          s"non-ASCII zone maps pruned no files (statsPruned per scan: " +
            s"${pruned.mkString(",")}; expected >= 2 of 3)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """WITH tagged AS (
        |  SELECT o_orderkey,
        |    (CASE o_orderkey % 3 WHEN 0 THEN 'ä' WHEN 1 THEN 'ö'
        |          ELSE 'ü' END) || '-' || CAST(o_orderkey AS VARCHAR) AS tag
        |  FROM orders)
        |SELECT count(*) AS n, max(o_orderkey) AS max_key,
        |  min(tag) AS min_tag, max(tag) AS max_tag
        |FROM tagged WHERE starts_with(tag, 'ö')""".stripMargin)),

    // A33 (r19): per-directory stats MANIFEST. Same disjoint-quartile
    // corpus as lwes_stats_prune, but the per-file sidecars are folded
    // into ONE hidden directory manifest and then DELETED — pruning
    // and answers must survive on the manifest alone (the 10^6-file
    // path: one read per directory instead of one GET per journal;
    // tools/ListingScale measured it at 1M files). The in-gate require
    // pins the plan-time prune through the manifest.
    "lwes_stats_manifest" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"statsmani|$d") { dir =>
          val orders = t(s, d, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
          val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
          (0L until 4L).foreach { q =>
            val lo = if (q == 0) -1L else mx * q / 4
            orders.filter(col("o_orderkey") > lit(lo) &&
                col("o_orderkey") <= lit(mx * (q + 1) / 4))
              .repartition(1)
              .write.format("lwes").option("eventName", "Order::Mani")
              .mode("append").save(dir)
          }
          val hconf = s.sessionState.newHadoopConf()
          val n = graft.sources.lwes.LwesStats.writeManifest(
            new org.apache.hadoop.fs.Path(dir), hconf)
          require(n >= 4, s"manifest consolidated only $n sidecars")
          new java.io.File(dir).listFiles()
            .filter(f => f.getName.startsWith(".") &&
              (f.getName.endsWith(".stats") || f.getName.endsWith(".stats.crc")))
            .foreach(f => require(f.delete(), s"cannot delete $f"))
        }
        val mx = t(s, d, "orders")
          .agg(max(col("o_orderkey"))).head().getLong(0)
        val df = s.read.format("lwes")
          .schema("okey long, total double, priority string")
          .option("eventName", "Order::Mani")
          .option("mapping",
            "okey:o_orderkey, total:o_totalprice, priority:o_orderpriority")
          .load(dir)
          .filter(col("okey") <= lit(mx / 4))
          .agg(count(lit(1)).as("n"),
            round(sum(col("total")), 2).as("total_price"),
            max(col("priority")).as("max_pri"))
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.statsPrunedFileCount)
        require(pruned.exists(_ >= 3),
          s"manifest-backed zone maps pruned no files (statsPruned per " +
            s"scan: ${pruned.mkString(",")}; expected >= 3 of 4; per-file " +
            "sidecars are deleted, so a prune here PROVES the manifest path)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderpriority) AS max_pri
        |FROM orders
        |WHERE o_orderkey <= (SELECT max(o_orderkey) // 4 FROM orders)""".stripMargin)),

    // A5: attribute→column renaming via the mapping option.
    "lwes_col_mapping" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"map|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Created").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("priority string, total double, okey long")
          .option("eventName", "Order::Created")
          .option("mapping", "priority:o_orderpriority, total:o_totalprice, okey:o_orderkey")
          .load(dir)
          .groupBy(col("priority"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("total")), 2).as("total_price"),
            max(col("okey")).as("max_key"))
          .orderBy(col("priority"))
      },
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin)),

    // A6: one DataFrame over heterogeneous event types via
    // Event::Name::Field mappings.
    "lwes_multi_event" -> ((
      (s: SparkSession, d: String) => {
        val dir = eventsJournal(s, d, Seq("click", "view", "purchase"))
        s.read.format("lwes")
          .schema("click_user long, view_user long, purchase_value double")
          .option("mapping",
            "click_user:Ev::click::user_id, view_user:Ev::view::user_id, " +
              "purchase_value:Ev::purchase::value")
          .load(dir)
          .agg(count(col("click_user")).as("n_click"),
            count(col("view_user")).as("n_view"),
            round(sum(col("purchase_value")), 2).as("purchase_total"))
      },
      """SELECT
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_total
        |FROM events WHERE event_type IN ('click', 'view', 'purchase')""".stripMargin)),

    // A8: header-derived columns behave as normal queryable columns.
    "lwes_header_cols" -> ((
      (s: SparkSession, d: String) => {
        val dir = eventsJournal(s, d, Seq("click", "view"))
        s.read.format("lwes")
          .schema("event_id long, ReceiptTime long, SiteID int")
          .load(dir)
          .groupBy(col("SiteID"))
          .agg(count(lit(1)).as("n"),
            min(col("ReceiptTime")).as("first_ms"),
            max(col("ReceiptTime")).as("last_ms"))
          .orderBy(col("SiteID"))
      },
      """SELECT CAST(user_id % 5 AS INT) AS SiteID, count(*) AS n,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events WHERE event_type IN ('click', 'view')
        |GROUP BY SiteID ORDER BY SiteID""".stripMargin)),

    // A12: expression-level parse/serialize of LWES payloads in binary
    // columns — to_lwes(struct) → from_lwes(bin) round-trip in one plan.
    "lwes_from_binary" -> ((
      (s: SparkSession, d: String) => {
        import graft.functions.LwesExpressions.{from_lwes, to_lwes}
        events(s, d)
          .select(to_lwes(struct(col("event_id"), col("user_id"),
            col("event_type"), col("value")), "App::Event").as("bin"))
          .select(from_lwes(col("bin"),
            "event_id long, user_id long, event_type string, value double").as("e"))
          .groupBy(col("e.event_type").as("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("e.value")), 2).as("total_value"),
            countDistinct(col("e.user_id")).as("n_users"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A13+A16+B17 end-to-end: journals → streaming source (AvailableNow,
    // bounded batches) → watermarked tumbling-window aggregation →
    // streaming lwes SINK (epoch-manifest commits) → batch read-back.
    // Two watermark subtleties make the drain exact:
    //  - journals are NOT time-ordered (repartition spreads the span
    //    across every file), so the delay must exceed the whole event
    //    span or batch 2+ would arrive "late" and be dropped;
    //  - append mode only emits CLOSED windows, so a sentinel event past
    //    span+delay rides in a final journal (mtime-ordered last) to
    //    close every real window; its own window is excluded by the ts
    //    filter. The DuckDB oracle computes the same tumbling windows
    //    straight from parquet.
    "lwes_stream_drain" -> ((
      (s: SparkSession, d: String) => {
        val mm = events(s, d)
          .agg(min(expr("ts div 1000")), max(expr("ts div 1000"))).head()
        val (tsMinUs, tsMaxUs) = (mm.getLong(0), mm.getLong(1))
        val delayUs = (tsMaxUs - tsMinUs) + 3600000000L
        val sentinelTs = tsMaxUs + delayUs + 7200000000L
        val src = cached(s"drain|$d") { dir =>
          events(s, d)
            .select(col("event_id"), col("user_id"), col("event_type"),
              expr("ts div 1000").as("ts_us"))
            .repartition(8)
            .write.format("lwes").option("eventName", "Ev::S").mode("append").save(dir)
          val before = new java.io.File(dir).listFiles().map(_.getName).toSet
          s.range(1).select(lit(-1L).as("event_id"), lit(0L).as("user_id"),
              lit("sentinel").as("event_type"), lit(sentinelTs).as("ts_us"))
            .coalesce(1)
            .write.format("lwes").option("eventName", "Ev::S").mode("append").save(dir)
          val files = new java.io.File(dir).listFiles()
          val maxMtime = files.map(_.lastModified()).max
          files.filterNot(f => before.contains(f.getName))
            .foreach(bumpMtime(_, maxMtime + 60000L))
        }
        val dst = tmpDir("drain-dst")
        val ckpt = tmpDir("drain-ckpt")
        // a fresh stateful query commits one state-store file per
        // shuffle partition per microbatch — 32 partitions × 3 batches
        // of fsyncs dominate a drain whose windowed state has ~dozens
        // of keys; 8 partitions keep the same results and multi-batch
        // coverage at a fraction of the commit overhead (scoped +
        // restored: the conf is weakly-typed session state)
        val q = withFewShufflePartitions(s) {
          s.readStream.format("lwes")
            .schema("event_id long, user_id long, event_type string, ts_us long")
            .option("eventName", "Ev::S")
            .option("maxFilesPerTrigger", "4").load(src)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", s"$delayUs microseconds")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_uid"))
            .select(unix_micros(col("window.start")).as("window_start_us"),
              col("event_type"), col("n"), col("sum_uid"))
            .writeStream.format("lwes")
            .option("eventName", "Win::Agg")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_drain", q)
        s.read.format("lwes")
          .schema("window_start_us long, event_type string, n long, sum_uid long")
          .option("eventName", "Win::Agg").load(dst)
          .filter(col("window_start_us") <= tsMaxUs)
          .orderBy(col("window_start_us"), col("event_type"))
      },
      """SELECT CAST(epoch_us(ts) // 3600000000 * 3600000000 AS BIGINT) AS window_start_us,
        |  event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events
        |GROUP BY window_start_us, event_type
        |ORDER BY window_start_us, event_type""".stripMargin)),

    // A13+A16+B32 end-to-end: STREAM-STREAM interval join through the
    // drain pattern — two streaming readers over the same journal dir
    // (eventName selects the type; each source checkpoints its own
    // offsets), per-user interval join (purchase within 1h after a
    // click), joined rows appended to the lwes sink, then batch
    // read-back + aggregate. Inner joins emit on match (no window close
    // needed, so no sentinel); the watermark delay exceeds the whole
    // event span because journals are not time-ordered, so state is
    // never evicted before the matching side arrives. The DuckDB oracle
    // replays the interval self-join straight from parquet.
    "lwes_stream_join" -> ((
      (s: SparkSession, d: String) => {
        val src = eventsJournal(s, d, Seq("click", "purchase"))
        val mm = events(s, d)
          .agg(min(expr("ts div 1000000")), max(expr("ts div 1000000"))).head()
        val delayMs = (mm.getLong(1) - mm.getLong(0)) + 3600000L
        val dst = tmpDir("sj-dst")
        val ckpt = tmpDir("sj-ckpt")
        val q = withFewShufflePartitions(s) {
          def side(tp: String) = s.readStream.format("lwes")
            .schema("event_id long, user_id long, value double, ReceiptTime long")
            .option("eventName", s"Ev::$tp")
            .option("maxFilesPerTrigger", "4").load(src)
          val c = side("click")
            .withColumn("cts", timestamp_millis(col("ReceiptTime")))
            .withWatermark("cts", s"$delayMs milliseconds")
            .select(col("user_id").as("c_uid"), col("event_id").as("c_eid"), col("cts"))
          val p = side("purchase")
            .withColumn("pts", timestamp_millis(col("ReceiptTime")))
            .withWatermark("pts", s"$delayMs milliseconds")
            .select(col("user_id").as("p_uid"), col("event_id").as("p_eid"),
              col("value").as("p_value"), col("pts"))
          c.join(p, expr(
              "c_uid = p_uid AND pts >= cts AND pts <= cts + interval 1 hour"))
            .select(col("c_eid"), col("p_eid"), col("c_uid").as("user_id"),
              col("p_value"), unix_millis(col("pts")).as("pts_ms"))
            .writeStream.format("lwes")
            .option("eventName", "Join::CP")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_join", q)
        s.read.format("lwes")
          .schema("c_eid long, p_eid long, user_id long, p_value double, pts_ms long")
          .option("eventName", "Join::CP").load(dst)
          .groupBy(pmod(col("user_id"), lit(10)).as("uid_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("user_id")).as("n_users"),
            // join-amplified values sum through decimal (exact,
            // order-insensitive) — a plain double sum near a .005
            // boundary could round differently per engine
            round(sum(col("p_value").cast("decimal(18,6)")), 2)
              .cast("double").as("purchase_total"),
            min(col("c_eid")).as("min_click"),
            max(col("p_eid")).as("max_purchase"))
          .orderBy(col("uid_bucket"))
      },
      """WITH c AS (
        |  SELECT event_id AS c_eid, user_id, epoch_ns(ts) // 1000000 AS cts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id AS p_eid, user_id, value, epoch_ns(ts) // 1000000 AS pts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.user_id, c.c_eid, p.p_eid, p.value
        |  FROM c JOIN p ON c.user_id = p.user_id
        |    AND p.pts >= c.cts AND p.pts <= c.cts + 3600000)
        |SELECT CAST(user_id % 10 AS BIGINT) AS uid_bucket, count(*) AS n_pairs,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
        |    AS purchase_total,
        |  min(c_eid) AS min_click, max(p_eid) AS max_purchase
        |FROM j GROUP BY uid_bucket ORDER BY uid_bucket""".stripMargin)),

    // A13+A16+B20 end-to-end: ARBITRARY STATEFUL streaming op
    // (flatMapGroupsWithState + EventTimeTimeout) through the drain
    // pattern — per-user exact sessionization of the unordered journal
    // stream: events buffer in per-key state until the watermark passes
    // the flush point, then the event-time timeout emits one summary
    // row per user into the lwes sink. TWO sentinels in SEPARATE
    // batches make the flush independent of the trailing no-data
    // micro-batch (Spark 4.1 runs one under AvailableNow and fires
    // timeouts in it, but that is not contractual for stateful ops):
    // sentinel 1 advances the watermark at the end of its batch, and
    // sentinel 2's batch — real data, so it always runs — fires the
    // timeouts under that watermark. maxFilesPerTrigger is picked as a
    // divisor of (source-visible files before sentinel 2) so greedy
    // mtime-ordered admission always closes a batch exactly at
    // sentinel 1; only non-hidden files count (the local Hadoop FS
    // also writes .part-*.crc siblings the source never lists). The
    // DuckDB oracle replays the same 30-min-gap session split in SQL
    // (µs on both sides — DuckDB's parquet reader truncates ns to µs).
    "lwes_stream_sessions" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val mm = events(s, d)
          .agg(min(expr("ts div 1000")), max(expr("ts div 1000"))).head()
        val (tsMinUs, tsMaxUs) = (mm.getLong(0), mm.getLong(1))
        val delayUs = (tsMaxUs - tsMinUs) + 3600000000L
        val sentinelTs = tsMaxUs + delayUs + 7200000000L
        val src = cached(s"sess|$d") { dir =>
          events(s, d)
            .select(col("event_id"), col("user_id"), col("event_type"),
              expr("ts div 1000").as("ts_us"))
            .repartition(8)
            .write.format("lwes").option("eventName", "Ev::S").mode("append").save(dir)
          // only what the streaming source lists counts toward batch
          // math: the local Hadoop FS writes hidden .part-*.crc
          // checksum siblings next to every journal file
          def visible(d0: String): Array[java.io.File] =
            new java.io.File(d0).listFiles()
              .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
          // sentinel/pad rows carry a user_id no real row can have
          // (Long.MinValue): flatMapGroupsWithState re-arms a group's
          // EventTimeTimeout whenever the group receives ANY row, so a
          // sentinel sharing a real user's id would defer that user's
          // flush to the trailing no-data micro-batch — which Spark 4.1
          // runs under AvailableNow but does not contract for stateful
          // ops. An impossible id keeps every real group untouched in
          // the sentinel-2 batch, so all of them time out there.
          def marker(eventId: Long, ts: Long, mtimeBump: Long): Unit = {
            val before = visible(dir).map(_.getName).toSet
            s.range(1).select(lit(eventId).as("event_id"),
                lit(Long.MinValue).as("user_id"),
                lit("sentinel").as("event_type"), lit(ts).as("ts_us"))
              .coalesce(1)
              .write.format("lwes").option("eventName", "Ev::S").mode("append").save(dir)
            val files = visible(dir)
            val maxMtime = files.map(_.lastModified()).max
            files.filterNot(f => before.contains(f.getName))
              .foreach(bumpMtime(_, maxMtime + mtimeBump))
          }
          // batch-count control: greedy mtime-ordered admission must
          // close a batch exactly at sentinel 1, i.e. maxFilesPerTrigger
          // must divide (files-before-sentinel-2). Pad with watermark-
          // neutral files (event_id=-2, ts=min — dropped in-state, no
          // watermark effect) until that count has a divisor in 2..8,
          // so the drain doesn't degrade to one file per batch when the
          // natural count+1 is prime.
          val nData0 = visible(dir).length
          val pads = (0 to 3).find(p =>
            (8 to 2 by -1).exists(m => (nData0 + p + 1) % m == 0)).getOrElse(0)
          (0 until pads).foreach(_ => marker(-2L, tsMinUs, 30000L))
          marker(-1L, sentinelTs, 60000L)
          marker(-1L, sentinelTs + 3600000000L, 120000L)
        }
        // source-visible files before sentinel 2 = all - 1; the cached
        // block guaranteed a divisor in 2..8 exists
        val nPre = new java.io.File(src).listFiles()
          .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")) - 1
        val mft = (8 to 2 by -1).find(m => nPre % m == 0).getOrElse(1)
        val dst = tmpDir("sess-dst")
        val ckpt = tmpDir("sess-ckpt")
        val q = withFewShufflePartitions(s) {
          val in = s.readStream.format("lwes")
            .schema("event_id long, user_id long, event_type string, ts_us long")
            .option("eventName", "Ev::S")
            .option("maxFilesPerTrigger", mft.toString).load(src)
            .withColumn("ts", timestamp_micros(col("ts_us")))
            .withWatermark("ts", s"$delayUs microseconds")
            // NO pre-group sentinel filter: it would be pushed below the
            // watermark collector and the sentinel would never advance
            // the watermark — drainSessions drops event_id < 0 in-state
            .select(col("user_id"), col("event_id"), col("ts_us"), col("ts"))
            .as[graft.streaming.StreamOps.SessionEvent]
          graft.streaming.StreamOps
            .drainSessions(s, in, gapUs = 1800000000L,
              flushAtMs = tsMaxUs / 1000 + 1000)
            .toDF()
            .writeStream.format("lwes")
            .option("eventName", "Sess::U")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_sessions", q)
        s.read.format("lwes")
          .schema("user_id long, n_sessions long, n_events long")
          .option("eventName", "Sess::U").load(dst)
          .orderBy(col("user_id"))
      },
      """SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |) flagged
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin)),

    // A7: float/double ride the wire as strings (serde parity) and
    // convert back exactly. The journal is zstd-compressed so the
    // modern-capture codec path is itself hash-gated every round.
    "lwes_float_conv" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"fc|$d") { dir =>
          t(s, d, "part").select("p_partkey", "p_retailprice", "p_brand")
            .write.format("lwes").option("eventName", "Part::Priced")
            .option("compression", "zstd").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("p_brand string, p_retailprice double")
          .option("eventName", "Part::Priced").load(dir)
          .groupBy(col("p_brand"))
          .agg(round(sum(col("p_retailprice")), 2).as("total_price"),
            round(avg(col("p_retailprice")), 4).as("avg_price"))
          .orderBy(col("p_brand"))
      },
      """SELECT p_brand, round(sum(p_retailprice), 2) AS total_price,
        |  round(avg(p_retailprice), 4) AS avg_price
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Modern lwes ARRAY-typed attributes (lwes-java array tokens,
    // element|0x80): beyond the reference's surface entirely — its
    // SerDe decodes only the 9 classic scalars (EventSerDe.java:
    // 240-301), so journals from modern emitters are unreadable there.
    // Arrays are constructed deterministically from `orders` scalars,
    // ride the wire as real array tokens inside a split-zstd journal,
    // and come back through the columnar scan's array fill; the oracle
    // replays the same arithmetic scalar-wise on the source parquet, so
    // a mis-encoded count, element value, or element ORDER
    // hash-mismatches.
    "lwes_array_types" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"arrt|$d") { dir =>
          t(s, d, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            array(col("o_orderkey") % 7, col("o_orderkey") % 11,
              col("o_orderkey") % 13).as("nums"),
            split(col("o_orderpriority"), "-").as("tags"),
            array(col("o_totalprice"), col("o_totalprice") * 2).as("vals"))
            .write.format("lwes").option("eventName", "Arr::O")
            .option("compression", "split-zstd").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("o_orderkey long, o_orderstatus string, " +
            "nums array<bigint>, tags array<string>, vals array<double>")
          .option("eventName", "Arr::O").load(dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(expr("aggregate(nums, 0L, (a, x) -> a + x)")).as("sum_nums"),
            sum(size(col("tags"))).as("n_tags"),
            round(sum(expr("aggregate(vals, CAST(0 AS DOUBLE), (a, x) -> a + x)")), 2)
              .as("sum_vals"),
            max(expr("element_at(tags, 1)")).as("first_tag"))
          .orderBy(col("o_orderstatus"))
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey % 7 + o_orderkey % 11 + o_orderkey % 13) AS BIGINT)
        |    AS sum_nums,
        |  CAST(sum(len(string_split(o_orderpriority, '-'))) AS BIGINT) AS n_tags,
        |  round(sum(o_totalprice * 3), 2) AS sum_vals,
        |  max(string_split(o_orderpriority, '-')[1]) AS first_tag
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Nullable-array wire tokens (lwes-java N_*_ARRAY, 0x8d..0x98 —
    // element arrays whose wire value carries a presence bitset and
    // only the present elements): arrays built with DETERMINISTIC null
    // holes ride the N_ tokens inside a split-zstd journal and come
    // back through the vectorized reader; the oracle replays the hole
    // positions scalar-wise on the source parquet, so a misplaced
    // bitset bit, a dropped hole, or a shifted element hash-mismatches.
    // Null-hole aggregation runs per element (coalesce inside the
    // lambda / size-of-filter), so VALUES and POSITIONS are both pinned.
    "lwes_nullable_arrays" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"nularr|$d") { dir =>
          t(s, d, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            array(
              when(col("o_orderkey") % 3 === 0, lit(null))
                .otherwise(col("o_orderkey") % 7),
              col("o_orderkey") % 11,
              when(col("o_orderkey") % 5 === 0, lit(null))
                .otherwise(col("o_orderkey") % 13)).as("nums"),
            array(
              when(col("o_orderkey") % 2 === 0, lit(null))
                .otherwise(substring(col("o_orderpriority"), 1, 1)),
              col("o_orderstatus")).as("tags"),
            array(
              col("o_totalprice"),
              when(col("o_orderkey") % 4 === 0, lit(null))
                .otherwise(col("o_totalprice") * 2)).as("vals"))
            .write.format("lwes").option("eventName", "NArr::O")
            .option("compression", "split-zstd").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("o_orderkey long, o_orderstatus string, " +
            "nums array<bigint>, tags array<string>, vals array<double>")
          .option("eventName", "NArr::O").load(dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(expr("aggregate(nums, 0L, (a, x) -> a + coalesce(x, 0L))"))
              .as("sum_nums"),
            sum(expr("size(filter(nums, x -> x IS NULL))")).as("n_null_nums"),
            sum(expr("size(filter(tags, x -> x IS NOT NULL))")).as("n_tags"),
            round(sum(expr("aggregate(vals, CAST(0 AS DOUBLE), " +
              "(a, x) -> a + coalesce(x, CAST(0 AS DOUBLE)))")), 2)
              .as("sum_vals"),
            max(expr("element_at(tags, 1)")).as("first_tag"),
            max(expr("element_at(tags, 2)")).as("last_tag"))
          .orderBy(col("o_orderstatus"))
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 0 ELSE o_orderkey % 7 END
        |    + o_orderkey % 11
        |    + CASE WHEN o_orderkey % 5 = 0 THEN 0 ELSE o_orderkey % 13 END)
        |    AS BIGINT) AS sum_nums,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END
        |    + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_null_nums,
        |  CAST(sum(1 + CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_tags,
        |  round(sum(o_totalprice +
        |    CASE WHEN o_orderkey % 4 = 0 THEN 0 ELSE o_totalprice * 2 END), 2)
        |    AS sum_vals,
        |  max(CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |    ELSE substr(o_orderpriority, 1, 1) END) AS first_tag,
        |  max(o_orderstatus) AS last_tag
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // `enc` string-encoding (r18, beyond-reference): the journal is
    // WRITTEN ISO-8859-1 — `stringEncoding` stamps the reserved
    // lwes-java `enc` int16 attribute (= 0) first on every event and
    // the codec Latin-1-encodes string values — and the readers see
    // enc=0 and decode back to identical strings (the reference
    // ignores `enc` entirely, so a Latin-1 journal through EventSerDe
    // is silent mojibake). The oracle replays the accent-injection on
    // the parquet source, so ONE mis-decoded byte hash-mismatches; the
    // enc_lo/enc_hi columns pin that every record carried enc=0.
    "lwes_enc_latin1" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"enc|$d") { dir =>
          t(s, d, "orders").select(
            col("o_orderkey"), col("o_orderstatus"),
            translate(
              concat_ws("/", col("o_orderpriority"),
                (col("o_orderkey") % 100).cast("string")),
              "AEIOU", "ÁÉÍÖÜ").as("cmt"))
            .write.format("lwes").option("eventName", "Enc::O")
            .option("stringEncoding", "ISO-8859-1")
            .mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("o_orderkey long, o_orderstatus string, cmt string, enc smallint")
          .option("eventName", "Enc::O").load(dir)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(length(col("cmt"))).as("sum_len"),
            max(col("cmt")).as("max_cmt"),
            min(col("enc")).as("enc_lo"),
            max(col("enc")).as("enc_hi"))
          .orderBy(col("o_orderstatus"))
      },
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(length(translate(
        |    concat_ws('/', o_orderpriority, CAST(o_orderkey % 100 AS VARCHAR)),
        |    'AEIOU', 'ÁÉÍÖÜ'))) AS BIGINT) AS sum_len,
        |  max(translate(
        |    concat_ws('/', o_orderpriority, CAST(o_orderkey % 100 AS VARCHAR)),
        |    'AEIOU', 'ÁÉÍÖÜ')) AS max_cmt,
        |  CAST(0 AS SMALLINT) AS enc_lo, CAST(0 AS SMALLINT) AS enc_hi
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // The reference's actual user interface is SQL DDL (README:49
    // `CREATE EXTERNAL TABLE ... ROW FORMAT SERDE
    // 'org.lwes.hadoop.hive.EventSerDe'`); Spark parity is
    // `CREATE TABLE ... USING lwes` + `INSERT INTO` + `SELECT`, all
    // through the catalog. This gate drives the full DDL/DML loop —
    // the INSERT exercises the DSv2 write path from SQL, the SELECT the
    // read path — and the oracle replays the aggregate on the source
    // parquet, so a serde bug anywhere in the loop hash-mismatches.
    "lwes_sql_ddl" -> ((
      (s: SparkSession, d: String) => {
        def createTable(dir: String): Unit = s.sql(
          s"""CREATE TABLE IF NOT EXISTS graft_ddl_cust
             |  (c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
             |USING lwes OPTIONS (path '$dir', eventName 'Cust::Row')""".stripMargin)
        val dir = cached(s"ddl|$d") { dir =>
          t(s, d, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
            .createOrReplaceTempView("graft_ddl_src")
          createTable(dir)
          s.sql("""INSERT INTO graft_ddl_cust
                  |SELECT c_custkey, c_mktsegment, c_acctbal
                  |FROM graft_ddl_src""".stripMargin)
        }
        // a fresh session in the same JVM reuses the journal the cached
        // block already populated, but needs its own catalog entry
        createTable(dir)
        s.sql("""SELECT c_mktsegment, count(*) AS n,
                |  round(sum(c_acctbal), 2) AS total_bal,
                |  max(c_custkey) AS max_key
                |FROM graft_ddl_cust
                |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS total_bal, max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ReceiptTime-range FILE pruning end to end (the Spark-native
    // generalization of the reference README's `PARTITIONED BY(dt)`
    // pattern): journals land one file per time-range slice, each name
    // tagged with its exact receipt bounds by the writer, and the
    // "events from window X" query prunes non-overlapping files from
    // the listing alone — at 100 TB the difference between opening an
    // hour and decompressing a year. The oracle replays the window on
    // the source parquet, so over-pruning (a lost file) or a tag bug
    // hash-mismatches immediately.
    "lwes_time_prune" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"tprune|$d") { dir =>
          events(s, d)
            .withColumn("ReceiptTime", expr("ts div 1000000"))
            .select("event_id", "user_id", "value", "ReceiptTime")
            .repartitionByRange(8, col("ReceiptTime"))
            .write.format("lwes").option("eventName", "Tw::E")
            .mode("append").save(dir)
        }
        // window = middle half of the observed span, computed with the
        // same integer arithmetic the oracle uses; literal bounds so the
        // range filter plans as a pushed-down prune
        val b = events(s, d)
          .agg(min(expr("ts div 1000000")), max(expr("ts div 1000000"))).head
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
        s.read.format("lwes")
          .schema("event_id long, user_id long, value double, ReceiptTime long")
          .option("eventName", "Tw::E").load(dir)
          .filter(col("ReceiptTime") >= lo && col("ReceiptTime") <= hi)
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("ReceiptTime")).as("first_ms"),
            max(col("ReceiptTime")).as("last_ms"))
      },
      """WITH b AS (SELECT min(epoch_ns(ts) // 1000000) AS mn,
        |             max(epoch_ns(ts) // 1000000) AS mx FROM events)
        |SELECT count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events, b
        |WHERE epoch_ns(ts) // 1000000
        |  BETWEEN mn + (mx - mn) // 4 AND mn + (mx - mn) // 2""".stripMargin)),

    // A28: TOP-N pushdown — "latest k events" over a range-layout
    // journal directory opens only the files the bound cannot exclude.
    // Receipts derive 1:1 from the unique event_id so the top-k is
    // deterministic; the in-gate require proves >= 6 of the 8
    // disjoint-range files dropped AT PLAN TIME from name tags +
    // sidecar counts (the global Sort+Limit above the scan keeps rows,
    // never files), and the oracle replays the same top-k from parquet
    // so a bound that over-pruned mismatches immediately.
    "lwes_topn_latest" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"topn|$d") { dir =>
          events(s, d)
            .withColumn("ReceiptTime", lit(1700000000000L) + col("event_id"))
            .select("event_id", "user_id", "value", "ReceiptTime")
            .repartitionByRange(8, col("ReceiptTime"))
            .write.format("lwes").option("eventName", "Tk::E")
            .mode("append").save(dir)
        }
        // no eventName option: a record-level admission gate would void
        // the count-based bound, so build() only keeps the push on
        // gate-free scans (the directory is single-event-type anyway)
        val df = s.read.format("lwes")
          .schema("event_id long, user_id long, value double, ReceiptTime long")
          .load(dir)
          .orderBy(col("ReceiptTime").desc).limit(100)
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.topNPrunedFileCount)
        require(pruned.exists(_ >= 6),
          s"top-N pushdown never pruned the journal scan " +
            s"(pruned counts: $pruned)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .orderBy(col("ReceiptTime").desc)
      },
      """SELECT event_id, user_id, value,
        |  1700000000000 + event_id AS ReceiptTime
        |FROM events
        |ORDER BY ReceiptTime DESC LIMIT 100""".stripMargin)),

    // A28 (r19): ATTRIBUTE top-N — `ORDER BY <integral attr> DESC
    // LIMIT k` bounds the k-th best value from sidecar zone maps
    // (count-based greedy over per-file min/max; NULLS LAST required)
    // and prunes provably-outranked journals at plan time: "top
    // spenders" over a value-clustered corpus opens the high-value
    // files. The in-gate require pins the prune; deterministic
    // tie-break (orderkey) keeps the row set oracle-exact.
    "lwes_topn_attr" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"topnattr|$d") { dir =>
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              (col("o_totalprice") * 100).cast("long").as("cents"))
            .repartitionByRange(8, col("cents"))
            .write.format("lwes").option("eventName", "Tk::V")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, ckey long, cents long")
          .option("mapping", "okey:o_orderkey, ckey:o_custkey")
          .load(dir)
          .orderBy(col("cents").desc, col("okey")).limit(50)
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("topN=[cents desc k=50]"),
          s"attribute top-N was not pushed:\n$plan")
        val pruned = graft.sources.lwes.LwesScan.scansIn(plan)
          .map(_.topNPrunedFileCount)
        require(pruned.exists(_ >= 6),
          s"attribute top-N never pruned the journal scan " +
            s"(pruned counts: $pruned; expected >= 6 of 8)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .orderBy(col("cents").desc, col("okey"))
      },
      """SELECT o_orderkey AS okey, o_custkey AS ckey,
        |  CAST(o_totalprice * 100 AS BIGINT) AS cents
        |FROM orders
        |ORDER BY cents DESC, okey LIMIT 50""".stripMargin)),

    // A28 (r20): FLOAT/DOUBLE-attribute top-N — `ORDER BY <double
    // attr> DESC LIMIT k`, the pipeline's "top k by quality score"
    // shape. The journals carry NATIVE double wire tokens (ESF
    // template; the default writer keeps the reference's
    // float-as-string parity, which is metadata-blind), so the
    // kind-'d' sidecar bounds — kept under Spark's floating total
    // order, which is also its SORT order — feed the same greedy
    // bound-and-count prune. okey is a tie-break (accepted: it
    // permutes within leading-key ties, never the bound).
    "lwes_topn_attr_dbl" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"topndbl|$d") { dir =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, ".topnd.esf"),
            """Tk::D
              |{
              |  required int64 o_orderkey;
              |  double o_totalprice;
              |}
              |""".stripMargin)
          t(s, d, "orders").select("o_orderkey", "o_totalprice")
            .repartitionByRange(8, col("o_totalprice"))
            .write.format("lwes").option("eventName", "Tk::D")
            .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.topnd.esf")
            .mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, total double")
          .option("mapping", "okey:o_orderkey, total:o_totalprice")
          .load(dir)
          .orderBy(col("total").desc, col("okey")).limit(50)
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("topN=[total desc k=50]"),
          s"double-attribute top-N was not pushed:\n$plan")
        val pruned = graft.sources.lwes.LwesScan.scansIn(plan)
          .map(_.topNPrunedFileCount)
        require(pruned.exists(_ >= 6),
          s"double-attribute top-N never pruned the journal scan " +
            s"(pruned counts: $pruned; expected >= 6 of 8)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .orderBy(col("total").desc, col("okey"))
      },
      """SELECT o_orderkey AS okey, o_totalprice AS total
        |FROM orders
        |ORDER BY total DESC, okey LIMIT 50""".stripMargin)),

    // A28 (r20): PARTITION-COLUMN top-N — `ORDER BY <partition col>
    // DESC LIMIT k` opens only the newest partition(s): every file
    // carries ONE path-derived value, so the listing is the zone map
    // and the prune is exact per file; sidecar record counts feed the
    // k-bound. The okey tie-break permutes within the boundary
    // partition only, whose files all survive.
    "lwes_topn_pcol" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"agggrp|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 7 =!= 0, col("o_custkey"))
                .as("o_custkey"),
              col("prio"))
            .write.format("lwes").option("eventName", "Order::Gp")
            .option("compression", "gzip")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, prio string")
          .option("mapping", "okey:o_orderkey")
          .load(dir)
          .orderBy(col("prio").desc, col("okey")).limit(50)
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("topN=[prio desc k=50]"),
          s"partition-column top-N was not pushed:\n$plan")
        val pruned = graft.sources.lwes.LwesScan.scansIn(plan)
          .map(_.topNPrunedFileCount)
        require(pruned.exists(_ >= 4),
          s"partition-column top-N never pruned the journal scan " +
            s"(pruned counts: $pruned; expected every non-max prio dropped)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .orderBy(col("prio").desc, col("okey"))
      },
      """SELECT o_orderkey AS okey, substr(o_orderpriority, 1, 1) AS prio
        |FROM orders
        |ORDER BY prio DESC, okey LIMIT 50""".stripMargin)),

    // A28 (r20): STRING-attribute top-N — `ORDER BY <string attr> DESC
    // LIMIT k` bounds the k-th best value from the exact sidecar
    // string bounds (byte order = UTF8String order; bounds are
    // read-back-exact because the tracker stores decoded values'
    // UTF-8 bytes) and prunes provably-outranked journals at plan
    // time. The sortable tag embeds the orderkey, so rows are unique
    // and the result is oracle-exact without a tie-break column.
    "lwes_topn_attr_str" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"topnstr|$d") { dir =>
          t(s, d, "orders")
            .select(col("o_orderkey"),
              concat(lpad((col("o_totalprice") * 100).cast("long")
                  .cast("string"), 12, "0"), lit("-"),
                col("o_orderkey").cast("string")).as("tag"))
            .repartitionByRange(8, col("tag"))
            .write.format("lwes").option("eventName", "Tk::S")
            .option("compression", "gzip").mode("append").save(dir)
        }
        val df = s.read.format("lwes")
          .schema("okey long, tag string")
          .option("mapping", "okey:o_orderkey")
          .load(dir)
          .orderBy(col("tag").desc).limit(50)
        val rows = df.collect()
        val plan = df.queryExecution.executedPlan
        require(plan.toString.contains("topN=[tag desc k=50]"),
          s"string-attribute top-N was not pushed:\n$plan")
        val pruned = graft.sources.lwes.LwesScan.scansIn(plan)
          .map(_.topNPrunedFileCount)
        require(pruned.exists(_ >= 6),
          s"string-attribute top-N never pruned the journal scan " +
            s"(pruned counts: $pruned; expected >= 6 of 8)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
          .orderBy(col("tag").desc)
      },
      """SELECT o_orderkey AS okey,
        |  lpad(CAST(CAST(o_totalprice * 100 AS BIGINT) AS VARCHAR), 12, '0')
        |    || '-' || CAST(o_orderkey AS VARCHAR) AS tag
        |FROM orders
        |ORDER BY tag DESC LIMIT 50""".stripMargin)),

    // A29: STORAGE-PARTITIONED JOIN — two journal tables partitioned
    // by event_type join (and aggregate on the key) with ZERO hash
    // exchanges: the scans report KeyGroupedPartitioning and every
    // task carries its key row, so Spark co-locates by partition
    // VALUE instead of shuffling 2x the corpus. The in-gate require
    // pins the plan shape (SortMergeJoin present, broadcast disabled,
    // no hash exchange anywhere — the only exchange is the final
    // range sort); the oracle replays the join from parquet so a
    // mis-aligned key grouping that dropped or duplicated rows
    // mismatches immediately. Confs are set and RESTORED around the
    // gate (a leaked broadcast threshold would distort every later
    // bench key).
    "lwes_spj_join" -> ((
      (s: SparkSession, d: String) => {
        val dirA = cached(s"spja|$d") { dir =>
          events(s, d)
            .select("event_id", "user_id", "value", "event_type")
            .write.format("lwes").option("eventName", "Sp::A")
            .option("partitionBy", "event_type").mode("append").save(dir)
        }
        val dirB = cached(s"spjb|$d") { dir =>
          events(s, d)
            .select("event_id", "user_id", "event_type")
            .write.format("lwes").option("eventName", "Sp::B")
            .option("partitionBy", "event_type").mode("append").save(dir)
        }
        val spjConf = "spark.sql.sources.v2.bucketing.enabled"
        val abjConf = "spark.sql.autoBroadcastJoinThreshold"
        val (spj0, abj0) = (s.conf.get(spjConf, "false"), s.conf.get(abjConf))
        s.conf.set(spjConf, "true"); s.conf.set(abjConf, "-1")
        try {
          val a = s.read.format("lwes")
            .schema("event_id long, user_id long, value double, event_type string")
            .option("eventName", "Sp::A").load(dirA)
          val b = s.read.format("lwes")
            .schema("event_id long, user_id long, event_type string")
            .option("eventName", "Sp::B").load(dirB)
            .groupBy(col("event_type"))
            .agg(countDistinct(col("user_id")).as("n_users"))
          val df = a.join(b, Seq("event_type"))
            .groupBy(col("event_type"), col("n_users"))
            .agg(count(lit(1)).as("n"),
              round(sum(col("value")), 2).as("total_value"))
            .orderBy(col("event_type"))
          val rows = df.collect()
          val plan = df.queryExecution.executedPlan.toString
          require(plan.contains("SortMergeJoin") &&
            !plan.contains("BroadcastHashJoin") &&
            !plan.contains("Exchange hashpartitioning"),
            "storage-partitioned join shuffled or broadcast instead of " +
              "co-locating by partition value")
          s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
            .orderBy(col("event_type"))
        } finally { s.conf.set(spjConf, spj0); s.conf.set(abjConf, abj0) }
      },
      """WITH b AS (
        |  SELECT event_type, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, CAST(b.n_users AS BIGINT) AS n_users,
        |  count(*) AS n, round(sum(e.value), 2) AS total_value
        |FROM events e JOIN b USING (event_type)
        |GROUP BY e.event_type, b.n_users
        |ORDER BY e.event_type""".stripMargin)),

    // A22: SPLITTABLE journal read. The whole events table is written as
    // ONE `.zsj` split journal (zstd frames at record boundaries + a
    // footer frame index, graft.lwes.SplitJournal) and read back with a
    // small split target, so the single file plans MANY independent
    // seek+bounded-decompress tasks — the in-gate require() fails loudly
    // if the scan ever degrades to one task. The aggregate hash against
    // the source parquet proves the frame-ranged parallel read sees
    // exactly the records of the sequential read: a frame boundary that
    // tore a record, or a run split that dropped/duplicated a frame,
    // mismatches immediately. This removes the reference's deepest scale
    // ceiling — unsplittable journals (JournalInputFormat.java:58-60),
    // where one fat journal serializes the whole scan.
    "lwes_split_read" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"split|$d") { dir =>
          events(s, d)
            .withColumn("ReceiptTime", expr("ts div 1000000"))
            .select("event_id", "user_id", "event_type", "value", "ReceiptTime")
            .repartition(1)
            .write.format("lwes").option("eventName", "Ev::Split")
            .option(graft.sources.lwes.LwesOptions.Compression, "split-zstd")
            .option(graft.sources.lwes.LwesOptions.SplitFrameBytes, "65536")
            .mode("append").save(dir)
        }
        val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zsj"))
        require(files.length == 1,
          s"expected exactly one split journal, found ${files.length}")
        val df = s.read.format("lwes")
          .schema("event_id long, user_id long, event_type string, " +
            "value double, ReceiptTime long")
          .option("eventName", "Ev::Split")
          .option(graft.sources.lwes.LwesOptions.SplitTargetBytes, "65536")
          .load(dir)
        val nTasks = df.rdd.getNumPartitions
        require(nTasks > 1,
          s"single split journal planned only $nTasks scan task(s) — " +
            "the footer-indexed split path did not engage")
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"),
            countDistinct(col("event_id")).as("n_events"),
            min(col("ReceiptTime")).as("first_ms"),
            max(col("ReceiptTime")).as("last_ms"))
          .orderBy(col("event_type"))
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_id) AS n_events,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A22's FRAME-level time pruning promoted to the hard gate: one
    // receipt-ordered split journal (records sorted before the write,
    // so each zstd frame carries a tight disjoint ReceiptTime range),
    // read under a pushed middle-half window with a small split
    // target. The in-gate require checks frames were actually skipped
    // from the footer bounds alone (the whole FILE overlaps the
    // window, so file-level tag pruning cannot explain it), and the
    // aggregate hash against the oracle's windowed replay proves the
    // pruning was exact — sub-file pruning at the granularity parquet
    // gets from row-group stats.
    "lwes_frame_prune" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"fprune|$d") { dir =>
          events(s, d)
            .withColumn("ReceiptTime", expr("ts div 1000000"))
            .select("event_id", "user_id", "value", "ReceiptTime")
            .repartition(1).sortWithinPartitions(col("ReceiptTime"))
            .write.format("lwes").option("eventName", "Fp::E")
            .option(graft.sources.lwes.LwesOptions.Compression, "split-zstd")
            .option(graft.sources.lwes.LwesOptions.SplitFrameBytes, "32768")
            .mode("append").save(dir)
        }
        val b = events(s, d)
          .agg(min(expr("ts div 1000000")), max(expr("ts div 1000000"))).head
        val (mn, mx) = (b.getLong(0), b.getLong(1))
        val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
        val df = s.read.format("lwes")
          .schema("event_id long, user_id long, value double, ReceiptTime long")
          .option("eventName", "Fp::E")
          .option(graft.sources.lwes.LwesOptions.SplitTargetBytes, "32768")
          .load(dir)
          .filter(col("ReceiptTime") >= lo && col("ReceiptTime") <= hi)
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("ReceiptTime")).as("first_ms"),
            max(col("ReceiptTime")).as("last_ms"))
        val rows = df.collect()
        val framesPruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.prunedFrameCount)
        require(framesPruned.exists(_ > 0),
          s"no split-journal frames pruned by the ReceiptTime window " +
            s"(counts: $framesPruned)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """WITH b AS (SELECT min(epoch_ns(ts) // 1000000) AS mn,
        |             max(epoch_ns(ts) // 1000000) AS mx FROM events)
        |SELECT count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users,
        |  min(epoch_ns(ts) // 1000000) AS first_ms,
        |  max(epoch_ns(ts) // 1000000) AS last_ms
        |FROM events, b
        |WHERE epoch_ns(ts) // 1000000
        |  BETWEEN mn + (mx - mn) // 4 AND mn + (mx - mn) // 2""".stripMargin)),

    // A31: per-FRAME zone maps — the A27 prune taken INSIDE one fat
    // `.zsj`. The whole lineitem table is ONE key-sorted split journal
    // (GSJ2 footer carries per-frame attr stats); a pushed range
    // predicate on the sort key must drop the frames whose stats prove
    // them empty for it, at plan time, with zero extra IO (the footer
    // was being read for split planning anyway). The in-plan require()
    // pins the frame-level stats prune — a count neither the residual
    // Filter nor the receipt-window prune can influence — and the
    // aggregate hash-matches the oracle's replay of the same predicate
    // on parquet, proving pruned frames held nothing the answer needed.
    "lwes_frame_skip" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"fskip|$d") { dir =>
          t(s, d, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_quantity")
            .repartition(1).sortWithinPartitions("l_orderkey")
            .write.format("lwes").option("eventName", "Fk::L")
            .option(graft.sources.lwes.LwesOptions.Compression, "split-zstd")
            .option(graft.sources.lwes.LwesOptions.SplitFrameBytes, "32768")
            .mode("append").save(dir)
        }
        val cut = t(s, d, "lineitem")
          .agg(max(col("l_orderkey"))).head.getLong(0) / 8
        val df = s.read.format("lwes")
          .schema("l_orderkey long, l_extendedprice double, l_quantity double")
          .option("eventName", "Fk::L")
          .option(graft.sources.lwes.LwesOptions.SplitTargetBytes, "32768")
          .load(dir)
          .filter(col("l_orderkey") <= cut)
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("rev"),
            round(sum(col("l_quantity")), 2).as("qty"),
            countDistinct(col("l_orderkey")).as("n_orders"))
        val rows = df.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(df.queryExecution.executedPlan)
          .map(_.statsPrunedFrameCount)
        require(pruned.exists(_ > 0),
          s"no frames pruned by per-frame zone-map stats " +
            s"(counts: $pruned)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), df.schema)
      },
      """WITH b AS (SELECT max(l_orderkey) // 8 AS cut FROM lineitem)
        |SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS rev,
        |  round(sum(l_quantity), 2) AS qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem, b WHERE l_orderkey <= cut""".stripMargin)),

    // A17's SupportsRuntimeFiltering promoted from spec-only to the
    // hard gate: a fact-dim broadcast join whose only partition
    // predicate lives on the DIM side (length(event_type)=5 over the
    // parquet dim) must runtime-prune whole `event_type=` journal
    // directories from the lwes fact scan — journal DPP, the 100 TB
    // "scan one dt= hour, not the year" mechanism. The join executes
    // INSIDE the gate so the in-plan require() can check the scan's
    // partition-pruned count (static partition filters are absent, so
    // a nonzero count is attributable to the runtime filter alone);
    // the aggregate then hash-matches the oracle's semi-filtered
    // replay, proving pruning dropped exactly the non-matching
    // partitions and nothing else.
    "lwes_dpp" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"dpp|$d") { dir =>
          events(s, d)
            .withColumn("ReceiptTime", expr("ts div 1000000"))
            .select("event_id", "user_id", "event_type", "value", "ReceiptTime")
            .write.format("lwes").option("eventName", "Ev::P")
            .option("partitionBy", "event_type").mode("append").save(dir)
        }
        val fact = s.read.format("lwes")
          .schema("event_id long, user_id long, event_type string, value double")
          .option("eventName", "Ev::P").load(dir)
        val dim = t(s, d, "events")
          .select(col("event_type")).distinct()
          .filter(length(col("event_type")) === 5)
        val joined = fact.join(broadcast(dim), Seq("event_type"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type"))
        val rows = joined.collect()
        val pruned = graft.sources.lwes.LwesScan
          .scansIn(joined.queryExecution.executedPlan)
          .map(_.partitionPrunedFileCount)
        require(pruned.exists(_ > 0),
          s"dynamic partition pruning never reached the journal scan " +
            s"(pruned counts: $pruned)")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), joined.schema)
          .orderBy(col("event_type"))
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events WHERE length(event_type) = 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // A30: runtime zone-map skipping — journal DPP generalized past
    // partition columns. The fact journal is range-laid-out by ship
    // day (16 contiguous-day files, the natural time-ordered journal
    // shape at 100 TB); the only narrowing predicate lives on the DIM
    // side and is inexpressible as a pushed v1 filter (year/month of
    // the order date), so the fact scan's first plan pushes nothing
    // prunable. The broadcast join's runtime IN-filter on the ship-day
    // column must then drop whole fact files via their A27 sidecar
    // min/max — the in-plan require() pins it (the layout has no
    // partition columns, so a nonzero stats-prune count is
    // attributable to the runtime filter alone), and the aggregate
    // hash-matches the oracle's semi-join replay, proving the skip
    // dropped exactly the provably-non-matching files and nothing
    // else.
    "lwes_runtime_skip" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"rskip|$d") { dir =>
          t(s, d, "lineitem")
            .select(col("l_orderkey"),
              datediff(col("l_shipdate"), lit("1970-01-01"))
                .cast("long").as("ship_day"),
              col("l_extendedprice"))
            .repartitionByRange(16, col("ship_day"))
            .sortWithinPartitions("ship_day")
            .write.format("lwes").option("eventName", "Rt::L")
            .mode("append").save(dir)
        }
        val fact = s.read.format("lwes")
          .schema("l_orderkey long, ship_day long, l_extendedprice double")
          .option("eventName", "Rt::L").load(dir)
        val dim = t(s, d, "orders")
          .filter(year(col("o_orderdate")) === 1996 &&
            month(col("o_orderdate")) === 3)
          .select(datediff(col("o_orderdate"), lit("1970-01-01"))
            .cast("long").as("ship_day")).distinct()
        val joined = fact.join(broadcast(dim), Seq("ship_day"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("rev"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            min(col("ship_day")).as("first_day"),
            max(col("ship_day")).as("last_day"))
        val rows = joined.collect()
        val scans = graft.sources.lwes.LwesScan
          .scansIn(joined.queryExecution.executedPlan)
        val pruned = scans.map(_.statsPrunedFileCount)
        require(pruned.exists(_ > 0),
          s"runtime join filters never zone-map-pruned the journal " +
            s"scan (stats-pruned counts: $pruned)")
        require(scans.map(_.partitionPrunedFileCount).sum == 0,
          "layout has no partition columns; the prune must be " +
            "stats-attributed")
        s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), joined.schema)
      },
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS rev,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  min(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS first_day,
        |  max(datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))) AS last_day
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) IN (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) FROM orders
        |  WHERE year(o_orderdate) = 1996 AND month(o_orderdate) = 3)""".stripMargin)),

    // A9 promoted to the hard gate: read the journal with NO schema —
    // inference must surface every attribute with usable types (doubles
    // ride the wire as LWES strings, reference parity, so the query
    // casts back) — and the aggregate must still hash-match the source.
    "lwes_infer" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"infer|$d") { dir =>
          t(s, d, "orders")
            .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
            .write.format("lwes").option("eventName", "Order::Inf")
            .mode("append").save(dir)
        }
        s.read.format("lwes").option("eventName", "Order::Inf").load(dir)
          .agg(count(lit(1)).as("n"),
            max(col("o_orderkey")).as("max_key"),
            countDistinct(col("o_orderpriority")).as("n_prio"),
            round(sum(col("o_totalprice").cast("double")), 2).as("total_price"))
      },
      """SELECT count(*) AS n, max(o_orderkey) AS max_key,
        |  count(DISTINCT o_orderpriority) AS n_prio,
        |  round(sum(o_totalprice), 2) AS total_price
        |FROM orders""".stripMargin)),

    // A14 promoted: Hive-style k=v partitioned journal layout, written
    // by the sink's partitionBy routing and read back with the partition
    // column materialized from the PATH; the IN filter prunes partition
    // directories before any file opens.
    "lwes_partitioned" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"part|$d") { dir =>
          t(s, d, "orders")
            .withColumn("prio", substring(col("o_orderpriority"), 1, 1))
            .select("o_orderkey", "o_totalprice", "prio")
            .write.format("lwes").option("eventName", "Order::Pt")
            .option("partitionBy", "prio").mode("append").save(dir)
        }
        s.read.format("lwes")
          .schema("o_orderkey long, o_totalprice double, prio string")
          .option("eventName", "Order::Pt").load(dir)
          .filter(col("prio").isin("1", "3", "5"))
          .groupBy(col("prio"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("total_price"),
            max(col("o_orderkey")).as("max_key"))
          .orderBy(col("prio"))
      },
      """SELECT substr(o_orderpriority, 1, 1) AS prio, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  max(o_orderkey) AS max_key
        |FROM orders WHERE substr(o_orderpriority, 1, 1) IN ('1', '3', '5')
        |GROUP BY prio ORDER BY prio""".stripMargin)),

    // A15 promoted: journals stored as SequenceFiles of EventWritable
    // (the reference's second container, EventSerDe.java:36-38), one
    // zlib record-compressed and one block-compressed, auto-detected by
    // the same format("lwes") load. The containers are materialized
    // driver-side with Hadoop's own SequenceFile.Writer — scaffolding
    // (the reference layout came from legacy Hadoop jobs); the operator
    // under test is the read path.
    "lwes_seqfile" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"seq|$d") { dir =>
          val conf = s.sessionState.newHadoopConf()
          def open(path: String, ct: SequenceFile.CompressionType) =
            SequenceFile.createWriter(conf,
              SequenceFile.Writer.file(new org.apache.hadoop.fs.Path(path)),
              SequenceFile.Writer.keyClass(classOf[LongWritable]),
              SequenceFile.Writer.valueClass(classOf[BytesWritable]),
              SequenceFile.Writer.compression(ct))
          val ws = Array(
            open(s"$dir/j0.seq", SequenceFile.CompressionType.RECORD),
            open(s"$dir/j1.seq", SequenceFile.CompressionType.BLOCK))
          val it = t(s, d, "customer")
            .select("c_custkey", "c_mktsegment", "c_acctbal").toLocalIterator()
          while (it.hasNext) {
            val r = it.next()
            val ev = LwesEvent("Cust::Seq")
              .setInt64("c_custkey", r.getLong(0))
              .setString("c_mktsegment", r.getString(1))
              .setString("c_acctbal", r.getDouble(2).toString)
            val bytes = LwesCodec.serialize(ev)
            ws((r.getLong(0) % 2).toInt).append(
              new LongWritable(r.getLong(0)), new BytesWritable(bytes))
          }
          ws.foreach(_.close())
        }
        s.read.format("lwes")
          .schema("c_custkey long, c_mktsegment string, c_acctbal double")
          .option("eventName", "Cust::Seq").load(dir)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal")), 2).as("total_bal"),
            min(col("c_custkey")).as("min_key"))
          .orderBy(col("c_mktsegment"))
      },
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS total_bal, min(c_custkey) AS min_key
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // A18 promoted: 12 small journals compact to 2 and the aggregate
    // over the compacted directory still hash-matches the source —
    // compaction's uncapped inference, event-type preservation, and
    // promote-then-delete swap all sit under the hard signal.
    "lwes_compacted" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"cmp|$d") { dir =>
          events(s, d).select("event_id", "user_id", "value")
            .repartition(12)
            .write.format("lwes").option("eventName", "Cm::E")
            .mode("append").save(dir)
          val (before, after) = graft.sources.lwes.Compact.compact(s, dir, 2)
          require(before == 12 && after <= 2,
            s"compaction must shrink 12 journals to <=2, got $before -> $after")
        }
        s.read.format("lwes")
          .schema("event_id long, user_id long, value double")
          .option("eventName", "Cm::E").load(dir)
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 2).as("total_value"),
            countDistinct(col("user_id")).as("n_users"),
            max(col("event_id")).as("max_id"))
      },
      """SELECT count(*) AS n, round(sum(value), 2) AS total_value,
        |  count(DISTINCT user_id) AS n_users, max(event_id) AS max_id
        |FROM events""".stripMargin)),

    // C32: streaming exact dedup (first-arrival wins) — documents
    // stream in doc_id-monotone micro-batches (6 mtime-ordered
    // journals), a one-boolean-per-key state store drops every
    // duplicate after its first arrival, and the surviving rows equal
    // the BATCH dedup answer (QUALIFY row_number()=1) the oracle
    // replays. Exercises flatMapGroupsWithState + the lwes sink's
    // idempotent epochs end-to-end on the C-surface.
    "lwes_stream_dedup" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val src = cached(s"sdedup|$d") { dir =>
          // inject deterministic duplicates (every 7th doc re-arrives
          // under a larger id) so the drop path is exercised at every
          // SF — the corpus has few/no natural duplicate texts. Offset
          // by max(doc_id)+1, not a constant: a fixed offset collides
          // with real ids once the corpus outgrows it, and tied ids
          // order nondeterministically under the hash compare
          val base = t(s, d, "documents")
          val maxIdRow = base.agg(max(col("doc_id"))).head
          val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
          val corpus = base.select(col("doc_id"), col("text"), col("lang"),
              col("n_chars"))
            .unionAll(base.filter(pmod(col("doc_id"), lit(7)) === 0)
              .select(col("doc_id") + lit(maxId + 1), col("text"), col("lang"),
                col("n_chars")))
          val docs = corpus
            .select(col("doc_id"), md5(col("text")).as("text_md5"),
              col("lang"), col("n_chars").cast("long").as("n_chars"))
            .orderBy(col("doc_id")).collect()
          // 6 contiguous doc_id ranges, strictly increasing mtimes ->
          // mtime-ordered admission streams batches in doc_id order, so
          // first-arrival == smallest doc_id per text
          val chunk = (docs.length + 5) / 6
          docs.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
            val before = Option(new java.io.File(dir).listFiles())
              .getOrElse(Array.empty).map(_.getName).toSet
            s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
                docs.head.schema)
              .write.format("lwes").option("eventName", "Doc::D")
              .mode("append").save(dir)
            new java.io.File(dir).listFiles()
              .filterNot(f => before.contains(f.getName) ||
                f.getName.startsWith(".") || f.getName.startsWith("_"))
              .foreach(bumpMtime(_, 1700000000000L + i * 60000L))
          }
        }
        val dst = tmpDir("sdedup-dst")
        val ckpt = tmpDir("sdedup-ckpt")
        // 4 shuffle partitions for the micro-batch state op (the
        // lwes_stream_sessions convention): 6 sequential batches x 32
        // state-store tasks is pure per-task overhead at gate scale
        val q = withFewShufflePartitions(s) {
          val in = s.readStream.format("lwes")
            .schema("doc_id long, text_md5 string, lang string, n_chars long")
            .option("eventName", "Doc::D")
            .option("maxFilesPerTrigger", "1").load(src)
            .as[graft.streaming.StreamOps.DocRow]
          graft.streaming.StreamOps.dedupFirstSeen(s, in)
            .toDF()
            .writeStream.format("lwes")
            .option("eventName", "Ded::D")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(dst)
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_dedup", q)
        s.read.format("lwes")
          .schema("doc_id long, text_md5 string, lang string, n_chars long")
          .option("eventName", "Ded::D").load(dst)
          .orderBy(col("doc_id"))
      },
      """WITH corpus AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |    text, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, md5(text) AS text_md5, lang,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM corpus
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin)),

    // C32 extension: streaming NEAR-dup dedup at ingest. Documents
    // stream in doc_id-monotone micro-batches; each doc's portable
    // 48-bit SimHash splits into 4 12-bit bands, each (band,value)
    // state bucket stores the full signatures that carried it, and a
    // doc is dropped iff some EARLIER arrival (kept or dropped)
    // sharing a band is within hamming <= 3 of its full signature —
    // the batch C3 verification contract. By pigeonhole the surviving
    // set equals the brute-force first-arrival hamming dedup, which
    // the oracle replays with the gate-proven md5 SimHash replay + a
    // banded hamming join + one anti-join. Injected exact copies
    // (every 7th doc) are always hamming 0 from their original;
    // appended-tail copies (every 11th) are dropped only when the
    // edit moves <= 3 signature bits — BOTH engines compute that from
    // the same signature, so the answer is deterministic either way.
    // Exercises flatMapGroupsWithState + the foreachBatch doc-level
    // combine end-to-end.
    "lwes_stream_neardup" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val src = cached(s"sneardup|$d") { dir =>
          val base = t(s, d, "documents")
          val maxIdRow = base.agg(max(col("doc_id"))).head
          val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
          val corpus = base.select(col("doc_id"), col("text"), col("lang"),
              col("n_chars"))
            .unionAll(base.filter(pmod(col("doc_id"), lit(7)) === 0)
              .select(col("doc_id") + lit(maxId + 1), col("text"), col("lang"),
                col("n_chars")))
            .unionAll(base.filter(pmod(col("doc_id"), lit(11)) === 0)
              .select(col("doc_id") + lit(2L * (maxId + 1)),
                concat(col("text"), lit(" extra tail words")), col("lang"),
                col("n_chars")))
          val docs = corpus
            .select(col("doc_id"), col("text"), col("lang"),
              col("n_chars").cast("long").as("n_chars"))
            .orderBy(col("doc_id")).collect()
          // 6 contiguous doc_id ranges, strictly increasing mtimes ->
          // doc_id-monotone arrival (the equivalence precondition)
          val chunk = (docs.length + 5) / 6
          docs.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
            val before = Option(new java.io.File(dir).listFiles())
              .getOrElse(Array.empty).map(_.getName).toSet
            s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1),
                docs.head.schema)
              .write.format("lwes").option("eventName", "Doc::N")
              .mode("append").save(dir)
            new java.io.File(dir).listFiles()
              .filterNot(f => before.contains(f.getName) ||
                f.getName.startsWith(".") || f.getName.startsWith("_"))
              .foreach(bumpMtime(_, 1700000000000L + i * 60000L))
          }
        }
        val dst = tmpDir("sneardup-dst")
        val ckpt = tmpDir("sneardup-ckpt")
        val q = withFewShufflePartitions(s) {
          val in = s.readStream.format("lwes")
            .schema("doc_id long, text string, lang string, n_chars long")
            .option("eventName", "Doc::N")
            .option("maxFilesPerTrigger", "1").load(src)
            .as[graft.streaming.StreamOps.NearDocRow]
          graft.streaming.StreamOps.nearDupBandVerdicts(s, in)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[graft.streaming.StreamOps.BandVerdict],
               _: Long) =>
                graft.streaming.StreamOps.keepUncollided(b.toDF())
                  .write.format("lwes").option("eventName", "Ned::D")
                  .mode("append").save(dst)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_neardup", q)
        s.read.format("lwes")
          .schema("doc_id long, text_md5 string, lang string, n_chars long")
          .option("eventName", "Ned::D").load(dst)
          .orderBy(col("doc_id"))
      },
      """WITH corpus AS (
        |  SELECT doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |    text, lang, n_chars
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
        |    text || ' extra tail words', lang, n_chars
        |  FROM documents WHERE doc_id % 11 = 0),
        |tokh AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM corpus)),
        |bitsum AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN CAST(floor(h / power(2, b)) AS BIGINT) % 2 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM tokh CROSS JOIN (SELECT unnest(range(48)) AS b) bb
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS sg
        |  FROM bitsum GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b AS band,
        |    CAST(floor(sg / power(2, 12 * b)) AS BIGINT) % 4096 AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
        |coll AS (
        |  SELECT DISTINCT b2.doc_id
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.bval = b2.bval
        |   AND b1.doc_id < b2.doc_id
        |  JOIN sig s1 ON s1.doc_id = b1.doc_id
        |  JOIN sig s2 ON s2.doc_id = b2.doc_id
        |  WHERE bit_count(xor(s1.sg, s2.sg)) <= 3)
        |SELECT c.doc_id, md5(c.text) AS text_md5, c.lang,
        |  CAST(c.n_chars AS BIGINT) AS n_chars
        |FROM corpus c LEFT JOIN coll ON c.doc_id = coll.doc_id
        |WHERE coll.doc_id IS NULL
        |ORDER BY c.doc_id""".stripMargin)),

    // C34 composed onto the C32 extension: streaming KEEP-BEST at
    // ingest. Same verified band/hamming machinery as
    // `lwes_stream_neardup`, but each wave's bucket slices process in
    // (quality DESC, doc_id ASC) order — quality = text length — so
    // within a wave a near-dup family keeps its quality argmax, not
    // its first arrival; across waves the earlier winner stays
    // (append streams cannot retract). Families are id-ADJACENT here
    // (original at 4k, exact copy at 4k+1, longer tail variant at
    // 4k+2) so they land in the same wave and the argmax genuinely
    // flips to the tail variant wherever its signature stays within
    // hamming 3. The kept set is greedy (wave, quality desc, doc_id)
    // hamming dedup, which the oracle replays: signature replay +
    // banded hamming join, with "earlier arrival" generalized to the
    // processing-key comparison and the wave index recomputed from the
    // same 6-way chunking the journal writer used.
    "lwes_stream_keepbest" -> ((
      (s: SparkSession, d: String) => {
        val dst = runKeepBestStream(s, keepbestJournal(s, d),
          "lwes_stream_keepbest")
        s.read.format("lwes")
          .schema("doc_id long, text_md5 string, lang string, n_chars long")
          .option("eventName", "Ned::K").load(dst)
          .orderBy(col("doc_id"))
      },
      """WITH corpus AS (
        |  SELECT doc_id * 4 AS doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id * 4 + 1, text, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 2, text || ' extra tail words', lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 0),
        |keyed AS (
        |  SELECT doc_id, length(text) AS q,
        |    (row_number() OVER (ORDER BY doc_id) - 1)
        |      // CAST(ceil((SELECT count(*) FROM corpus) / 6.0) AS BIGINT)
        |      AS wave
        |  FROM corpus),
        |tokh AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM corpus)),
        |bitsum AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN CAST(floor(h / power(2, b)) AS BIGINT) % 2 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM tokh CROSS JOIN (SELECT unnest(range(48)) AS b) bb
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS sg
        |  FROM bitsum GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b AS band,
        |    CAST(floor(sg / power(2, 12 * b)) AS BIGINT) % 4096 AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
        |coll AS (
        |  SELECT DISTINCT b2.doc_id
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.bval = b2.bval
        |   AND b1.doc_id <> b2.doc_id
        |  JOIN keyed k1 ON k1.doc_id = b1.doc_id
        |  JOIN keyed k2 ON k2.doc_id = b2.doc_id
        |  JOIN sig s1 ON s1.doc_id = b1.doc_id
        |  JOIN sig s2 ON s2.doc_id = b2.doc_id
        |  WHERE (k1.wave < k2.wave OR (k1.wave = k2.wave AND
        |         (k1.q > k2.q OR (k1.q = k2.q AND k1.doc_id < k2.doc_id))))
        |    AND bit_count(xor(s1.sg, s2.sg)) <= 3)
        |SELECT c.doc_id, md5(c.text) AS text_md5, c.lang,
        |  CAST(c.n_chars AS BIGINT) AS n_chars
        |FROM corpus c LEFT JOIN coll ON c.doc_id = coll.doc_id
        |WHERE coll.doc_id IS NULL
        |ORDER BY c.doc_id""".stripMargin)),

    // C35 → C34 closed: the streamed keep-best set is PROVISIONAL (an
    // append stream cannot retract an emitted winner, so a later
    // better copy loses cross-wave, and dropped chain links can split
    // families) — this gate runs the stream AND the compensating
    // end-of-day batch pass (StreamOps.reconcileKeepBest over the
    // day's full ingest journal: banded-hamming pairs → star CC →
    // C34's ORDER-INDEPENDENT (quality desc, id asc) argmax) and pins
    // the settled set TOGETHER WITH the exact compensation delta:
    // every corpus doc that is provisional-and-settled ('confirmed'),
    // settled-only ('added' — the late better copies the stream had
    // to drop), or provisional-only ('retracted' — the superseded
    // early winners). The oracle replays BOTH definitions — the
    // wave-greedy stream AND the order-independent argmax over a
    // recursive-CTE component closure — so stream + reconcile ≡ pure
    // batch is checked end to end, not asserted.
    "lwes_stream_keepbest_reconciled" -> ((
      (s: SparkSession, d: String) => {
        val src = keepbestJournal(s, d)
        val dst = runKeepBestStream(s, src, "lwes_stream_keepbest_reconciled")
        val provisional = s.read.format("lwes")
          .schema("doc_id long, text_md5 string, lang string, n_chars long")
          .option("eventName", "Ned::K").load(dst)
          .select(col("doc_id"), lit(true).as("__prov"))
        val corpus = s.read.format("lwes")
          .schema("doc_id long, text string, lang string, n_chars long")
          .option("eventName", "Doc::K").load(src)
        // the stream persisted every doc's 48-bit signature beside its
        // kept set (Sig::K) — the reconcile's pair stage reads THAT
        // narrow journal instead of re-shingling the day's text, so
        // the full-text corpus parses once (quality + output), not
        // twice (r15; measured parse-work delta in SURVEY §14)
        val sigs = s.read.format("lwes")
          .schema("doc_id long, sig long")
          .option("eventName", "Sig::K").load(dst)
        val settled = graft.streaming.StreamOps.reconcileKeepBest(corpus,
            "doc_id", "text", length(col("text")).cast("double"),
            sigs = Some(sigs))
          .select(col("doc_id"), lit(true).as("__set"))
        corpus
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            col("lang"), col("n_chars"))
          .join(settled, Seq("doc_id"), "left_outer")
          .join(provisional, Seq("doc_id"), "left_outer")
          .withColumn("status",
            when(col("__set").isNotNull && col("__prov").isNotNull, "confirmed")
              .when(col("__set").isNotNull, "added")
              .when(col("__prov").isNotNull, "retracted"))
          .filter(col("status").isNotNull)
          .select(col("doc_id"), col("text_md5"), col("lang"),
            col("n_chars"), col("status"))
          .orderBy(col("doc_id"))
      },
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id * 4 AS doc_id, text, lang, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id * 4 + 1, text, lang, n_chars
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 2, text || ' extra tail words', lang, n_chars
        |  FROM documents WHERE doc_id % 5 = 0),
        |keyed AS (
        |  SELECT doc_id, length(text) AS q,
        |    (row_number() OVER (ORDER BY doc_id) - 1)
        |      // CAST(ceil((SELECT count(*) FROM corpus) / 6.0) AS BIGINT)
        |      AS wave
        |  FROM corpus),
        |tokh AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT) AS h
        |  FROM (SELECT doc_id,
        |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        |        FROM corpus)),
        |bitsum AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN CAST(floor(h / power(2, b)) AS BIGINT) % 2 = 1
        |        THEN 1 ELSE -1 END) AS s
        |  FROM tokh CROSS JOIN (SELECT unnest(range(48)) AS b) bb
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN s > 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS sg
        |  FROM bitsum GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, b AS band,
        |    CAST(floor(sg / power(2, 12 * b)) AS BIGINT) % 4096 AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
        |coll AS (
        |  SELECT DISTINCT b2.doc_id
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.bval = b2.bval
        |   AND b1.doc_id <> b2.doc_id
        |  JOIN keyed k1 ON k1.doc_id = b1.doc_id
        |  JOIN keyed k2 ON k2.doc_id = b2.doc_id
        |  JOIN sig s1 ON s1.doc_id = b1.doc_id
        |  JOIN sig s2 ON s2.doc_id = b2.doc_id
        |  WHERE (k1.wave < k2.wave OR (k1.wave = k2.wave AND
        |         (k1.q > k2.q OR (k1.q = k2.q AND k1.doc_id < k2.doc_id))))
        |    AND bit_count(xor(s1.sg, s2.sg)) <= 3),
        |edges AS (
        |  SELECT DISTINCT b1.doc_id AS ida, b2.doc_id AS idb
        |  FROM bands b1 JOIN bands b2
        |    ON b1.band = b2.band AND b1.bval = b2.bval
        |   AND b1.doc_id < b2.doc_id
        |  JOIN sig s1 ON s1.doc_id = b1.doc_id
        |  JOIN sig s2 ON s2.doc_id = b2.doc_id
        |  WHERE bit_count(xor(s1.sg, s2.sg)) <= 3),
        |und AS (SELECT ida AS src, idb AS dst FROM edges
        |        UNION ALL SELECT idb, ida FROM edges),
        |reach(id, label) AS (
        |  SELECT DISTINCT src, src FROM und
        |  UNION
        |  SELECT u.dst, r.label FROM reach r JOIN und u ON u.src = r.id),
        |cc AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id),
        |winners AS (
        |  SELECT doc_id FROM (
        |    SELECT c.id AS doc_id,
        |      row_number() OVER (PARTITION BY c.cluster_id
        |        ORDER BY k.q DESC, c.id) AS rn
        |    FROM cc c JOIN keyed k ON k.doc_id = c.id)
        |  WHERE rn = 1),
        |settled AS (
        |  SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT id FROM cc)
        |  UNION ALL
        |  SELECT doc_id FROM winners),
        |surv AS (
        |  SELECT c.doc_id FROM corpus c
        |  LEFT JOIN coll ON c.doc_id = coll.doc_id
        |  WHERE coll.doc_id IS NULL)
        |SELECT c.doc_id, md5(c.text) AS text_md5, c.lang,
        |  CAST(c.n_chars AS BIGINT) AS n_chars,
        |  CASE WHEN st.doc_id IS NOT NULL AND sv.doc_id IS NOT NULL
        |         THEN 'confirmed'
        |       WHEN st.doc_id IS NOT NULL THEN 'added'
        |       ELSE 'retracted' END AS status
        |FROM corpus c
        |LEFT JOIN settled st ON st.doc_id = c.doc_id
        |LEFT JOIN surv sv ON sv.doc_id = c.doc_id
        |WHERE st.doc_id IS NOT NULL OR sv.doc_id IS NOT NULL
        |ORDER BY c.doc_id""".stripMargin)),

    // C13/C29 composed onto the journal stream: decontamination AT
    // INGEST. Probe prep (Bloom + inverted shingle index) happens once
    // before the stream starts; each arriving doc is screened by a
    // STATELESS per-row projection — bloom any-hit for the common
    // clean case, exact containment only for the flagged sliver. The
    // verdict equals the batch decontaminate rule exactly (same
    // shingles, same round(·,4) >= 0.5 containment), so the oracle
    // replays it with string shingles; bloom_hit itself is
    // implementation-specific, so the gate pins the IMPLICATION
    // (contaminated => flagged) as bloom_caught, like
    // text_bloom_decontam.
    "lwes_stream_decontam" -> ((
      (s: SparkSession, d: String) => {
        val src = cached(s"sdecontam|$d") { dir =>
          t(s, d, "documents")
            .select(col("doc_id"), col("text"), col("lang"),
              col("n_chars").cast("long").as("n_chars"))
            .repartition(2)
            .write.format("lwes").option("eventName", "Doc::C")
            .mode("append").save(dir)
        }
        val probes = t(s, d, "documents")
          .filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("probe_id"), col("text"))
        val dst = tmpDir("sdecontam-dst")
        val ckpt = tmpDir("sdecontam-ckpt")
        val q = withFewShufflePartitions(s) {
          val in = s.readStream.format("lwes")
            .schema("doc_id long, text string, lang string, n_chars long")
            .option("eventName", "Doc::C")
            .option("maxFilesPerTrigger", "1").load(src)
          graft.streaming.StreamOps.decontaminateStream(s, in, probes)
            .writeStream
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[graft.streaming.StreamOps.DecontamDoc],
               _: Long) =>
                b.toDF()
                  .withColumn("bloom_caught",
                    !col("contaminated") || col("bloom_hit"))
                  .drop("bloom_hit")
                  .write.format("lwes").option("eventName", "Dec::D")
                  .mode("append").save(dst)
            }
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        logStateMetrics("lwes_stream_decontam", q)
        s.read.format("lwes")
          .schema("doc_id long, lang string, n_chars long, " +
            "contaminated boolean, bloom_caught boolean")
          .option("eventName", "Dec::D").load(dst)
          .orderBy(col("doc_id"))
      },
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(ts) >= 3
        |         THEN list_distinct(list_transform(range(1, len(ts) - 1),
        |                i -> array_to_string(ts[i:i+2], ' ')))
        |         ELSE [array_to_string(ts, ' ')] END AS s
        |  FROM tok),
        |probes AS (
        |  SELECT doc_id AS probe_id, s AS ps FROM sh WHERE doc_id % 100 = 0),
        |cont AS (
        |  SELECT DISTINCT d.doc_id
        |  FROM sh d CROSS JOIN probes p
        |  WHERE round(len(list_intersect(d.s, p.ps))::DOUBLE /
        |          greatest(len(p.ps), 1), 4) >= 0.5)
        |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
        |  (doc_id IN (SELECT doc_id FROM cont)) AS contaminated,
        |  true AS bloom_caught
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ESF event-template support (r15): the schema comes from a public
    // Event Specification Format file — how real lwes deployments
    // declare schemas (the reference needed Hive DDL, README:41-59).
    // The WRITE validates against the template and encodes with the
    // DECLARED wire types (native double/float tokens, uint16
    // narrowing, int64 arrays); the READ derives its schema from the
    // same template with no explicit schema and no sampling pass, and
    // MetaEventInfo merging adds the header columns. Hash-gated vs the
    // oracle's replay of the same derivation from orders.
    "lwes_esf_schema" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"esf|$d") { dir =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, ".orders.esf"), OrdersEsf)
          t(s, d, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_orderpriority"),
              col("o_totalprice").as("price_d"),
              col("o_totalprice").cast("float").as("price_f"),
              (col("o_custkey") % 1000).cast("int").as("cust_mod"),
              array(col("o_orderkey"), col("o_custkey")).as("keys"))
            .write.format("lwes").option("eventName", "Order::Esf")
            .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.orders.esf")
            .mode("append").save(dir)
        }
        s.read.format("lwes").option("eventName", "Order::Esf")
          .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.orders.esf")
          .load(dir)
          .agg(count(lit(1)).as("n"),
            max(col("o_orderkey")).as("max_key"),
            countDistinct(col("o_orderpriority")).as("n_prio"),
            round(sum(col("price_d")), 2).as("total_price"),
            round(max(col("price_f")).cast("double"), 2).as("max_price_f"),
            sum(col("cust_mod")).as("sum_cust_mod"),
            sum(element_at(col("keys"), 2)).as("sum_k2"))
      },
      """SELECT count(*) AS n, max(o_orderkey) AS max_key,
        |  count(DISTINCT o_orderpriority) AS n_prio,
        |  round(sum(o_totalprice), 2) AS total_price,
        |  round(CAST(max(CAST(o_totalprice AS REAL)) AS DOUBLE), 2) AS max_price_f,
        |  CAST(sum(o_custkey % 1000) AS BIGINT) AS sum_cust_mod,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_k2
        |FROM orders""".stripMargin)),

    // ESF DEFAULT VALUES (r16, closes A24): lwes-java EventTemplateDB
    // applies a declared default to UNSET attributes. The journal here
    // is written WITHOUT the template (null priority/bucket → attr
    // unset on the wire; retries/score/flagged/dims/tags have no
    // column at all); the read declares the template, so every missing
    // attribute must materialize its declared default — scalar and
    // array (EsfSpec pins the scalar and array fills). The oracle
    // replays the exact fill from orders.
    "lwes_esf_defaults" -> ((
      (s: SparkSession, d: String) => {
        val dir = cached(s"esfdfl|$d") { dir =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(dir, ".defaults.esf"), DefaultsEsf)
          t(s, d, "orders")
            .select(col("o_orderkey"),
              when(col("o_orderkey") % 3 === 0, lit(null).cast("string"))
                .otherwise(col("o_orderpriority")).as("o_orderpriority"),
              when(col("o_orderkey") % 7 === 0, lit(null).cast("int"))
                .otherwise((col("o_custkey") % 5).cast("int")).as("bucket"))
            .write.format("lwes").option("eventName", "Order::Dft")
            .mode("append").save(dir) // NO template on the write side
        }
        s.read.format("lwes").option("eventName", "Order::Dft")
          .option(graft.sources.lwes.LwesOptions.Esf, s"$dir/.defaults.esf")
          .load(dir)
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderpriority") === "1-URGENT", 1L)
              .otherwise(0L)).as("n_urgent"),
            sum(col("retries")).as("sum_retries"),
            round(sum(col("score")), 2).as("sum_score"),
            sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
            sum(col("bucket").cast("long")).as("sum_bucket"),
            sum(element_at(col("dims"), 3)).as("sum_dim3"),
            max(concat_ws(",", col("tags"))).as("tags_cat"),
            max(col("host")).as("host"))
      },
      """SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 OR o_orderpriority = '1-URGENT'
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(0 AS BIGINT) AS sum_retries,
        |  round(count(*) * 1.5, 2) AS sum_score,
        |  CAST(0 AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 7
        |                ELSE o_custkey % 5 END) AS BIGINT) AS sum_bucket,
        |  CAST(count(*) * 3 AS BIGINT) AS sum_dim3,
        |  'a,b' AS tags_cat,
        |  '10.0.0.1' AS host
        |FROM orders""".stripMargin))
  )

  /** The `.esf` fixture for `lwes_esf_schema` — the public ESF grammar:
    * comments, MetaEventInfo merging, qualifiers, defaults, scalar +
    * array declarations (graft.lwes.Esf). */
  private val OrdersEsf: String =
    """# Order events derived from the TPC-H orders table
      |MetaEventInfo
      |{
      |  uint64 ReceiptTime;
      |  ip_addr SenderIP;
      |  uint16 SenderPort;
      |  uint16 SiteID;
      |}
      |
      |Order::Esf
      |{
      |  required int64 o_orderkey;   # primary key, never null
      |  int64 o_custkey;
      |  string o_orderpriority = "1-URGENT";
      |  double price_d;
      |  float price_f;
      |  uint16 cust_mod;
      |  int64 keys[2];
      |}
      |""".stripMargin

  /** The `.esf` fixture for `lwes_esf_defaults` — every declared-type
    * family carries a default: string, int64, double, boolean, uint16,
    * int64 array, string array, ip_addr (graft.lwes.Esf.typedDefault). */
  private val DefaultsEsf: String =
    """# defaults applied to unset attributes (lwes-java EventTemplateDB)
      |Order::Dft
      |{
      |  required int64 o_orderkey;
      |  string o_orderpriority = "1-URGENT";
      |  uint16 bucket = 7;
      |  int64 retries = 0;
      |  double score = 1.5;
      |  boolean flagged = false;
      |  int64 dims[4] = 1,2,3;
      |  string tags[4] = "a","b";
      |  ip_addr host = "10.0.0.1";
      |}
      |""".stripMargin
}

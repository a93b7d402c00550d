package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: generate inputs from the seed, set the program up
  * several times (median = setup_s), then run ops in a closed loop with one
  * client for `--seconds`, check every answer, and print a report line and
  * the result line (`RESULT {...}`), which the launcher prints last.
  *
  * With `--trace 1` every second rotation of op shapes is traced (spans,
  * plan metrics) and the others are not; the
  * per-layer metrics come from the traced ops and the probes, and the two
  * halves give the tracing overhead. */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traceDir: File, scale: Scale, gitSha: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(m.getOrElse("trace-dir", need("work"))),
      Scale.full, m.getOrElse("git-sha", "unknown"))
  }

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: File): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val s = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // small status stores, so live heap neither grows with op count nor
      // saw-tooths with their trimming
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "4")
      .config("spark.ui.retainedStages", "4")
      .config("spark.ui.retainedTasks", "100")
      .config("spark.sql.streaming.numRecentProgressUpdates", "200")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim catch { case _: Exception => "n/a" }

  final case class Outcome(report: collection.Map[String, Any], correct: Boolean,
      attempted: Int, failed: Int, metrics: Map[String, (Double, String)]) {
    def result: String = Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--self-test")) selfTest(new File(argv(1)))
    else {
      val o = run(parse(argv))
      println("report: " + Json.value(o.report))
      println("RESULT " + o.result)
    }
    System.exit(0)
  }

  /** Tiny-size pass over every workload, traced and untraced, plus input
    * determinism: the same seed must give the same digest and another
    * seed a different one. Prints one `SELFTEST {...}` line per run; the
    * launcher checks them against BENCHMARK.json. */
  def selfTest(work: File): Unit = {
    Workloads.names.foreach { name =>
      val digests = Seq(1L, 1L, 2L).zipWithIndex.map { case (seed, k) =>
        val dir = new File(work, s"digest-$name-$k")
        val d = Workloads(name, dir).generate(seed, Scale.tiny)
        Workloads.rmrf(dir); d
      }
      println("SELFTEST " + Json.obj("workload" -> name, "check" -> "digest",
        "same_seed_same_digest" -> (digests(0) == digests(1)),
        "other_seed_other_digest" -> (digests(0) != digests(2))))
      Seq(false, true).foreach { trace =>
        val dir = new File(work, s"run-$name-$trace")
        val o = run(Args(name, 1L, 1.0, trace, dir, dir, Scale.tiny, "self-test"))
        Workloads.rmrf(dir)
        println("SELFTEST " + Json.obj("workload" -> name, "check" -> "run", "trace" -> trace,
          "result" -> Json.Raw(o.result)))
      }
    }
  }

  def run(a: Args): Outcome = {
    val loadStart = loadavg()
    a.work.mkdirs()
    val w = Workloads(a.workload, a.work)
    val (digest, genMs) = Workloads.timed(w.generate(a.seed, a.scale))
    // live heap the generated inputs and expected answers hold; heap_live_mb
    // is what the session and the program add on top of it
    val heapBaseMb = Stats.liveHeapMb()

    // set-up, repeated: session start through warm-up of every op shape
    var spark: SparkSession = null
    var listener: OpListener = null
    val setupS = (0 until SetupReps).map { rep =>
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val t0 = System.nanoTime()
      spark = session(a.work)
      listener = new OpListener
      spark.sparkContext.addSparkListener(listener)
      w.setup(spark, rep)
      (System.nanoTime() - t0) / 1e9
    }

    // timed phase: a closed loop with one client
    val tracer = new Tracer(a.trace)
    val layer = new Layer
    final case class Done(i: Int, traced: Boolean, out: OpOut, ok: Boolean, wallMs: Double, cpuNs: Long, execSpan: Int)
    val done = mutable.ArrayBuffer.empty[Done]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    // at least two ops, and with tracing one untraced and one traced rotation
    val minOps = if (a.trace) 2 * w.shapeCount else 2
    var i = 0
    while (System.nanoTime() < deadline || done.size < minOps || i % w.shapeCount != 0) {
      // whole rotations alternate, so traced and untraced ops see the same shape mix
      val traced = a.trace && (i / w.shapeCount) % 2 == 1
      val c = new Ctx(spark, if (traced) tracer else new Tracer(false), traced, i, layer)
      spark.sparkContext.setLocalProperty(OpListener.OpKey, i.toString)
      val cpu0 = Stats.processCpuNs(); val t0 = System.nanoTime()
      val o = try w.op(c, i) catch {
        case e: Exception => System.err.println(s"op $i failed: $e"); OpOut(0, Nil, () => false)
      }
      val wall = (System.nanoTime() - t0) / 1e6
      val cpuNs = Stats.processCpuNs() - cpu0
      // the answer check runs outside the op's wall and CPU window
      val ok = try o.check() catch { case e: Exception => System.err.println(s"op $i check failed: $e"); false }
      done += Done(i, traced, o, ok, wall, cpuNs, c.execSpan)
      spark.sparkContext.setLocalProperty(OpListener.OpKey, null)
      i += 1
    }
    org.apache.spark.GraftbenchBridge.drain(spark.sparkContext)
    val heapMb = Stats.liveHeapMb() - heapBaseMb

    val deferred = w.verifyDeferred()
    val oks = done.indices.map(k => done(k).ok && deferred.lift(k).getOrElse(true))
    var failed = oks.count(!_)
    var attempted = done.size

    // Rates come from per-shape medians, so one slow op (a GC pause, a
    // neighbour's burst) does not move them; a run is whole rotations.
    def endToEnd(ds: Seq[Done]): Map[String, Double] = {
      val byShape = ds.groupBy(_.i % w.shapeCount).values.toSeq
      def perRotation(f: Done => Double) = byShape.map(g => Stats.median(g.map(f))).sum
      val events = perRotation(_.out.events.toDouble)
      val execCpu = perRotation(d => listener.ops.get(d.i).map(_.cpuNs).getOrElse(0L).toDouble)
      Map("events_per_s" -> events / (perRotation(_.wallMs) / 1e3),
        "latency_p50_ms" -> Stats.median(ds.flatMap(_.out.latMs)),
        "cpu_s_per_Mevent" -> execCpu / 1e9 / (events / 1e6),
        "cpu_ms_per_query" -> perRotation(_.cpuNs.toDouble) / 1e6 / math.max(1.0, perRotation(_.out.latMs.size.toDouble)))
    }
    val plain = done.filterNot(_.traced).toSeq
    val e2e = endToEnd(plain) ++ Map(
      "bytes_per_event" -> w.bytesPerEvent,
      "heap_live_mb" -> heapMb,
      "setup_s" -> Stats.median(setupS))
    val lat = plain.flatMap(_.out.latMs)
    val p90 = if (lat.size >= 100) Stats.quantile(lat, 0.9) else Double.NaN

    val units = Map("events_per_s" -> "1/s", "latency_p50_ms" -> "ms", "cpu_s_per_Mevent" -> "s",
      "cpu_ms_per_query" -> "ms", "bytes_per_event" -> "bytes", "heap_live_mb" -> "MiB", "setup_s" -> "s")

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "input_digest" -> digest, "git_sha" -> a.gitSha,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> s"local[$cores]",
      "jvm_flags" -> {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filterNot(_.startsWith("--add-opens")).mkString(" ")
      },
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "generate_s" -> genMs / 1e3, "heap_inputs_mb" -> heapBaseMb, "setup_s_reps" -> setupS,
      "ops" -> done.size, "untraced_ops" -> plain.size, "latency_samples" -> lat.size,
      "shape_p50_ms" -> plain.groupBy(_.i % w.shapeCount).toSeq.sortBy(_._1).map { case (k, g) =>
        k.toString -> Stats.median(g.flatMap(_.out.latMs)) }.toMap,
      "latency_p90_ms" -> (if (p90.isNaN) s"n/a (${lat.size} samples < 100)" else p90),
      "end_to_end" -> e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) })

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) e2e.map { case (k, v) => k -> (v, units(k)) }
      else {
        val traced = done.filter(_.traced).toSeq
        val t = endToEnd(traced)
        traced.foreach { d =>
          listener.ops.get(d.i).foreach(_.jobSpans.values.foreach { case (s, e) =>
            val (ns, ne) = (tracer.fromEpochMs(s), tracer.fromEpochMs(e))
            tracer.add(d.i, tracer.innermost(d.i, ns).getOrElse(d.execSpan), "spark.job", ns, ne)
          })
        }
        val notes = w.traceNotes(spark)
        val probes = LayerProbes.run(spark, a.work, a.seed, listener)
        val cur = Curation.run(spark, a.work, a.seed, a.scale.docs, tracer)
        if (!cur.ok) { failed += 1; System.err.println("curation kept the wrong documents") }
        val ing = ingestPass(spark, new File(a.work, "ingest"), a.seed, a.scale, tracer)
        if (!ing.ok) { failed += 1; System.err.println("the ingest drain landed wrong output") }
        attempted += 2
        val ls = layerMetrics(traced.map(d => (d.i, d.out.events)), layer, listener, probes, cur, ing)
        val overhead = Map(
          "trace.latency_overhead_ratio" -> t("latency_p50_ms") / e2e("latency_p50_ms"),
          "trace.throughput_overhead_ratio" -> e2e("events_per_s") / t("events_per_s"))
        a.traceDir.mkdirs()
        val spanFile = new File(a.traceDir, s"${a.workload}-seed${a.seed}.spans.jsonl")
        tracer.write(spanFile)
        report ++= Seq("traced_ops" -> traced.size, "tracing_overhead" -> overhead,
          "spans" -> spanFile.getPath, "span_count" -> tracer.spans.size,
          "ingest_pass" -> Map("events" -> ing.events, "batch_p50_ms" -> Stats.median(ing.batchMs),
            "bytes_per_event" -> ing.bytesPerEvent),
          "self_ms" -> tracer.selfTimes.map { case (n, (cnt, tot, self)) =>
            n -> Map("count" -> cnt, "total_ms" -> tot, "self_ms" -> self) }) ++ notes
        (ls ++ overhead).map { case (k, v) => k -> (v, LayerUnits(k)) }
      }
    report("failed_op_ratio") = failed.toDouble / attempted
    report += "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }

    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    Outcome(report, failed == 0, attempted, failed, metrics)
  }

  final case class IngestPass(ok: Boolean, events: Long, batchMs: Seq[Double], bytesPerEvent: Double,
      filesPerEpoch: Double, layer: Layer)

  /** The streaming write path, once per traced run: a warm-up drain, then
    * one traced AvailableNow drain of a raw gzip backlog through the lwes
    * sink, checked by row count and checksum. */
  def ingestPass(spark: SparkSession, dir: File, seed: Long, scale: Scale, tracer: Tracer): IngestPass = {
    val w = new IngestWorkload(dir)
    w.generate(seed, scale)
    w.setup(spark, 0)
    val layer = new Layer
    val out = w.op(new Ctx(spark, tracer, traced = true, -300L, layer), 0)
    val ok = out.check() && w.verifyDeferred().forall(identity)
    IngestPass(ok, out.events, out.latMs, w.bytesPerEvent, w.filesPerEpoch, layer)
  }

  val LayerUnits: Map[String, String] = Map(
    "lwes_source.plan_ms" -> "ms", "lwes_source.events_parsed_per_query" -> "count",
    "lwes_source.files_opened_ratio" -> "ratio", "lwes_source.shortcut_hit_ratio" -> "ratio",
    "lwes_source.scan_cpu_ns_per_event" -> "ns", "lwes_source.rows_filtered_ratio" -> "ratio",
    "lwes_source.core_occupancy" -> "ratio", "lwes_source.task_skew" -> "ratio",
    "lwes.row_decode_ns_per_event" -> "ns", "lwes.encode_ns_per_event" -> "ns",
    "lwes_sink.write_cpu_ns_per_event" -> "ns", "lwes_sink.metadata_bytes_per_file" -> "bytes",
    "lwes_sink.files_per_epoch" -> "count",
    "streaming.add_batch_ms" -> "ms", "streaming.batch_overhead_ms" -> "ms", "streaming.backlog_files" -> "count",
    "functions.tokens_ns_per_doc" -> "ns", "functions.minhash_ns_per_doc" -> "ns",
    "operators.candidates_per_doc" -> "count", "operators.candidate_precision" -> "ratio",
    "operators.cc_ms" -> "ms", "operators.keep_best_ms" -> "ms",
    "spark.shuffle_bytes_per_event" -> "bytes", "spark.gc_share" -> "ratio",
    "spark.jobs_per_op" -> "count", "spark.fetch_wait_ms" -> "ms",
    "trace.latency_overhead_ratio" -> "ratio", "trace.throughput_overhead_ratio" -> "ratio")

  /** Per-layer metrics of the traced ops, the probes and the curation
    * and ingest passes; 0 where the workload does not exercise the layer.
    * `ops` = (op id, events). */
  def layerMetrics(ops: Seq[(Int, Long)], l: Layer, listener: OpListener,
      probes: Map[String, Double], cur: Curation.Result, ing: IngestPass): Map[String, Double] = {
    val stats = ops.flatMap(o => listener.ops.get(o._1))
    val leaves = stats.flatMap(_.stages.values.filter(s => s.leaf && s.taskMs.nonEmpty))
    val events = ops.map(_._2).sum.toDouble
    val n = math.max(1, ops.size).toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val parsed = l.sum("events_parsed")
    Map(
      "lwes_source.plan_ms" -> l.median("plan_ms"),
      "lwes_source.events_parsed_per_query" -> ratio(parsed, l.samples.get("events_parsed").map(_.size.toDouble).getOrElse(0.0)),
      "lwes_source.files_opened_ratio" -> l.mean("files_opened_ratio"),
      "lwes_source.shortcut_hit_ratio" -> l.mean("shortcut_hit"),
      "lwes_source.scan_cpu_ns_per_event" -> ratio(leaves.map(_.cpuNs).sum.toDouble, parsed),
      "lwes_source.rows_filtered_ratio" -> l.mean("rows_filtered_ratio"),
      "lwes_source.core_occupancy" -> ratio(leaves.map(_.taskMs.sum).sum.toDouble, leaves.map(_.wallMs * cores).sum.toDouble),
      "lwes_source.task_skew" -> Stats.median(leaves.filter(_.taskMs.size >= 2).map(s =>
        s.taskMs.max.toDouble / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq)))),
      "lwes.row_decode_ns_per_event" -> probes("lwes.row_decode_ns_per_event"),
      "lwes.encode_ns_per_event" -> probes("lwes.encode_ns_per_event"),
      "lwes_sink.write_cpu_ns_per_event" -> probes("lwes_sink.write_cpu_ns_per_event"),
      "lwes_sink.metadata_bytes_per_file" -> probes("lwes_sink.metadata_bytes_per_file"),
      "lwes_sink.files_per_epoch" -> ing.filesPerEpoch,
      "streaming.add_batch_ms" -> ing.layer.median("add_batch_ms"),
      "streaming.batch_overhead_ms" -> ing.layer.median("batch_overhead_ms"),
      "streaming.backlog_files" -> ing.layer.mean("backlog_files"),
      "functions.tokens_ns_per_doc" -> probes("functions.tokens_ns_per_doc"),
      "functions.minhash_ns_per_doc" -> probes("functions.minhash_ns_per_doc"),
      "operators.candidates_per_doc" -> cur.candidatesPerDoc,
      "operators.candidate_precision" -> cur.candidatePrecision,
      "operators.cc_ms" -> cur.stepMs("operators.cc"),
      "operators.keep_best_ms" -> cur.stepMs("operators.keep_best"),
      "spark.shuffle_bytes_per_event" -> ratio(stats.map(_.shuffleBytes).sum.toDouble, events),
      "spark.gc_share" -> ratio(stats.map(_.gcMs).sum.toDouble, stats.map(_.runMs).sum.toDouble),
      "spark.jobs_per_op" -> stats.map(_.jobs).sum / n,
      "spark.fetch_wait_ms" -> stats.map(_.fetchWaitMs).sum / n)
  }
}

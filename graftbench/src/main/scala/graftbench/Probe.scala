package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Per-op accounting from Spark's listener bus. Each op sets the local
  * property [[OpListener.OpKey]] before it runs, so every stage and job
  * it causes (streaming threads inherit the property) is attributed to
  * it. Read only after [[org.apache.spark.GraftbenchBridge.drain]]. */
final class OpListener extends SparkListener {
  import OpListener._
  val ops = mutable.LongMap.empty[OpStats]
  private val stageOp = mutable.HashMap.empty[(Int, Int), Long]
  private val jobOp = mutable.HashMap.empty[Int, Long]

  private def opOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
  private def stats(op: Long): OpStats = ops.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    jobOp(e.jobId) = op
    val s = stats(op)
    s.jobs += 1
    s.jobSpans(e.jobId) = (e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      val s = stats(op)
      s.jobSpans.get(e.jobId).foreach(t => s.jobSpans(e.jobId) = (t._1, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = opOf(e.properties)
    stageOp((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = op
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val op = stageOp.getOrElse((i.stageId, i.attemptNumber()), -1L)
    val st = stats(op).stage(i.stageId)
    st.leaf = i.parentIds.isEmpty
    st.wallMs = i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse((e.stageId, e.stageAttemptId), -1L)
    val m = e.taskMetrics
    if (m == null) return
    val s = stats(op)
    s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
    s.runMs += m.executorRunTime
    s.gcMs += m.jvmGCTime
    s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    val st = s.stage(e.stageId)
    st.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
    st.taskMs += e.taskInfo.duration
  }
}

object OpListener {
  val OpKey = "graftbench.op"
  final class StageStats {
    var leaf = false
    var wallMs = 0L
    var cpuNs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final class OpStats {
    var jobs = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var fetchWaitMs = 0L
    val jobSpans = mutable.LinkedHashMap.empty[Int, (Long, Long)]
    val stages = mutable.LinkedHashMap.empty[Int, StageStats]
    def stage(id: Int): StageStats = stages.getOrElseUpdate(id, new StageStats)
  }
}

/** In-memory spans: name, start, end, parent; spans of one op share its
  * id. Written out once, when the run ends. */
final class Tracer(val on: Boolean) {
  final case class Span(op: Long, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()

  /** Nanosecond clock position of an epoch-millis listener timestamp. */
  def fromEpochMs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def add(op: Long, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = spans.size
    spans += Span(op, id, parent, name, startNs, endNs)
    id
  }

  /** The most recently started span of `op` that contains time `t`. */
  def innermost(op: Long, t: Long): Option[Int] =
    spans.filter(s => s.op == op && s.startNs <= t && t <= s.endNs).sortBy(_.startNs).lastOption.map(_.id)

  def span[T](op: Long, parent: Int, name: String)(body: Int => T): T = {
    if (!on) return body(-1)
    val id = add(op, parent, name, System.nanoTime(), 0L)
    try body(id) finally spans(id) = spans(id).copy(endNs = System.nanoTime())
  }

  /** Self time per span name: duration minus the part of it that child
    * spans cover. Returns name -> (count, total ms, self ms). */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      var total = 0.0; var self = 0.0
      ss.foreach { s =>
        val d = (s.endNs - s.startNs).toDouble
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        total += d; self += d - covered
      }
      name -> ((ss.size, total / 1e6, self / 1e6))
    }
  }

  private def union(iv: collection.Seq[(Long, Long)]): Double = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }

  def write(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> (s.startNs - baseNs) / 1000, "end_us" -> (s.endNs - baseNs) / 1000))
    } finally w.close()
  }
}

/** What the LWES scans of one executed plan did, read from their SQL
  * metrics and scan descriptions. */
final case class ScanFacts(descriptions: Seq[String], counters: Map[String, Long]) {
  def apply(k: String): Long = counters.getOrElse(k, 0L)
}

object ScanFacts {
  val Counters = Seq("eventsParsed", "eventsSkipped", "rowsFiltered", "filesPruned",
    "filesPrunedByStats", "filesPrunedByTopN", "filesAggFromStats")

  /** Every node of a physical plan, through adaptive wrappers, query
    * stages and subqueries, each node once. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case _ if seen.add(p) =>
        out += p; p.children.foreach(go); p.subqueries.foreach(go)
      case _ =>
    }
    go(plan)
    out.toSeq
  }

  def of(plan: SparkPlan): ScanFacts = {
    val scans = nodes(plan).filter(_.metrics.contains("eventsParsed"))
    val descs = scans.collect { case b: BatchScanExec => b.scan.description() }
    ScanFacts(descs, Counters.map(c => c -> scans.map(_.metrics.get(c).map(_.value).getOrElse(0L)).sum).toMap)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** Process CPU time less the JIT compiler threads' (read from /proc;
    * the JVM runs with a fixed set of compiler threads): what the program
    * spent on its work, GC included. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime - jitCpuNs()

  private lazy val jitTasks: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      try slurp(new java.io.File(t, "comm")).contains("CompilerThre")
      catch { case _: java.io.IOException => false }
    }

  /** utime + stime of the compiler threads, in 10 ms clock ticks. */
  private def jitCpuNs(): Long = jitTasks.map { t =>
    try {
      val st = slurp(new java.io.File(t, "stat"))
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) * 10000000L
    } catch { case _: Exception => 0L }
  }.sum

  private def slurp(f: java.io.File): String = new String(java.nio.file.Files.readAllBytes(f.toPath))

  /** Heap still live after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    // Spark's ContextCleaner frees broadcast and shuffle state only after a
    // GC has cleared its weak references, so collect again after it ran
    // and keep the smallest reading
    (0 until 3).map { _ =>
      System.gc(); Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }.min
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: collection.Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
  final case class Raw(json: String)
}

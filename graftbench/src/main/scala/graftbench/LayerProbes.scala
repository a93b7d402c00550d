package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.SignatureExpressions.{minhashes, shingle_hashes}
import graft.lwes.{JournalReader, JournalWriter, LwesEvent}
import graft.operators.TextAnalysis

/** Single-threaded calls into public functions over fixed samples, for
  * the per-layer numbers no workload isolates: the row decoder, the
  * encoder, the lwes sink on its own, and the text signature functions.
  * Each is the median of several repetitions. */
object LayerProbes {
  private val Reps = 5

  private def medianNs(reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble })

  def run(spark: SparkSession, dir: File, seed: Long, listener: OpListener): Map[String, Double] = {
    val sample = Gen.web(new File(dir, "probe-web"), seed, 1, 40000, "probe")
    val raw = {
      val in = new java.util.zip.GZIPInputStream(new java.io.FileInputStream(sample.files.head))
      try in.readAllBytes() finally in.close()
    }
    def decodeAll(): Seq[LwesEvent] = new JournalReader(new ByteArrayInputStream(raw)).iterator.toSeq
    val events = decodeAll()
    val decodeNs = medianNs(Reps) {
      val r = new JournalReader(new ByteArrayInputStream(raw)); while (r.next().isDefined) {}
    } / events.size
    val encodeNs = medianNs(Reps) {
      val w = new JournalWriter(new ByteArrayOutputStream(raw.length)); events.foreach(w.write); w.close()
    } / events.size

    // the lwes sink alone: a cached frame of clicks written three times
    val clicks = spark.read.format("lwes")
      .schema("ReceiptTime long, req long, url string, user long, status int, bytes long")
      .option("eventName", "Web::Click").load(sample.files.head.getParent).cache()
    val rows = clicks.count()
    val outs = (0 until 3).map { rep =>
      val out = new File(dir, s"probe-sink-$rep")
      spark.sparkContext.setLocalProperty(OpListener.OpKey, (-100 - rep).toString)
      clicks.write.format("lwes").option("eventName", "Web::Click").mode("append").save(out.getPath)
      spark.sparkContext.setLocalProperty(OpListener.OpKey, null)
      out
    }
    clicks.unpersist()
    org.apache.spark.GraftbenchBridge.drain(spark.sparkContext)
    val writeCpu = Stats.median((0 until 3).map(rep => listener.ops.get(-100L - rep).map(_.cpuNs).getOrElse(0L).toDouble)) / rows
    val journals = Wire.journals(outs.head)
    val jBytes = journals.map(_.length).sum
    val metaPerFile = (Stats.dirBytes(outs.head) - jBytes).toDouble / math.max(1, journals.size)

    // text functions over a cached single-partition doc sample; each
    // function's cost is the difference to the query one step shorter
    val docs = Gen.docs(new File(dir, "probe-docs"), seed, 8000, 1)
    import spark.implicits._
    val df = docs.texts.toSeq.toDF("text").repartition(1).cache()
    val n = df.count().toDouble
    val text = col("text")
    val base = df.select(max(length(text)))
    val tok = df.select(max(size(TextAnalysis.tokens(text))))
    val mh = df.select(max(element_at(minhashes(shingle_hashes(TextAnalysis.tokens(text), 3), 32), 1)))
    Seq(base, tok, mh).foreach(_.collect())
    val t = Array.fill(3)(collection.mutable.ArrayBuffer.empty[Double])
    (0 until Reps).foreach { _ =>
      Seq(base, tok, mh).zipWithIndex.foreach { case (q, k) =>
        val t0 = System.nanoTime(); q.collect(); t(k) += (System.nanoTime() - t0).toDouble
      }
    }
    df.unpersist()
    val m = t.map(x => Stats.median(x.toSeq))
    Map(
      "lwes.row_decode_ns_per_event" -> decodeNs,
      "lwes.encode_ns_per_event" -> encodeNs,
      "lwes_sink.write_cpu_ns_per_event" -> writeCpu,
      "lwes_sink.metadata_bytes_per_file" -> metaPerFile,
      "functions.tokens_ns_per_doc" -> math.max(0.0, (m(1) - m(0)) / n),
      "functions.minhash_ns_per_doc" -> math.max(0.0, (m(2) - m(1)) / n))
  }
}

package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** The document-curation pipeline, run once per traced run on a fixed
  * generated corpus with every step materialised: the lwes source,
  * quality scoring, MinHash near-duplicate pairs, connected components,
  * keep-best-per-cluster and the lwes write. It fills the `operators.*`
  * per-layer metrics and checks the kept-document set. (As a timed
  * workload it was dropped: a pass costs about 4.6 s on 4 cores whatever
  * the corpus size, so a run would hold two passes.) */
object Curation {
  final case class Result(ok: Boolean, stepMs: Map[String, Double], candidatesPerDoc: Double,
      candidatePrecision: Double)

  private def read(spark: SparkSession, dir: File): DataFrame =
    spark.read.format("lwes").schema("doc_id long, text string, source string")
      .option("eventName", "Doc::Page").load(dir.getPath)

  def run(spark: SparkSession, dir: File, seed: Long, docsN: Int, tracer: Tracer): Result = {
    val docs = Gen.docs(new File(dir, "curate-docs"), seed, docsN, 4)
    val out = new File(dir, "curate-out")
    val steps = collection.mutable.LinkedHashMap.empty[String, Double]
    val op = -200L
    tracer.span(op, -1, "curate.pass") { passSpan =>
      def step(name: String, d: DataFrame): DataFrame = tracer.span(op, passSpan, name) { _ =>
        val t0 = System.nanoTime(); d.cache().count(); steps(name) = (System.nanoTime() - t0) / 1e6; d
      }
      val src = step("lwes_source.read", read(spark, docs.files.head.getParentFile))
      val scored = step("operators.quality", TextAnalysis.qualityScore(src, "text"))
      val pairs = step("operators.minhash_pairs", Dedup.minhashPairs(scored.select("doc_id", "text"), "text", "doc_id"))
      val clusters = step("operators.cc", Dedup.connectedComponentsStar(pairs).withColumnRenamed("id", "doc_id"))
      val kept = step("operators.keep_best", Dedup.keepBestPerCluster(scored, clusters, "doc_id", col("quality_score")))
      tracer.span(op, passSpan, "lwes_sink.write") { _ =>
        val t0 = System.nanoTime()
        kept.select("doc_id", "text", "source", "quality_score")
          .write.format("lwes").option("eventName", "Doc::Kept").mode("append").save(out.getPath)
        steps("lwes_sink.write") = (System.nanoTime() - t0) / 1e6
      }
    }
    spark.catalog.clearCache()
    val ids = Wire.journals(out).flatMap(f => Wire.read(f).map(_.attrs("doc_id").asInstanceOf[Long]))
    val ok = ids.size == docs.kept.size && ids.toSet == docs.kept
    val cand = graft.GraftbenchDedup.candidates(read(spark, docs.files.head.getParentFile), "text", "doc_id").count()
    Result(ok, steps.toMap, cand.toDouble / docs.ids.length, docs.plantedPairs.toDouble / math.max(1L, cand))
  }
}

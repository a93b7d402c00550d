package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** graft's own LSH candidate generation, as `Dedup.minhashPairs` runs it
  * with its default arguments, so the benchmark counts the candidate pairs
  * the program produces rather than a copy of its banding. */
object GraftbenchDedup {
  // minhashPairs(df, textCol, idCol, k, bands, w, threshold, maxBucket):
  // the compiler's default-argument getters are not callable from source,
  // so they are read through reflection
  private def default(n: Int): Int =
    Dedup.getClass.getMethod(s"minhashPairs$$default$$$n").invoke(Dedup).asInstanceOf[Int]
  private def k = default(4)
  private def bands = default(5)
  private def w = default(6)
  private def maxBucket = default(8)

  /** Unverified candidate pairs (id_a < id_b) of `df`'s documents. */
  def candidates(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.minhashCandidates(Dedup.minhashSignatures(df, textCol, idCol, k, w), idCol, k, bands, maxBucket)
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental SRP-LSH maintenance for embeddings — the vector-side twin of
  * [[DedupIndex]]: batch [[Similarity.srpLsh]] recomputes the world, but a
  * growing corpus APPENDS vectors. The index persists one (vec_id, band,
  * sig) row per vector per band; an append batch signatures ONLY the new
  * vectors and joins them against the buckets they touch
  * ([[IndexLog.bandedPairs]], the kernel shared with [[DedupIndex]] and
  * [[GraphIndex]]), so per-append cost is O(new batch + touched buckets),
  * never O(corpus). Batch ≡ incremental (IncrementalAnnSpec):
  * candidates(full) == candidates(old) ∪ appendVecs(new) as long as no
  * bucket crosses the cap between builds.
  */
object VecIndex {

  def build(emb: DataFrame, path: String, dim: Int = 64, nPlanes: Int = 32,
            nBands: Int = 4): Unit =
    IndexLog.replace(emb.sparkSession, path)(
      _("sigs", Similarity.srpSignatures(emb, dim, nPlanes, nBands)))

  def read(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "sigs").select(col("vec_id"), col("band"), col("sig"))

  /** Candidate pairs with at least one NEW endpoint; appends the new
    * vectors' signatures to the index.
    */
  def appendVecs(spark: SparkSession, path: String, newVecs: DataFrame,
                 dim: Int = 64, nPlanes: Int = 32, nBands: Int = 4,
                 minBands: Int = 1, maxBucket: Int = 1024): DataFrame =
    IndexLog.append(spark, path) { put =>
      val newSigs = put("sigs", Similarity.srpSignatures(newVecs, dim, nPlanes, nBands))
      IndexLog.bandedPairs(read(spark, path), newSigs, "vec", maxBucket)
    }.where(col("n_shared_bands") >= minBands)
}

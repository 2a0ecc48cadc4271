package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental source-level MinHash maintenance — the fourth leg of the
  * index trilogy (LSH bands in DedupIndex, SRP bands in VecIndex, exact
  * hashes in DedupIndex.exact): a persisted per-source signature table
  * (source, salt, m) that a NEW document batch folds into via component-wise
  * min-merge, never rescanning the corpus.
  *
  * Why this is exact: a source's k-component signature is min over its
  * shingles' salted hashes, and min is commutative, associative, and
  * idempotent — so sig(corpus ∪ batch) = min(sig(corpus), sig(batch))
  * component-wise, whatever the batch slicing (q278 audits the estimator
  * quality itself against exact Jaccard; IncrementalSourceMinhashSpec
  * asserts batch ≡ build+append parity here).
  *
  * Scale posture:
  *   - an append stores ONLY the new batch's signature rows (|sources| × k
  *     per batch, tiny) in the [[IndexLog]]; a 100 TB corpus's index grows
  *     by kilobytes per append;
  *   - [[read]] min-merges at scan time (one groupBy over |sources| × k ×
  *     n_appends rows); [[compact]] folds the batches back to one row per
  *     (source, salt) when the append count grows.
  */
object SourceMinhashIndex {

  /** Build (or rebuild) the index from a full corpus. */
  def build(docs: DataFrame, path: String, k: Int = 12): Unit =
    IndexLog.replace(docs.sparkSession, path)(_("sigs", Dedup.sourceSignatures(docs, k)))

  /** Fold a new document batch into the index: append its signature rows.
    * Min-merge happens at read time, so this is write-only — O(batch).
    */
  def appendDocs(docs: DataFrame, path: String, k: Int = 12): Unit =
    IndexLog.append(docs.sparkSession, path)(_("sigs", Dedup.sourceSignatures(docs, k)))

  /** The merged signature table: one (source, salt, m) row per component,
    * the component-wise min over every build/append batch.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "sigs")
      .groupBy(col("source"), col("salt"))
      .agg(min(col("m")).as("m"))

  /** Rewrite the index to its merged form — one row per (source, salt). */
  def compact(spark: SparkSession, path: String): Unit =
    IndexLog.replace(spark, path)(_("sigs", read(spark, path)))

  /** Pairwise source similarity estimates from the index alone: matching
    * components / k (q278's est_j, without the exact-side audit). The join
    * is keyed on salt and bounded by |sources|² × k — corpus-size-free.
    */
  def similarities(spark: SparkSession, path: String, k: Int = 12): DataFrame = {
    val sigs = read(spark, path)
    sigs.toDF("src_a", "salt", "ma")
      .join(sigs.toDF("src_b", "salt", "mb"), "salt")
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("n_match"))
      .withColumn("est_j",
        round(col("n_match").cast("double") / lit(k.toDouble) * lit(10000))
          / lit(10000.0))
  }
}

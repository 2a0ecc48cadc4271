package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distinct-count maintenance — the fifth leg of the index
  * family (LSH bands, SRP bands, exact hashes, source MinHash): a persisted
  * per-source HLL sketch table that a NEW document batch folds into via
  * sketch UNION, never rescanning the corpus. Backed by Spark 4's native
  * DataSketches HLL expressions (`hll_sketch_agg` / `hll_union_agg` /
  * `hll_sketch_estimate` — codegen'd aggregates, binary sketch payloads).
  *
  * Why this is exact-as-an-index: an HLL union is commutative, associative,
  * and idempotent on the REGISTER state, so estimate(sketch(corpus ∪
  * batch)) ≡ estimate(union(sketch(corpus), sketch(batch))) — the ESTIMATE
  * carries the usual HLL error vs true distinct counts (q38/q98 audit
  * that), but build+append parity with a full rebuild is BIT-exact, which
  * is what SketchIndexSpec asserts.
  *
  * Scale posture: an append stores only the batch's |sources| sketch rows
  * (~1.5 KB each at lgK=12) in the [[IndexLog]]; [[read]] union-merges
  * |sources| × n_appends sketch rows at scan time; [[compact]] folds back
  * to one row per source.
  */
object SketchIndex {

  private val lgK = 12

  private def sketchAgg(c: Column): Column =
    call_function("hll_sketch_agg", c, lit(lgK))

  /** Per-source token-distinct sketches for one batch of documents. */
  private[graft] def sourceSketches(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(sketchAgg(col("tok")).as("sk"))

  /** Build (or rebuild) the index from a full corpus. */
  def build(docs: DataFrame, path: String): Unit =
    IndexLog.replace(docs.sparkSession, path)(_("sketches", sourceSketches(docs)))

  /** Fold a new document batch in: append its sketch rows — O(batch). */
  def appendDocs(docs: DataFrame, path: String): Unit =
    IndexLog.append(docs.sparkSession, path)(_("sketches", sourceSketches(docs)))

  /** The merged sketch table: one (source, sketch) row, the union over
    * every build/append batch.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "sketches")
      .groupBy(col("source"))
      .agg(call_function("hll_union_agg", col("sk")).as("sk"))

  /** Rewrite the index to its merged one-row-per-source form. */
  def compact(spark: SparkSession, path: String): Unit =
    IndexLog.replace(spark, path)(_("sketches", read(spark, path)))

  /** Distinct-token estimates per source from the index alone. */
  def estimates(spark: SparkSession, path: String): DataFrame =
    read(spark, path)
      .select(col("source"),
        call_function("hll_sketch_estimate", col("sk"))
          .as("distinct_tokens_est"))
}

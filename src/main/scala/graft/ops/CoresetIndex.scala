package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental coreset maintenance — the diversity-sampling member of the
  * persisted-index family (LSH: [[VecIndex]], exact dedup: [[DedupIndex]],
  * IVF: [[IvfIndex]]). Batch [[Similarity.kcenterCoreset]] (q392) selects a
  * diverse center set in one plan, but a growing corpus APPENDS vectors:
  * re-running the Gonzalez traversal per ingest batch re-scans everything,
  * and a coreset chosen yesterday silently stops covering a corpus that
  * drifted. The production shape persisted here:
  *
  *   - `centers` — the frozen centers (c, i, cd), long format, O(t·dim)
  *     rows, selected ONCE by the q392 traversal;
  *   - `census`  — the build-time selection census (per-pick radius +
  *     coverage), whose FINAL cov_max is the build radius — the coverage
  *     contract the coreset promised;
  *   - `cover`   — per-vector (vec_id, nearest center, d²), append-only.
  *
  * [[append]] covers ONLY the new batch against the broadcast centers
  * (O(new × t), the same exact-decimal d² as the trainer — see
  * [[IvfIndex.assignTo]], which this reuses verbatim: a coreset IS a
  * codebook whose training rule is farthest-point instead of Lloyd), so
  * parity is exact by construction: cover(build(old) then append(new)) ==
  * assignTo(centers, old ∪ new) row for row (IncrementalCoresetSpec).
  * [[coverageCensus]] is the drift audit: per center member count, max /
  * mean d², and how many vectors sit OUTSIDE the build radius — an
  * uncovered count above zero says the corpus outgrew the coreset
  * (re-select before the "diverse subset" stops being one); which center
  * the uncovered mass lands on says WHERE it drifted.
  *
  * Scale: centers are always broadcast-size; append work is linear in the
  * batch; the census is one aggregate over the cover table, run on an
  * audit cadence, not per ingest.
  */
object CoresetIndex {

  /** Select the coreset on the initial corpus, persist centers + census +
    * full cover.
    */
  def build(emb: DataFrame, path: String, t: Int = 6): Unit =
    IndexLog.replace(emb.sparkSession, path) { put =>
      val ids = put("census", Similarity.kcenterCoreset(emb, t)).select(col("center_id"))
      val cent = put("centers", Similarity.asDoubles(emb)
        .join(broadcast(ids), col("vec_id") === col("center_id"))
        .select(col("center_id").as("c"), posexplode(col("v")).as(Seq("i", "cd"))))
      put("cover", IvfIndex.assignTo(cent, emb))
    }

  def centers(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "centers").select(col("c"), col("i"), col("cd"))

  def cover(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "cover").select(col("vec_id"), col("c"), col("d2"))

  /** The build-time coverage contract: the final pick's cov_max. */
  def buildRadius(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "census")
      .orderBy(col("k").desc).limit(1)
      .select(col("cov_max").as("radius"))

  /** Cover a new batch against the FROZEN centers and append. Returns the
    * new cover rows. O(new × t); never reads the existing cover.
    */
  def append(spark: SparkSession, path: String, newVecs: DataFrame): DataFrame =
    IndexLog.append(spark, path)(
      _("cover", IvfIndex.assignTo(centers(spark, path), newVecs)))

  /** Coverage-decay audit over the current cover table: per center the
    * member count, max and (snapped) mean d², and the count of members
    * outside the build radius. Uncovered mass above zero = the corpus
    * outgrew the coreset; its center column says where.
    */
  def coverageCensus(spark: SparkSession, path: String): DataFrame = {
    cover(spark, path)
      .crossJoin(broadcast(buildRadius(spark, path)))
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        max(col("d2")).as("max_d2"),
        (sum((round(col("d2") * lit(1e10)) / lit(1e10)).cast("decimal(38,10)"))
          .cast("double") / count(lit(1))).as("mean_d2"),
        sum(when(col("d2") > col("radius"), 1L).otherwise(0L))
          .as("n_uncovered"))
      .select(col("c").as("center"), col("n_vecs"),
        (round(col("max_d2") * lit(1e6)) / lit(1e6)).as("max_d2"),
        (round(col("mean_d2") * lit(1e6)) / lit(1e6)).as("mean_d2"),
        col("n_uncovered"))
  }
}

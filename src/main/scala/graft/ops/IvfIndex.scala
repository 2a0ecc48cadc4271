package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental IVF maintenance — the missing leg of the persisted-index
  * family (LSH: [[VecIndex]]/[[DedupIndex]], exact: [[DedupIndex]],
  * source-MinHash, HLL: [[Sketches]]). Batch [[Similarity.ivfAnn]] trains
  * and probes in one plan, but a growing corpus APPENDS vectors: retraining
  * centroids per ingest batch is wasted work AND silently invalidates every
  * already-assigned list. The production shape is the one persisted here:
  *
  *   - `centroids` — the frozen codebook (c, i, cd), long format, O(k·dim)
  *     rows, trained ONCE with the same fixed-round Lloyd as q259
  *     ([[Similarity.lloydState]]).
  *   - `assign`    — the inverted lists (vec_id, c, d2), append-only.
  *
  * [[append]] assigns ONLY the new batch against the broadcast codebook —
  * O(new × k) work, no shuffle of existing lists — so the parity contract
  * is exact by construction:
  * assignments(build(old) then append(new)) == assignTo(codebook, old ∪ new)
  * row for row (IncrementalIvfSpec). [[reassignCensus]] is the drift audit
  * that tells you WHEN the frozen codebook has gone stale: one Lloyd
  * refresh step over the current lists, then per-cluster counts of vectors
  * that would migrate — a move-rate near zero says the codebook still fits
  * the corpus; a hot cluster with a high move rate says re-cluster (and
  * re-build) before recall decays.
  *
  * Scale: the codebook is always broadcast-size; append work is linear in
  * the batch; the census is the only corpus-sized pass and it is a single
  * join + two aggregates, run on an audit cadence, not per ingest.
  */
object IvfIndex {

  /** Assign vectors to the nearest codebook centroid — the same
    * exact-decimal d² = ‖v‖² − 2v·c + ‖c‖² and (d², c) tie-break as the
    * Lloyd trainer, so build-time and append-time assignments are
    * bit-identical for identical inputs. The centroid side is O(k·dim) and
    * broadcast; the data side shuffles once on vec_id for the argmin.
    */
  def assignTo(cent: DataFrame, emb: DataFrame): DataFrame = {
    // array-native twin of the trainer's assignment (Similarity.lloydState):
    // map-only decimal_dot fold over the broadcast codebook, argmin via
    // struct sort with the (d², c) tie-break — the same expression tree, so
    // build-time and append-time assignments stay bit-identical
    val x = Similarity.asDoubles(emb).select(col("vec_id"), col("v"))
      .withColumn("vv", graft.functions.DecimalDot(col("v"), col("v")))
    val cbook = cent.groupBy(col("c"))
      .agg(expr("transform(array_sort(collect_list(struct(i, cd))), p -> p.cd)")
        .as("cds"))
      .withColumn("cc", graft.functions.DecimalDot(col("cds"), col("cds")))
      .groupBy()
      .agg(expr("array_sort(collect_list(struct(c, cds, cc)))").as("cws"))
    x.crossJoin(broadcast(cbook))
      .withColumn("best", expr(
        "array_sort(transform(cws, w -> struct((vv - 2.0D * decimal_dot(v, w.cds)) + w.cc AS d2, w.c AS c)))[0]"))
      .select(col("vec_id"), col("best.c").as("c"), col("best.d2").as("d2"))
  }

  /** Train the codebook on the initial corpus and persist codebook + lists. */
  def build(emb: DataFrame, path: String, k: Int = 4, iters: Int = 2): Unit = {
    val (cent, asg) = Similarity.lloydState(
      Similarity.asDoubles(emb).select(col("vec_id"), col("v")), k, iters)
    IndexLog.replace(emb.sparkSession, path) { put =>
      put("centroids", cent)
      put("assign", asg.select(col("vec_id"), col("c"), col("d2")))
    }
  }

  def centroids(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "centroids").select(col("c"), col("i"), col("cd"))

  def assignments(spark: SparkSession, path: String): DataFrame =
    IndexLog.read(spark, path, "assign").select(col("vec_id"), col("c"), col("d2"))

  /** Assign a new batch against the FROZEN codebook and append its list
    * entries. Returns the new assignments. O(new × k); never reads the
    * existing lists.
    */
  def append(spark: SparkSession, path: String, newVecs: DataFrame): DataFrame =
    IndexLog.append(spark, path)(_("assign", assignTo(centroids(spark, path), newVecs)))

  /** Codebook-staleness audit: refresh each centroid one Lloyd step from
    * the CURRENT lists (1e-12-snapped means, the trainer's discipline),
    * re-assign every vector to the refreshed codebook, and report per
    * cluster how many members would migrate. `emb` is the full corpus the
    * lists were built over (the index stores assignments, not payloads).
    */
  def reassignCensus(spark: SparkSession, path: String, emb: DataFrame): DataFrame = {
    val asg = assignments(spark, path)
    val x = Similarity.asDoubles(emb).select(col("vec_id"), col("v"))
    val dims = x.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "xd")))
    val refreshed = asg.select(col("vec_id"), col("c")).join(dims, "vec_id")
      .groupBy(col("c"), col("i"))
      .agg((round((sum(col("xd").cast("decimal(28,12)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("cd"))
    val renewed = assignTo(refreshed, emb)
      .select(col("vec_id"), col("c").as("new_c"))
    asg.select(col("vec_id"), col("c")).join(renewed, "vec_id")
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("new_c") =!= col("c"), 1L).otherwise(0L)).as("n_moved"))
      .select(col("c").as("cluster"), col("n_vecs"), col("n_moved"),
        (round(col("n_moved").cast("double") / col("n_vecs") * 1000000)
          / 1000000.0).as("move_rate"))
  }
}

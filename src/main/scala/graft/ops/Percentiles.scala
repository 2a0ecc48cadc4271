package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed quantiles via two-pass count-and-locate.
  *
  * Catalyst's `percentile` aggregate buffers EVERY value of a group inside a
  * single aggregation buffer — with few groups (q34 has ~5 event types) a
  * 100× scale-up puts billions of doubles in one task's memory. This
  * formulation keeps exactness while bounding what any single task holds:
  *
  *  1. Collapse to distinct (group, value) counts — a shuffle keyed by
  *     (group, value), so hot groups spread across ALL reducers and identical
  *     values compress to one row with map-side combine.
  *  2. Histogram the counts into `nBuckets` value ranges per group; the
  *     per-group cumulative bucket counts (≤ nBuckets rows per group — tiny)
  *     locate which bucket contains each target rank r = floor/ceil of
  *     p·(n−1), and the rank offset within it.
  *  3. Join that tiny locator back to the distinct-value counts: only the
  *     located buckets' slices (expected n/nBuckets of the data) reach the
  *     in-bucket cumulative window that picks the exact rank value.
  *
  * Interpolation matches the R-7 definition both Spark `percentile` and
  * DuckDB `quantile_cont` implement: with pos = p·(n−1),
  * v_lo·(⌈pos⌉−pos) + v_hi·(pos−⌊pos⌋), collapsing to the exact value when
  * pos is integral — so results hash-match the DuckDB oracle bit-for-bit.
  */
object Percentiles {

  /** Exact quantiles for each (name, p) over `valueCol` per `groupCol`.
    * Returns long form: (groupCol, qname, q_value) — callers pivot the few
    * quantile names into columns with a conditional aggregate.
    */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     qs: Seq[(String, Double)], nBuckets: Int = 4096): DataFrame =
    // 1. distinct-value compression: (group, value) -> multiplicity.
    // NULLs are excluded up front: Catalyst `percentile` and DuckDB
    // `quantile_cont` both ignore NULL values, and counting them into n
    // would shift every rank.
    // The counts table is materialized ONCE, on disk (for continuous values
    // it is near corpus-sized; see Materialize): the engine reads it from
    // three branches (stats, bucketing, the located slice), which otherwise
    // re-run the whole upstream scan+aggregate per branch.
    exactQuantilesFromCounts(
      Materialize.state(df.where(col(valueCol).isNotNull)
        .groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("cnt")),
        onDisk = true),
      groupCol, valueCol, "cnt", qs, nBuckets)

  /** [[exactQuantiles]] when the caller already holds the distinct
    * (group, value) multiplicity table — the streaming-monitor entry
    * point: a complete-mode counts aggregate feeds this stage directly,
    * and batch ≡ stream holds because the quantile is a pure function of
    * the counts (QuantileDriftStreamSpec). Rows with NULL values or
    * non-positive counts are ignored (they are phase-absent values in a
    * two-phase counts table, not observations).
    */
  def exactQuantilesFromCounts(cnts0: DataFrame, groupCol: String,
                               valueCol: String, cntCol: String,
                               qs: Seq[(String, Double)],
                               nBuckets: Int = 4096): DataFrame = {
    val g = col(groupCol)
    val v = col(valueCol)
    val cnts = cnts0.where(v.isNotNull && col(cntCol) > 0)
      .select(g, v, col(cntCol).cast("bigint").as("cnt"))
    // per-group totals + value envelope (one row per group); lazy — with
    // the counts table checkpointed upstream, re-deriving stats per branch
    // is one cheap aggregate over pinned blocks (an eager checkpoint here
    // was measured as pure overhead for the counts-fed callers)
    val stats = cnts.groupBy(g).agg(
      sum(col("cnt")).as("n"), min(v).as("mn"), max(v).as("mx"))

    // 2. bucket id, monotone in value (floor of the scaled offset; clamped so
    // v = mx lands in the last bucket)
    val bucketed = cnts.join(broadcast(stats), groupCol)
      .withColumn("bkt",
        when(col("mx") === col("mn"), lit(0)).otherwise(
          least(floor((v - col("mn")) / (col("mx") - col("mn")) * nBuckets),
            lit(nBuckets - 1))).cast("int"))
    val bcum = bucketed
      .groupBy(g, col("bkt")).agg(sum(col("cnt")).as("bcnt"))
      .withColumn("cum", sum(col("bcnt")).over(
        Window.partitionBy(g).orderBy(col("bkt"))))

    // target ranks: for pos = p*(n-1), the 1-based ranks floor(pos)+1 and
    // ceil(pos)+1 bracket the quantile
    val targets = stats.select(g, col("n"),
      explode(array(qs.map { case (nm, q) =>
        struct(lit(nm).as("qname"), lit(q).as("q"))
      }: _*)).as("t"))
      .select(g, col("n"), col("t.qname").as("qname"), col("t.q").as("q"))
      .withColumn("pos", col("q") * (col("n") - 1).cast("double"))
      .select(g, col("qname"), col("q"), col("n"), col("pos"),
        explode(array(
          struct(lit("lo").as("bound"), (floor(col("pos")) + 1).cast("bigint").as("r")),
          struct(lit("hi").as("bound"), (ceil(col("pos")) + 1).cast("bigint").as("r"))
        )).as("b"))
      .select(g, col("qname"), col("q"), col("n"), col("pos"),
        col("b.bound").as("bound"), col("b.r").as("r"))

    // locate each rank's bucket and its offset within that bucket
    val located = targets.join(bcum, Seq(groupCol))
      .where(col("cum") >= col("r") && col("cum") - col("bcnt") < col("r"))
      .select(g, col("qname"), col("q"), col("n"), col("pos"), col("bound"),
        col("bkt"), (col("r") - (col("cum") - col("bcnt"))).as("off"))

    // 3. refine inside the located buckets only
    val slice = bucketed.select(g, v, col("cnt"), col("bkt"))
      .join(broadcast(located), Seq(groupCol, "bkt"))
    val wIn = Window.partitionBy(g, col("qname"), col("bound")).orderBy(v)
    val picked = slice
      .withColumn("icum", sum(col("cnt")).over(wIn))
      .where(col("icum") >= col("off") && col("icum") - col("cnt") < col("off"))
      .select(g, col("qname"), col("q"), col("n"), col("pos"),
        col("bound"), v.as("pv"))

    // assemble: R-7 interpolation between the lo/hi rank values
    picked.groupBy(g, col("qname"), col("pos"))
      .agg(
        min(when(col("bound") === "lo", col("pv"))).as("vlo"),
        min(when(col("bound") === "hi", col("pv"))).as("vhi"))
      .select(g, col("qname"),
        when(ceil(col("pos")) === floor(col("pos")), col("vlo")).otherwise(
          col("vlo") * (ceil(col("pos")) - col("pos")) +
            col("vhi") * (col("pos") - floor(col("pos")))).as("qv"))
  }
}

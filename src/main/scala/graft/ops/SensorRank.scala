package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TimeSeries.epochS

/** Signal ranking by distribution shift — the engine's flagship analytic.
  *
  * Reference evaluation.py:228-313 (`compute_histograms`): for every signal,
  * build two histograms over shared equal-width bins — one from the normal
  * period, one from the anomalous period — normalize them to densities, and
  * rank signals by the Wasserstein distance between the two density vectors
  * (scipy `wasserstein_distance(u, v)` on two equal-length vectors reduces to
  * the mean absolute difference of their sorted values).
  *
  * Distributed formulation (no per-signal driver loop, contrast with the
  * reference's `for tag in df_list` at evaluation.py:267):
  *   1. one pass computes per-signal value envelopes (tiny, broadcast),
  *   2. one shuffle aggregates (signal, phase, bin) counts — map-side
  *      partial combine makes this ~|signals|×2×20 rows regardless of input
  *      size, so the same plan runs at 100 TB,
  *   3. the distance is a ~rows-of-bins-sized join + aggregate.
  *
  * The anomalous period here is the last 25% of the time span (the synthetic
  * stand-in for the reference's predicted_ranges index).
  */
object SensorRank {
  val NumBins = 20

  /** q72: feature-importance evolution — the reference's
    * `_build_feature_importance_dataframe` (plot.py:619-660) expands each
    * prediction's per-signal diagnostics into an importance time series, and
    * `plot_signal_importance_evolution` (plot.py:582-595) keeps the top-N
    * signals by TOTAL importance over the evaluation window.
    *
    * Distributed formulation over the events diag data: the evaluation
    * window is the last half of the time span; per (signal, bucket) the
    * importance share is the signal's value mass over the bucket's total
    * (the diagnostics-normalization analog — reference diagnostics sum to 1
    * per timestamp), and signals rank by summed mass over the whole window.
    * Two shuffles total — the (signal, bucket) aggregate and its two tiny
    * rollups (≤ |signals|·|buckets| rows) — so the same plan holds at
    * 100 TB; the top-N dimension broadcasts back onto the evolution rows.
    */
  def importanceEvolution(spark: SparkSession, sfDir: String,
                          topN: Int = 3, bucketSec: Long = 86400L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val bounds = ev
      .agg(min(col("e")).as("mn"), max(col("e")).as("mx"))
      .select(floor(col("mn") + (col("mx") - col("mn")) * 0.5).cast("long").as("w_start"))
    val contrib = ev
      .crossJoin(broadcast(bounds))
      .where(col("e") >= col("w_start"))
      .groupBy(col("event_type"),
        (floor(col("e") / bucketSec) * bucketSec).cast("long").as("bucket"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("s"))
    val bucketTotals = contrib.groupBy(col("bucket")).agg(sum(col("s")).as("tot"))
    // |signals| rows — the single-partition window is over a dimension table
    val top = contrib
      .groupBy(col("event_type")).agg(sum(col("s")).as("sig_total"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("sig_total").desc, col("event_type"))))
      .where(col("rnk") <= topN)
    contrib
      .join(bucketTotals, "bucket")
      .join(broadcast(top), "event_type")
      .select(
        col("event_type"), col("bucket"),
        (round(col("s").cast("double") / col("tot").cast("double") * 10000) / 10000)
          .as("imp_share"),
        (round(col("sig_total").cast("double") * 10000) / 10000).as("sig_total"),
        col("rnk"))
  }

  def sensorRank(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))

    // ONE scan computes the whole per-signal dimension: value envelope, bin
    // width, AND the global 75% time split (a second-level window over
    // ~|signals| rows — min of mins == global min — never a second pass over
    // the fact table). The dimension is pinned because TWO
    // consumers reference it (the binning join and the dense grid): without
    // materialization each reference re-expands the scan subtree into the
    // plan, and the fact table would be read once per reference.
    val wAll = Window.partitionBy() // ~|signals| rows — not a data window
    val stats = ev
      .groupBy(col("event_type"))
      .agg(
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        min(col("e")).as("emn"), max(col("e")).as("emx"))
      .withColumn("split_e",
        floor(min(col("emn")).over(wAll) +
          (max(col("emx")).over(wAll) - min(col("emn")).over(wAll)) * 0.75).cast("long"))
      .withColumn("width", (col("vmax") - col("vmin")) / NumBins)
      .select(col("event_type"), col("vmin"), col("width"), col("split_e"))
      .transform(Materialize.state(_))

    // Assign each point a phase and a bin, then count per (signal, phase, bin).
    val binned = ev
      .join(broadcast(stats), Seq("event_type"))
      .withColumn("phase", when(col("e") < col("split_e"), "u").otherwise("v"))
      // constant sensors have a zero-width envelope: every point lands in
      // bin 0 (a raw divide would be NULL under Spark's non-ANSI semantics
      // but inf in the DuckDB oracle — see Equipment.rankSensors)
      .withColumn(
        "bin",
        when(col("width") === 0, lit(0L)).otherwise(
          least(
            floor((col("value") - col("vmin")) / col("width")).cast("long"),
            lit(NumBins - 1L)
          ))
      )
    // per-(signal, phase) totals ride as a window column over the already-
    // aggregated counts (~signals×2×20 rows) — a separate totals aggregate
    // joined back would re-expand the counts subtree into the plan twice
    val counts = binned
      .groupBy(col("event_type"), col("phase"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .withColumn("total",
        sum(col("c")).over(Window.partitionBy(col("event_type"), col("phase"))))

    // Dense (signal × phase × bin) grid so empty bins contribute density 0.
    val grid = stats
      .select(col("event_type"), col("width"),
        explode(sequence(lit(0L), lit(NumBins - 1L))).as("bin"))
      .crossJoin(spark.range(1).select(explode(array(lit("u"), lit("v"))).as("phase")))
    // np.histogram(density=True) semantics: count / total / bin width — the
    // width term makes scores comparable ACROSS sensors with different value
    // envelopes (without it, small-range sensors are systematically
    // under-ranked relative to the reference's wasserstein_distance input)
    val densities = grid
      .join(counts, Seq("event_type", "phase", "bin"), "left_outer")
      .select(
        col("event_type"),
        col("phase"),
        col("bin"),
        coalesce(col("c").cast("double") / col("total") /
          when(col("width") === 0, lit(1.0)).otherwise(col("width")), lit(0.0)).as("d")
      )

    // Wasserstein between two equal-length vectors = mean |sorted u - sorted v|.
    // The u/v pairing is a conditional-aggregation pivot on (signal, pos) —
    // a u-filter/v-filter self-join would duplicate the entire densities
    // subtree (scan included) on both sides of the join.
    val sortW = Window.partitionBy(col("event_type"), col("phase")).orderBy(col("d"), col("bin"))
    val scores = densities
      .withColumn("pos", row_number().over(sortW))
      .groupBy(col("event_type"), col("pos"))
      .agg(
        min(when(col("phase") === "u", col("d"))).as("du"),
        min(when(col("phase") === "v", col("d"))).as("dv"))
      .groupBy(col("event_type"))
      .agg((round(sum(abs(col("du") - col("dv")).cast("decimal(28,20)")).cast("double")
        / count(lit(1)) * 1000000) / 1000000).as("score"))

    scores.withColumn(
      "rank",
      row_number().over(Window.orderBy(col("score").desc, col("event_type")))
    )
  }
}

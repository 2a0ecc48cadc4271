package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TimeSeries.{epochS, r4}

/** Distribution-drift monitoring via the Population Stability Index.
  *
  * The reference ranks signals by how far their anomalous-period histogram
  * drifted from the normal-period one (evaluation.py:228-313, Wasserstein
  * on shared-bin densities — our q05). PSI is the standard production
  * monitoring companion to that analytic: the same shared-bin histograms,
  * scored as sum over bins of (p_train − p_live) · ln(p_train / p_live),
  * with the conventional <0.1 / <0.25 stable/moderate/high bands. A model
  * monitor runs it continuously; a training-data pipeline runs it between
  * corpus snapshots to catch ingest drift.
  *
  * Scale shape (identical to q05's): one fact-table scan builds the
  * per-signal envelope dimension, one shuffle aggregates (signal, phase,
  * bin) counts with map-side combine — ~|signals|×2×|bins| rows out no
  * matter the input size — and the PSI itself is arithmetic over that tiny
  * aggregate. Laplace smoothing ((c+0.5)/(n+bins/2)) keeps every bin share
  * strictly positive, so ln never sees a zero and empty bins contribute a
  * finite, deterministic penalty.
  *
  * The counts→PSI stage is factored out ([[psiFromCounts]]) so a streaming
  * job can feed it live windowed counts against a static training
  * dimension — StreamingDriftSpec proves batch ≡ stream on the same rows.
  */
object Drift {
  val NumBins = 20

  /** Per-signal envelope + global 75% time split, in ONE scan of `ev`
    * (same single-pass dimension trick as SensorRank.sensorRank: the
    * global split is a window over the ~|signals|-row aggregate, never a
    * second fact-table pass).
    */
  def dimension(ev: DataFrame): DataFrame = {
    val wAll = Window.partitionBy() // ~|signals| rows — not a data window
    ev.groupBy(col("event_type"))
      .agg(
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        min(col("e")).as("emn"), max(col("e")).as("emx"))
      .withColumn("split_e",
        floor(min(col("emn")).over(wAll) +
          (max(col("emx")).over(wAll) - min(col("emn")).over(wAll)) * 0.75).cast("long"))
      .withColumn("width", (col("vmax") - col("vmin")) / NumBins)
      .select(col("event_type"), col("vmin"), col("width"), col("split_e"))
  }

  /** Stateless binning projection — usable unchanged under Structured
    * Streaming (the dimension broadcasts as a static side). Yields
    * (event_type, phase u|v, bin).
    */
  def binning(ev: DataFrame, dim: DataFrame): DataFrame =
    ev.join(broadcast(dim), Seq("event_type"))
      .withColumn("phase", when(col("e") < col("split_e"), "u").otherwise("v"))
      .withColumn("bin",
        // zero-width (constant) sensors: everything in bin 0 — see
        // SensorRank for the Spark-NULL vs DuckDB-inf divide rationale
        when(col("width") === 0, lit(0L)).otherwise(
          least(floor((col("value") - col("vmin")) / col("width")).cast("long"),
            lit(NumBins - 1L))))
      .select(col("event_type"), col("phase"), col("bin"))

  /** (event_type, phase, bin, c) counts → per-signal PSI with drift band.
    *
    * Dense (signal × bin × phase) grid so empty bins contribute their
    * smoothed share; conditional-aggregation pivot pairs u/v per bin (a
    * u-filter/v-filter self-join would duplicate the counts subtree);
    * per-term decimal cast before the sum makes the result independent of
    * partial-aggregation order.
    */
  def psiFromCounts(countsIn: DataFrame): DataFrame = {
    // THREE consumers below (grid types, totals, the bin join) — materialize
    // the ~|signals|×2×|bins|-row aggregate once, or each reference
    // re-expands the whole upstream subtree (fact scan included) into the
    // plan; the checkpoint also de-conflicts attribute ids when the input
    // is a re-read table (the streaming-monitor path).
    val counts = Materialize.state(countsIn)
    val totals = counts.groupBy(col("event_type"), col("phase"))
      .agg(sum(col("c")).as("total"))
    val types = counts.select(col("event_type")).distinct()
    val grid = types
      .select(col("event_type"), explode(sequence(lit(0L), lit(NumBins - 1L))).as("bin"))
      .crossJoin(
        counts.sparkSession.range(1)
          .select(explode(array(lit("u"), lit("v"))).as("phase")))
    val shares = grid
      .join(counts, Seq("event_type", "phase", "bin"), "left_outer")
      .join(totals, Seq("event_type", "phase"), "left_outer")
      .select(col("event_type"), col("phase"), col("bin"),
        ((coalesce(col("c"), lit(0L)).cast("double") + 0.5)
          / (coalesce(col("total"), lit(0L)).cast("double") + NumBins / 2.0)).as("p"))
    shares
      .groupBy(col("event_type"), col("bin"))
      .agg(
        min(when(col("phase") === "u", col("p"))).as("pu"),
        min(when(col("phase") === "v", col("p"))).as("pv"))
      .withColumn("term",
        ((col("pu") - col("pv")) * log(col("pu") / col("pv"))).cast("decimal(28,20)"))
      .groupBy(col("event_type"))
      .agg((round(sum(col("term")).cast("double") * 1000000) / 1000000).as("psi"))
      .withColumn("drift",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate")
          .otherwise("high"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("psi").desc, col("event_type"))))
  }

  /** q87: per-sensor train→eval distribution drift (PSI over shared bins,
    * train = first 75% of the time span, eval = the rest).
    */
  def driftPsi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val counts = binning(ev, dimension(ev))
      .groupBy(col("event_type"), col("phase"), col("bin"))
      .agg(count(lit(1)).as("c"))
    psiFromCounts(counts)
  }

  /** q128: two-sample Kolmogorov–Smirnov drift test per sensor — PSI's
    * (q87) bin-free sibling: the exact max CDF gap between the train
    * (first 75% of the global time span, q87's split) and eval value
    * distributions, against the α=0.05 large-sample threshold
    * 1.3581·√((n₁+n₂)/(n₁n₂)). PSI sees WHERE mass moved on a 20-bin
    * grid; KS needs no grid and catches shifts PSI's binning blurs.
    *
    * Scale shape: one shuffle to (sensor, value) phase counts — bounded
    * by distinct values per sensor, with map-side combine — then the CDFs
    * are cumulative sums over that aggregate inside one per-sensor
    * window; every ratio is integer/integer so the statistic is exact and
    * partition-order-free. Same cost class as the two-pass exact
    * percentiles (q34): a sort within each sensor's distinct values.
    */
  def ksDrift(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val split = ev.agg(
      floor(min(col("e")) + (max(col("e")) - min(col("e"))) * 0.75)
        .cast("long").as("split_e"))
    val cnts = ev.crossJoin(broadcast(split))
      .withColumn("tr", (col("e") < col("split_e")).cast("long"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("tr")).as("ca"), sum(lit(1L) - col("tr")).as("cb"))
    ksFromCounts(cnts)
  }

  /** The counts→KS stage alone, over (event_type, value, ca, cb) rows —
    * factored like [[psiFromCounts]] so a streaming monitor can feed it
    * live per-value phase counts against a frozen split (StreamingDriftSpec
    * proves batch ≡ stream on the same rows).
    */
  def ksFromCounts(cnts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val whole = Window.partitionBy(col("event_type"))
    cnts
      .withColumn("cuma", sum(col("ca")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumb", sum(col("cb")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("na", sum(col("ca")).over(whole))
      .withColumn("nb", sum(col("cb")).over(whole))
      // a series with an EMPTY phase has no two-sample test: a sensor
      // first seen after the split (or retired before it) is excluded
      // rather than crashing the job on 0-denominator CDFs — the
      // round-10 fuzz finding (FuzzParitySpec layout-invariance run)
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("d", abs(col("cuma").cast("double") / col("na")
        - col("cumb").cast("double") / col("nb")))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_train"), max(col("nb")).as("n_eval"),
        max(col("d")).as("ks_raw"))
      .withColumn("thr_raw", lit(1.3581) * sqrt(
        (col("n_train").cast("double") + col("n_eval"))
          / (col("n_train").cast("double") * col("n_eval"))))
      .select(col("event_type"), col("n_train"), col("n_eval"),
        (round(col("ks_raw") * 10000) / 10000).as("ks"),
        (round(col("thr_raw") * 10000) / 10000).as("threshold"),
        (col("ks_raw") > col("thr_raw")).as("drifted"))
  }

  def ksDrift(spark: SparkSession, sfDir: String): DataFrame =
    ksDrift(Tables.events(spark, sfDir))

  /** q302: two-sample Cramér–von Mises drift statistic per series, same
    * frozen 75% time split as q128 — the INTEGRATED-gap companion of KS's
    * max-gap: KS sees the single worst CDF separation, CvM accumulates
    * (F_train − F_eval)² over the whole pooled distribution, so a broad
    * small shift that never spikes (the classic slow-degradation mode KS
    * misses) still scores. Same distinct-value-counts execution shape as
    * ksFromCounts: cumulative windows per series, each squared gap
    * weighted by pooled multiplicity, 1e-12-snapped, exact decimal sum;
    * flag vs the 0.461 asymptotic 5% critical value on the rounded
    * statistic.
    */
  def cvmDrift(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val split = ev.agg(
      floor(min(col("e")) + (max(col("e")) - min(col("e"))) * 0.75)
        .cast("long").as("split_e"))
    val cnts = ev.crossJoin(broadcast(split))
      .withColumn("tr", (col("e") < col("split_e")).cast("long"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("tr")).as("ca"), sum(lit(1L) - col("tr")).as("cb"))
    cvmFromCounts(cnts)
  }

  /** The counts→CvM stage alone, over (event_type, value, ca, cb) rows —
    * factored like [[ksFromCounts]] so a streaming monitor can feed it live
    * per-value phase counts against a frozen split (CvmStreamSpec proves
    * batch ≡ stream on the same rows across micro-batch slicings).
    */
  def cvmFromCounts(cnts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val whole = Window.partitionBy(col("event_type"))
    cnts
      .withColumn("cuma", sum(col("ca")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cumb", sum(col("cb")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("na", sum(col("ca")).over(whole))
      .withColumn("nb", sum(col("cb")).over(whole))
      // empty-phase series excluded — same contract as ksFromCounts
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("gap2", (round(
        (col("cuma").cast("double") / col("na")
          - col("cumb").cast("double") / col("nb"))
          * (col("cuma").cast("double") / col("na")
            - col("cumb").cast("double") / col("nb"))
          * (col("ca") + col("cb")).cast("double") * lit(1e12)) / lit(1e12))
        .cast("decimal(38,12)"))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_train"), max(col("nb")).as("n_eval"),
        sum(col("gap2")).cast("double").as("sg"))
      .withColumn("cvm_r", round(
        col("n_train").cast("double") * col("n_eval").cast("double")
          / ((col("n_train") + col("n_eval")).cast("double")
            * (col("n_train") + col("n_eval")).cast("double"))
          * col("sg") * lit(1000000)) / lit(1000000.0))
      .select(col("event_type"), col("n_train"), col("n_eval"),
        col("cvm_r").as("cvm"),
        (col("cvm_r") > 0.461).as("drifted"))
  }

  def cvmDrift(spark: SparkSession, sfDir: String): DataFrame =
    cvmDrift(Tables.events(spark, sfDir))

  /** q314: two-sample ENERGY distance per series on the frozen 75% split —
    * the drift family's sixth axis and the only one sensitive to ANY
    * distributional difference (KS: worst CDF gap; CvM: integrated gap;
    * PSI/KL: binned mass; energy: D² = 2E|X−Y| − E|X−X'| − E|Y−Y'|,
    * metric-space native and zero iff the distributions are equal).
    * Naively O(n²) pairs; here each pairwise-|Δ| expectation reduces to a
    * cumulative-window pass over the distinct-value counts: Σᵢⱼ cᵃᵢcᵇⱼ|vᵢ−vⱼ|
    * = Σᵢ cᵃᵢ·[vᵢ·CB≤ᵢ − SB≤ᵢ + (SB − SB≤ᵢ) − vᵢ·(CB − CB≤ᵢ)] with CB/SB
    * the other sample's cumulative count/value-sum — same execution shape
    * as ksFromCounts. Per-row contributions snapped to 1e-12, decimal
    * sums, normalization in one final expression.
    */
  def energyDistance(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val split = ev.agg(
      floor(min(col("e")) + (max(col("e")) - min(col("e"))) * 0.75)
        .cast("long").as("split_e"))
    val cnts = ev.crossJoin(broadcast(split))
      .withColumn("tr", (col("e") < col("split_e")).cast("long"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("tr")).as("ca"), sum(lit(1L) - col("tr")).as("cb"))
    energyFromCounts(cnts)
  }

  /** The counts→energy-distance stage alone, over (event_type, value, ca,
    * cb) rows — factored like [[ksFromCounts]]/[[cvmFromCounts]] for the
    * streaming monitor (EnergyStreamSpec proves batch ≡ stream parity).
    */
  def energyFromCounts(cnts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(col("event_type"))
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    // cross-sum of |v_i - v_j| against counts `other` with value-sums:
    // per-row contribution of THIS row's own count `mine`
    def contrib(mine: String, cumC: String, cumS: String,
                totC: String, totS: String) =
      s12(col(mine).cast("double") * (
        col("value") * col(cumC).cast("double") - col(cumS)
          + (col(totS) - col(cumS))
          - col("value") * (col(totC) - col(cumC)).cast("double")))
    val base = cnts
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .withColumn("cumsa", sum(s12(col("ca") * col("value"))
        .cast("decimal(38,12)")).over(w).cast("double"))
      .withColumn("cumsb", sum(s12(col("cb") * col("value"))
        .cast("decimal(38,12)")).over(w).cast("double"))
      .withColumn("na", sum(col("ca")).over(whole))
      .withColumn("nb", sum(col("cb")).over(whole))
      .withColumn("tsa", sum(s12(col("ca") * col("value"))
        .cast("decimal(38,12)")).over(whole).cast("double"))
      .withColumn("tsb", sum(s12(col("cb") * col("value"))
        .cast("decimal(38,12)")).over(whole).cast("double"))
      // empty-phase series excluded — same contract as ksFromCounts
      .where(col("na") > 0 && col("nb") > 0)
    base
      .withColumn("xy", contrib("ca", "cumb", "cumsb", "nb", "tsb"))
      .withColumn("xx", contrib("ca", "cuma", "cumsa", "na", "tsa"))
      .withColumn("yy", contrib("cb", "cumb", "cumsb", "nb", "tsb"))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_train"), max(col("nb")).as("n_eval"),
        sum(col("xy").cast("decimal(38,6)")).cast("double").as("sxy"),
        sum(col("xx").cast("decimal(38,6)")).cast("double").as("sxx"),
        sum(col("yy").cast("decimal(38,6)")).cast("double").as("syy"))
      .select(col("event_type"), col("n_train"), col("n_eval"),
        (round((lit(2.0) * col("sxy")
          / (col("n_train").cast("double") * col("n_eval").cast("double"))
          - col("sxx")
            / (col("n_train").cast("double") * col("n_train").cast("double"))
          - col("syy")
            / (col("n_eval").cast("double") * col("n_eval").cast("double")))
          * lit(1000000)) / lit(1000000.0)).as("energy_d2"))
  }

  def energyDistance(spark: SparkSession, sfDir: String): DataFrame =
    energyDistance(Tables.events(spark, sfDir))

  /** q341: quantile shift function per series on the frozen 75% split —
    * eval-minus-train deltas at the 10/25/50/75/90 quantiles, the WHERE
    * view the drift family's scalar statistics (KS/CvM/PSI/energy)
    * compress away: a shift confined to Δq90 is a new heavy tail, a
    * uniform Δ across all five is a level step — different incidents,
    * same KS number. Both phases' quantiles run through the
    * count-and-locate engine on a composite (series, phase) key; the
    * pivot is |series|×5 rows.
    */
  def quantileShift(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val sp = ev.agg(
      floor(min(col("e")) + (max(col("e")) - min(col("e"))) * 0.75)
        .cast("long").as("split_e"))
    val phased = ev.crossJoin(broadcast(sp))
      .select(concat(col("event_type"), lit("|"),
        when(col("e") < col("split_e"), "tr").otherwise("ev")).as("grp"),
        col("value"))
    val qv = Percentiles.exactQuantiles(phased, "grp", "value",
      Seq("q10" -> 0.10, "q25" -> 0.25, "q50" -> 0.50,
        "q75" -> 0.75, "q90" -> 0.90))
      .withColumn("event_type", split(col("grp"), "\\|").getItem(0))
      .withColumn("phase", split(col("grp"), "\\|").getItem(1))
    val piv = qv.groupBy(col("event_type"), col("qname"))
      .agg(min(when(col("phase") === "tr", col("qv"))).as("tr"),
        min(when(col("phase") === "ev", col("qv"))).as("ev"))
    piv.where(col("tr").isNotNull && col("ev").isNotNull)
      .select(col("event_type"), col("qname").as("quantile"),
        (round(col("tr") * lit(10000)) / lit(10000.0)).as("train_q"),
        (round(col("ev") * lit(10000)) / lit(10000.0)).as("eval_q"),
        (round((col("ev") - col("tr")) * lit(10000)) / lit(10000.0)
          + lit(0.0)).as("shift"))
  }

  def quantileShift(spark: SparkSession, sfDir: String): DataFrame =
    quantileShift(Tables.events(spark, sfDir))

  /** q140: per-sensor quantile drift train→eval — completes the drift
    * family along its fourth axis: q87/PSI sees binned mass, q128/KS the
    * whole CDF, the Welch/Mann–Whitney pair the central tendency; this
    * reports WHERE the distribution moved in its own units (median and
    * p90 deltas), which is what a threshold-tuning runbook actually
    * consumes. Both phases run the two-pass exact-quantile operator
    * (q34's engine — no task ever buffers a group), split at the q87
    * 75%-of-timespan boundary.
    */
  def quantileDrift(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val split = ev.agg(
      floor(min(col("e")) + (max(col("e")) - min(col("e"))) * 0.75)
        .cast("long").as("split_e"))
    val cnts = ev.where(col("value").isNotNull)
      .crossJoin(broadcast(split))
      .withColumn("tr", (col("e") < col("split_e")).cast("long"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("tr")).as("ca"), sum(lit(1L) - col("tr")).as("cb"))
    quantileDriftFromCounts(cnts)
  }

  /** The counts→quantile-delta stage alone, over (event_type, value, ca,
    * cb) phase-count rows — the drift family's fifth factored stage
    * (PSI/KS/CvM/energy each have one), so a streaming monitor can feed
    * it live per-value counts against a frozen split
    * (QuantileDriftStreamSpec proves batch ≡ stream across slicings).
    * Each phase's quantiles run the count-and-locate engine on its own
    * count column; a series with an EMPTY phase has no delta and is
    * excluded — the ksFromCounts contract.
    */
  def quantileDriftFromCounts(cntsIn: DataFrame): DataFrame = {
    // two phase consumers + self-joins inside the count-and-locate engine:
    // materialize the distinct-value-sized aggregate once (the
    // psiFromCounts idiom — it also de-conflicts attribute ids when the
    // input is a re-read memory-sink table on the streaming path), on disk:
    // for continuous-valued series it is near corpus-sized (see Materialize)
    val cnts = Materialize.state(cntsIn, onDisk = true)
    def quantilesOf(cc: org.apache.spark.sql.Column, suffix: String): DataFrame =
      Percentiles.exactQuantilesFromCounts(
        cnts.select(col("event_type"), col("value"), cc.as("cnt")),
        "event_type", "value", "cnt",
        Seq(s"p50_$suffix" -> 0.5, s"p90_$suffix" -> 0.9))
        .groupBy(col("event_type"))
        .agg(
          min(when(col("qname") === s"p50_$suffix", col("qv"))).as(s"p50_$suffix"),
          min(when(col("qname") === s"p90_$suffix", col("qv"))).as(s"p90_$suffix"))
    val tr = quantilesOf(col("ca"), "tr")
    val evq = quantilesOf(col("cb"), "ev")
    tr.join(evq, "event_type")
      .select(col("event_type"),
        r4(col("p50_tr")).as("p50_train"), r4(col("p90_tr")).as("p90_train"),
        r4(col("p50_ev")).as("p50_eval"), r4(col("p90_ev")).as("p90_eval"),
        r4(col("p50_ev") - col("p50_tr")).as("d50"),
        r4(col("p90_ev") - col("p90_tr")).as("d90"))
  }

  def quantileDrift(spark: SparkSession, sfDir: String): DataFrame =
    quantileDrift(Tables.events(spark, sfDir))

  /** q141: winsorized moments per series — mean/std after clipping values
    * to the series' own [p05, p95] band: the robust location/scale pair a
    * monitoring baseline should use when q41-style raw moments are hostage
    * to a handful of spikes (clip-don't-drop keeps n constant, unlike
    * trimming). Quantile bounds come from the two-pass exact operator
    * (broadcast back as a series-sized dimension), clipped values are
    * decimal-snapped before the moment sums, and the clip counts are
    * reported so a saturated band is visible.
    */
  def winsorizedStats(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val bounds = Percentiles.exactQuantiles(ev, "event_type", "value",
      Seq("lo" -> 0.05, "hi" -> 0.95))
      .groupBy(col("event_type"))
      .agg(
        min(when(col("qname") === "lo", col("qv"))).as("lo"),
        min(when(col("qname") === "hi", col("qv"))).as("hi"))
    ev.join(broadcast(bounds), "event_type")
      .withColumn("w", greatest(least(col("value"), col("hi")), col("lo")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        sum(col("w").cast("decimal(28,16)")).cast("double").as("s"),
        sum((col("w") * col("w")).cast("decimal(38,16)")).cast("double").as("sq"))
      .select(col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
        r4(col("s") / col("n")).as("wins_mean"),
        // a 1-row series has no sample sd: NULL, never an ANSI crash
        // (round-10 fuzz; the oracle's double/0 is NULL)
        r4(when(col("n") > 1, sqrt((col("sq") - col("s") * col("s") / col("n"))
          / (col("n") - 1)))).as("wins_sd"))
  }

  def winsorizedStats(spark: SparkSession, sfDir: String): DataFrame =
    winsorizedStats(Tables.events(spark, sfDir))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Time-series resampling / gridding / rolling operators.
  *
  * Re-expresses the reference's pandas resampling surface as declarative
  * Spark plans:
  *   - resample to a target rate: reference model.py:151-164
  *     (DataPreProcessingConfiguration.TargetSamplingRate) and
  *     plot.py:249-251 (`df.resample(rule).mean().ffill()`)
  *   - forward-fill on a dense grid: reference dataset.py:524
  *   - rolling average: reference plot.py:362-371
  *   - inference sequence extraction: reference dataset.py:242-336
  *
  * All timestamps are handled as bigint epoch seconds internally, which keeps
  * bucket arithmetic inside whole-stage codegen and makes results portable to
  * the DuckDB oracle. At 100 TB the per-series grouping shuffles once on the
  * series key; bucket assignment is a map-side expression.
  */
object TimeSeries {

  /** Epoch seconds (floor) of a timestamp column. */
  def epochS(c: Column): Column = unix_timestamp(c)

  /** Portable 4-decimal rounding: `round(x*1e4)/1e4` evaluates identically in
    * Spark and DuckDB on the same double (DuckDB's round(x,4) is implemented
    * this way; Spark's round(x,4) rounds the exact binary value, which can
    * land on the other side of a tie).
    */
  def r4(c: Column): Column = round(c * 10000) / 10000

  /** Exact mean: decimal sum / count — identical doubles on any partition
    * order and in DuckDB, unlike a plain double avg. Pair with [[r4]].
    */
  def exactAvg(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double") / count(c)

  /** Bucket start (epoch seconds) for a fixed-width resample. */
  def bucketStart(ts: Column, widthSec: Long): Column =
    (floor(epochS(ts) / widthSec) * widthSec).cast("long")

  /** q01: resample events to 5-minute buckets per event_type with
    * mean/min/max/count — the engine's TargetSamplingRate analog.
    */
  def resampleAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    ev.groupBy(
        col("event_type"),
        bucketStart(col("ts"), 300L).as("bucket_start")
      )
      .agg(
        r4(exactAvg(col("value"))).as("avg_value"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"),
        count(lit(1)).as("n")
      )
  }

  /** Dense epoch grid (one row per (event_type, grid point)) spanning the
    * global [min, max] of the data at `widthSec` resolution. The grid is built
    * from a 1-row bounds aggregate crossed with the distinct series keys —
    * both tiny, broadcast, no shuffle on the fact side.
    */
  private def denseGrid(ev: DataFrame, widthSec: Long): DataFrame = {
    val bounds = ev.agg(
      (floor(min(epochS(col("ts"))) / widthSec) * widthSec).cast("long").as("mn"),
      (floor(max(epochS(col("ts"))) / widthSec) * widthSec).cast("long").as("mx")
    )
    val types = ev.select(col("event_type")).distinct()
    types
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(widthSec))).as("grid_start")
      )
  }

  /** q02: hourly resample + forward-fill of empty buckets per event_type. */
  def resampleFfill(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"), bucketStart(col("ts"), 3600L).as("grid_start"))
      .agg(exactAvg(col("value")).as("v"))
    val grid = denseGrid(ev, 3600L)
    val w = Window
      .partitionBy(col("event_type"))
      .orderBy(col("grid_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .join(hourly, Seq("event_type", "grid_start"), "left_outer")
      .withColumn("value_ffill", r4(last(col("v"), ignoreNulls = true).over(w)))
      .select(col("event_type"), col("grid_start"), col("value_ffill"))
  }

  /** q03: rolling average of `value` over the trailing 10 events per user. */
  def rollingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val frame = order.rowsBetween(-9, 0)
    // exact decimal sum in the frame → identical doubles regardless of the
    // engine's sliding-aggregate evaluation order
    ev.select(
      col("user_id"),
      col("event_id"),
      row_number().over(order).as("rn"),
      r4(sum(col("value").cast("decimal(18,6)")).over(frame).cast("double") /
        count(col("value")).over(frame)).as("roll_avg")
    )
  }

  /** q11: inference sequence extraction — take the evaluation period start,
    * cut `numSeq` windows of `freqSec` seconds, re-index each window onto a
    * relative time base (reference dataset.py:242-336 re-indexes extracted
    * windows onto the scheduler's clock; the relative offset is the portable
    * equivalent).
    */
  def seqExtract(spark: SparkSession, sfDir: String,
                 freqSec: Long = 300L, numSeq: Int = 3): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    val bounds = ev.agg(
      min(epochS(col("ts"))).as("mn"),
      max(epochS(col("ts"))).as("mx")
    ).select(
      // evaluation period starts at 75% of the span, floored to the frequency
      (floor((col("mn") + (col("mx") - col("mn")) * 0.75) / freqSec) * freqSec)
        .cast("long").as("eval_start")
    )
    ev.crossJoin(broadcast(bounds))
      .withColumn("e", epochS(col("ts")))
      .filter(col("e") >= col("eval_start"))
      .withColumn("seq", floor((col("e") - col("eval_start")) / freqSec).cast("long"))
      .filter(col("seq") < numSeq)
      .withColumn("rel_ts", col("e") - col("eval_start"))
      .groupBy(col("seq"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("rel_ts")).as("min_rel"),
        max(col("rel_ts")).as("max_rel"),
        r4(exactAvg(col("value"))).as("avg_value")
      )
  }

  /** q40: missing-data census — for each series, how many hourly buckets are
    * empty and how long the longest outage is. Dense grid + anti-join for
    * the empties, then gaps-and-islands over the (regularly spaced) empty
    * buckets: a run breaks where consecutive empty grid points are more than
    * one step apart. The data-quality gate a training pipeline runs before
    * trusting a resample+ffill (reference schema.py's scan surfaces the same
    * "how complete is this signal" question).
    */
  def gapCensus(spark: SparkSession, sfDir: String, widthSec: Long = 3600L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"), bucketStart(col("ts"), widthSec).as("grid_start"))
      .agg(count(lit(1)).as("cnt"))
    val grid = denseGrid(ev, widthSec)
    val empty = grid
      .join(hourly, Seq("event_type", "grid_start"), "left_anti")
    val byType = Window.partitionBy(col("event_type")).orderBy(col("grid_start"))
    val runs = empty
      .withColumn("prev", lag(col("grid_start"), 1).over(byType))
      .withColumn("brk",
        when(col("prev").isNull || col("grid_start") - col("prev") > widthSec, 1).otherwise(0))
      .withColumn("run", sum(col("brk")).over(byType.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("event_type"), col("run"))
      .agg(count(lit(1)).as("run_len"))
    val gridCounts = grid.groupBy(col("event_type")).agg(count(lit(1)).as("n_buckets"))
    gridCounts
      .join(
        runs.groupBy(col("event_type")).agg(
          sum(col("run_len")).as("n_empty"),
          max(col("run_len")).as("longest_gap"),
          count(lit(1)).as("n_gaps")),
        Seq("event_type"), "left_outer")
      .select(col("event_type"), col("n_buckets"),
        coalesce(col("n_empty"), lit(0L)).as("n_empty"),
        coalesce(col("longest_gap"), lit(0L)).as("longest_gap"),
        coalesce(col("n_gaps"), lit(0L)).as("n_gaps"))
  }

  /** q41: top-5 outliers per series by |z-score|. Mean and variance come
    * from exact decimal sums (sum, sum of squares), so the scores are
    * bit-stable under any partitioning: var = (Σx² − (Σx)²/n)/(n−1) with
    * both Σ exact. One aggregate pass + a broadcast join back — no second
    * scan of the fact table for the mean.
    */
  def zscoreOutliers(spark: SparkSession, sfDir: String, topN: Int = 5): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), col("value"))
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).cast("double").as("s"),
      sum((col("value") * col("value")).cast("decimal(28,6)")).cast("double").as("sq"))
      .withColumn("mean", col("s") / col("n"))
      // degenerate series give z = NULL instead of an ANSI crash — the
      // same silent NULL the oracle's double/0 produces (round-10 fuzz):
      // n = 1 has no sample sd; sd = 0 has no z scale
      .withColumn("sd", when(col("n") > 1,
        sqrt((col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1))))
    val w = Window.partitionBy(col("event_type")).orderBy(abs(col("z")).desc, col("event_id"))
    ev.join(broadcast(stats.select(col("event_type"), col("mean"), col("sd"))), "event_type")
      .withColumn("z", when(col("sd") =!= 0,
        (col("value") - col("mean")) / col("sd")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topN)
      .select(col("event_type"), col("rn"), col("event_id"),
        r4(col("z")).as("z"))
  }

  /** q42: lag-1 autocorrelation per user series — the "is this signal
    * structured or noise" statistic. Per-series mean from exact decimal
    * sums; centered cross-products and squares re-summed in decimals, so
    * r1 = Σ(xₜ−μ)(xₜ₋₁−μ) / Σ(xₜ−μ)² is deterministic. Lag runs inside the
    * per-user window — one shuffle on the series key.
    */
  def autocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val means = ev.groupBy(col("user_id")).agg(
      (sum(col("value").cast("decimal(18,6)")).cast("double") / count(lit(1))).as("mu"),
      count(lit(1)).as("n"))
    val ordW = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // no broadcast hint: the means side scales with the number of series, so
    // Catalyst must stay free to shuffle-join it on big cardinalities
    ev.join(means, "user_id")
      .withColumn("prev", lag(col("value"), 1).over(ordW))
      .groupBy(col("user_id"))
      .agg(
        max(col("n")).as("n"),
        sum(((col("value") - col("mu")) * (col("prev") - col("mu")))
          .cast("decimal(28,16)")).cast("double").as("num"),
        sum(((col("value") - col("mu")) * (col("value") - col("mu")))
          .cast("decimal(28,16)")).cast("double").as("den"))
      .select(col("user_id"), col("n"), r4(col("num") / col("den")).as("r1"))
  }

  /** q51: day-of-week × hour activity heatmap. Day-of-week is pure epoch
    * arithmetic ((days since epoch + 4) mod 7; 1970-01-01 was a Thursday) —
    * engines disagree on dayofweek() numbering, integer arithmetic they
    * can't. One shuffle onto at most 168 cells.
    */
  def hourlyHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(epochS(col("ts")).as("e"), col("value"))
    ev.groupBy(
        (pmod(floor(col("e") / 86400L) + 4, lit(7))).cast("int").as("dow"),
        (floor(pmod(col("e"), lit(86400L)) / 3600L)).cast("int").as("hod"))
      .agg(count(lit(1)).as("n"), r4(exactAvg(col("value"))).as("avg_value"))
  }

  /** q71: day-of-week seasonal index per series — each weekday's mean as a
    * multiple of the series' overall mean (1.0 = no weekly seasonality).
    * The seasonality profile a scheduler consults before flagging "low
    * Sunday throughput" as an anomaly. One scan produces the per-(series,
    * dow) decimal sums; the series totals are a second-level aggregate OVER
    * those ~series×7 rows (never a rescan), broadcast back for the ratio.
    */
  def seasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val byDow = Tables.events(spark, sfDir)
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .groupBy(col("event_type"),
        (pmod(floor(col("e") / 86400L) + 4, lit(7))).cast("int").as("dow"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"))
    val totals = byDow.groupBy(col("event_type"))
      .agg(sum(col("n")).as("tn"), sum(col("s")).as("ts_sum"))
    byDow.join(broadcast(totals), "event_type")
      .select(
        col("event_type"), col("dow"), col("n"),
        (round(col("s").cast("double") / col("n") * 10000) / 10000).as("dow_avg"),
        (round((col("s").cast("double") / col("n")) /
          (col("ts_sum").cast("double") / col("tn")) * 10000) / 10000).as("seasonal_idx"))
  }

  /** q44: cross-series Pearson correlation matrix — which sensors move
    * together. Series align on 5-minute buckets (exact decimal bucket
    * means), then every series pair joins on the bucket key and correlates
    * with exact decimal moment sums:
    * r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)).
    * The pair join is an equi-join on the bucket (never a time
    * cross-product); with S series it yields S²/2 pairs per bucket — fine
    * for sensor-scale S, and the bucket key keeps it one shuffle.
    */
  def corrMatrix(spark: SparkSession, sfDir: String, widthSec: Long = 300L): DataFrame = {
    val b = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
      .groupBy(col("event_type"), bucketStart(col("ts"), widthSec).as("bucket"))
      .agg(exactAvg(col("value")).as("v"))
    val a = b.toDF("type_a", "bucket", "va")
    val c = b.toDF("type_b", "bucket", "vb")
    a.join(c, Seq("bucket"))
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("va").cast("decimal(28,16)")).cast("double").as("sx"),
        sum(col("vb").cast("decimal(28,16)")).cast("double").as("sy"),
        sum((col("va") * col("vb")).cast("decimal(28,12)")).cast("double").as("sxy"),
        sum((col("va") * col("va")).cast("decimal(28,12)")).cast("double").as("sxx"),
        sum((col("vb") * col("vb")).cast("decimal(28,12)")).cast("double").as("syy"))
      .withColumn("cden", sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy"))))
      // a constant side has zero variance: corr NULL, never an ANSI crash
      // (round-10 fuzz; the oracle's double/0 is NULL)
      .select(col("type_a"), col("type_b"), col("n"),
        r4(when(col("cden") =!= 0,
          (col("n") * col("sxy") - col("sx") * col("sy")) / col("cden")))
          .as("corr"))
  }

  /** q33: as-of join — for every event, the latest order of the same
    * customer at or before the event time (ties: max orderkey). Spark has no
    * ASOF JOIN operator; the scalable formulation is the union-merge trick:
    * tag both streams, union them, sort per key by (time, stream-tag, key)
    * inside ONE window, and carry the last order attributes forward with an
    * ignore-nulls last(). One shuffle on the join key, no range
    * cross-product, no per-event probe — the plan a native as-of operator
    * would produce.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("t"))
      .select(col("user_id"), col("t"), lit(1).as("kind"), col("event_id"),
        lit(null).cast("long").as("o_orderkey"), lit(null).cast("long").as("oe"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("user_id"), epochS(col("o_orderdate")).as("t"),
        lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), epochS(col("o_orderdate")).as("oe"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("o_orderkey"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("last_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("last_order_e", last(col("oe"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("last_orderkey").isNotNull)
      .select(col("event_id"), col("user_id"), col("last_orderkey"), col("last_order_e"))
  }

  /** q169: FORWARD as-of join — for every order, the user's first event
    * at-or-after the order instant (q33 answers "state as of"; this
    * answers "first reaction after", the other half of every
    * point-in-time feature join). Same union-merge idiom as q33 so the
    * pair costs ONE shuffle keyed on the entity, never a range join:
    * both streams interleave into a single per-user timeline and a
    * forward-looking ignore-null window (current row → unbounded
    * following, ordered so an event at the exact order instant counts)
    * picks the first event id and timestamp. The lag is an exact integer
    * epoch difference. Window partitions by user — millions of bounded
    * partitions at scale, no global sort.
    */
  def asofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), epochS(col("ts")).as("t"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("long").as("o_orderkey"),
        epochS(col("ts")).as("ee"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("user_id"), epochS(col("o_orderdate")).as("t"),
        lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"), lit(null).cast("long").as("ee"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), col("event_id"), col("o_orderkey"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ord.unionByName(ev)
      .withColumn("next_event_id", first(col("event_id"), ignoreNulls = true).over(w))
      .withColumn("next_event_e", first(col("ee"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0 && col("next_event_id").isNotNull)
      .select(col("o_orderkey"), col("user_id"), col("next_event_id"),
        (col("next_event_e") - col("t")).as("lag_s"))
  }

  /** q12: hourly resample + linear interpolation of missing buckets.
    * prev/next known values come from ignore-null window frames; the
    * interpolation itself is a codegen'd arithmetic expression.
    */
  def interpLinear(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts"), col("value"))
    val hourly = ev
      .groupBy(col("event_type"), bucketStart(col("ts"), 3600L).as("grid_start"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double") /
        count(col("value"))).as("v"))
    val grid = denseGrid(ev, 3600L)
    val byType = Window.partitionBy(col("event_type")).orderBy(col("grid_start"))
    val back = byType.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = byType.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = grid.join(hourly, Seq("event_type", "grid_start"), "left_outer")
    val withNeighbors = joined
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("pt", last(when(col("v").isNotNull, col("grid_start")), ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nt", first(when(col("v").isNotNull, col("grid_start")), ignoreNulls = true).over(fwd))
    withNeighbors
      .withColumn(
        "value_interp",
        r4(
          when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv"))
            .when(col("nv").isNull, col("pv"))
            .otherwise(
              col("pv") + (col("nv") - col("pv")) *
                (col("grid_start") - col("pt")) / (col("nt") - col("pt"))
            )
        )
      )
      .select(col("event_type"), col("grid_start"), col("value_interp"))
  }

  /** q97: rolling quantiles — sliding-window median and p90 per series, the
    * robust-smoothing companion to q03's rolling mean (a median shrugs off
    * the value spikes that drag a mean, which is why control-room trend
    * lines prefer it). Window = the current row plus the `win` preceding
    * rows, emitted only once the window is FULL: with a fixed odd count of
    * 11 values, R-7 ranks for p50 and p90 land on integer indices, so both
    * quantiles are pure element SELECTION — no interpolation arithmetic
    * that could differ between engines, and the partial-window warmup rows
    * (even counts → midpoint interpolation) never reach the output.
    *
    * Scale: one hash shuffle on the series key, then a bounded 11-row frame
    * — constant memory per row regardless of series length, the sliding
    * shape that survives unbounded series at 100 TB.
    */
  def rollingQuantiles(events: DataFrame, win: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("e"), col("event_id"))
    val wf = w.rowsBetween(-win, 0)
    events
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("roll_med", percentile(col("value"), lit(0.5)).over(wf))
      .withColumn("roll_p90", percentile(col("value"), lit(0.9)).over(wf))
      .where(col("rn") > win)
      .select(col("user_id"), col("event_id"), col("rn"),
        r4(col("roll_med")).as("roll_med"), r4(col("roll_p90")).as("roll_p90"))
  }

  def rollingQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    rollingQuantiles(Tables.events(spark, sfDir))

  /** q101: event-RATE spikes — hours where a user's activity count blows
    * past their own Poisson baseline (λ = events per ACTIVE span hour), by
    * z = (c − λ)/√λ. The volume-anomaly view q41 (value z-scores) cannot
    * see: a bot burst is thousands of perfectly normal-valued events. Top-3
    * spike hours per user, spikes only (z ≥ `minZ`).
    *
    * Scale: one (user, hour) count aggregate (map-side combined), a
    * per-user baseline from the same table plus integer span arithmetic,
    * one slim join back, and a top-k window over spike hours only —
    * nothing touches raw events twice.
    */
  def rateSpikes(events: DataFrame, minZ: Double = 3.0): DataFrame = {
    val hc = events
      .select(col("user_id"), (floor(epochS(col("ts")) / 3600L) * 3600L).cast("long").as("hour"))
      .groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("c"))
    val base = hc.groupBy(col("user_id")).agg(
      sum(col("c")).as("total"),
      ((max(col("hour")) - min(col("hour"))) / 3600L + 1L).as("span_hours"))
      .withColumn("lambda", col("total").cast("double") / col("span_hours"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("z").desc, col("hour"))
    hc.join(base, "user_id")
      .withColumn("z", (col("c") - col("lambda")) / sqrt(col("lambda")))
      .where(col("z") >= minZ)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("hour"), col("c"),
        r4(col("lambda")).as("lambda"), r4(col("z")).as("z"))
  }

  def rateSpikes(spark: SparkSession, sfDir: String): DataFrame =
    rateSpikes(Tables.events(spark, sfDir))

  /** q102: inter-arrival burstiness per series — mean gap and coefficient
    * of variation of the gaps (CV ≈ 1 for a Poisson process, ≫ 1 for
    * bursty machine traffic, ≪ 1 for metronome schedulers) — the arrival-
    * process profile that sizes streaming state and picks watermarks.
    * Variance via the moment identity on EXACT decimal gap sums
    * (Σd, Σd²), so the result is aggregation-order-free; gaps are integer
    * seconds from one lag over the series shuffle.
    */
  def burstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("e"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("e"))
      .withColumn("d", col("e") - lag(col("e"), 1).over(w))
      .where(col("d").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("d").cast("decimal(28,0)")).as("sd"),
        sum((col("d") * col("d")).cast("decimal(38,0)")).as("sd2"))
      .select(
        col("user_id"), col("n_gaps"),
        r4(col("sd").cast("double") / col("n_gaps")).as("mean_gap"),
        r4(
          sqrt((col("sd2").cast("double") * col("n_gaps") -
            col("sd").cast("double") * col("sd").cast("double")))
            / col("sd").cast("double")).as("cv"))
  }

  def burstiness(spark: SparkSession, sfDir: String): DataFrame =
    burstiness(Tables.events(spark, sfDir))

  /** q110: finite-window EWMA per series — the recency-weighted smoother
    * the reference's flat rolling average (plot.py:362-371) can't express.
    * A K-lag truncated EWMA (weights β^k, renormalized over the window) is
    * a FIXED linear combination of bounded lags, so it stays a one-shuffle
    * windowed projection — no recursive state, unlike the infinite EWMA.
    * Weights are exact decimal literals (β = 0.7, β^k at scale 8) and each
    * term is an exact decimal product, so the weighted sum is identical on
    * any partition order and in DuckDB; only the final renormalizing divide
    * is double, snapped at scale 4. Emitted only on full windows (q97's
    * convention) so boundary renormalization never enters.
    */
  def ewma(events: DataFrame, lags: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("e"), col("event_id"))
    // β^k as exact decimals: 0.7^k has exactly k fractional digits
    val weights = (0 to lags).map(k => BigDecimal(7).pow(k) / BigDecimal(10).pow(k))
    val norm = weights.sum // exact decimal, scale `lags`
    val num = weights.zipWithIndex.map { case (wk, k) =>
      val x = if (k == 0) col("value") else lag(col("value"), k).over(w)
      x.cast("decimal(18,6)") * lit(wk.bigDecimal).cast(s"decimal(12,$lags)")
    }.reduce(_ + _)
    events
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("num", num)
      .where(col("rn") > lags)
      .select(col("user_id"), col("event_id"), col("rn"),
        r4(col("num").cast("double") / lit(norm.toDouble)).as("ewma"))
  }

  def ewma(spark: SparkSession, sfDir: String): DataFrame =
    ewma(Tables.events(spark, sfDir))

  /** q111: single changepoint per series — the split point maximizing the
    * mean shift |mean(≤t) − mean(>t)| with a minimum segment size, i.e.
    * the binary-segmentation step of classical changepoint detection. Both
    * segment means come from ONE cumulative exact-decimal prefix sum over
    * the series shuffle (left = cum/rn, right = (total−cum)/(n−rn)), so no
    * per-candidate rescan; the argmax is a row_number over the same
    * partitioning (second sort, zero extra shuffle). Means and shift are
    * deterministic doubles (identical divide order in DuckDB), snapped at
    * scale 4 for output; ties break to the earliest split.
    */
  def changepoint(events: DataFrame, minSeg: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("e"), col("event_id"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, 0)
    val allW = Window.partitionBy(col("user_id"))
    val scored = events
      .select(col("user_id"), col("event_id"), epochS(col("ts")).as("e"),
        col("value").cast("decimal(18,6)").as("v"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", sum(col("v")).over(cumW))
      .withColumn("n", count(lit(1)).over(allW))
      .withColumn("total", sum(col("v")).over(allW))
      .where(col("rn") >= minSeg && col("rn") <= col("n") - minSeg)
      .withColumn("mean_l", col("cum").cast("double") / col("rn"))
      .withColumn("mean_r",
        (col("total") - col("cum")).cast("double") / (col("n") - col("rn")))
      .withColumn("shift", abs(col("mean_l") - col("mean_r")))
    val best = Window.partitionBy(col("user_id"))
      .orderBy(col("shift").desc, col("rn"))
    scored
      .withColumn("pick", row_number().over(best))
      .where(col("pick") === 1)
      .select(col("user_id"), col("n"), col("rn").as("split_rn"),
        col("e").as("split_e"),
        r4(col("mean_l")).as("mean_before"),
        r4(col("mean_r")).as("mean_after"),
        r4(col("shift")).as("shift"))
  }

  def changepoint(spark: SparkSession, sfDir: String): DataFrame =
    changepoint(Tables.events(spark, sfDir))

  /** q125: weekday-vs-weekend Welch t-test per series — IS the weekly
    * rhythm statistically real, the significance test behind q71's
    * seasonal index (an index of 1.1 over noise σ=2 means nothing; the
    * same index at σ=0.1 is structure). Both groups' moments come from ONE
    * conditional aggregation over one scan (no self-join); sums are exact
    * decimals (value snapped at scale 6, squares at q41's scale-6
    * convention), so t = (μ₁−μ₂)/√(s₁²/n₁ + s₂²/n₂) is deterministic on
    * any partition order.
    */
  def welchWeekend(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
    val m = ev.groupBy(col("event_type")).agg(
      sum(when(!col("we"), 1L).otherwise(0L)).as("n_wd"),
      sum(when(col("we"), 1L).otherwise(0L)).as("n_we"),
      sum(when(!col("we"), col("value").cast("decimal(18,6)"))).as("s_wd"),
      sum(when(col("we"), col("value").cast("decimal(18,6)"))).as("s_we"),
      sum(when(!col("we"), (col("value") * col("value")).cast("decimal(28,6)")))
        .as("q_wd"),
      sum(when(col("we"), (col("value") * col("value")).cast("decimal(28,6)")))
        .as("q_we"))
    // degenerate sides go NULL, never ANSI-crash (round-10 fuzz): an
    // empty phase has no mean, a 1-row phase no variance, two exactly
    // constant phases no t scale — the oracle's double/0 is NULL, matched
    m.withColumn("m_wd", when(col("n_wd") > 0,
        col("s_wd").cast("double") / col("n_wd")))
      .withColumn("m_we", when(col("n_we") > 0,
        col("s_we").cast("double") / col("n_we")))
      .withColumn("v_wd", when(col("n_wd") > 1,
        (col("q_wd").cast("double") - col("n_wd") * col("m_wd") * col("m_wd"))
          / (col("n_wd") - 1)))
      .withColumn("v_we", when(col("n_we") > 1,
        (col("q_we").cast("double") - col("n_we") * col("m_we") * col("m_we"))
          / (col("n_we") - 1)))
      .withColumn("den", when(col("n_wd") > 1 && col("n_we") > 1,
        sqrt(col("v_wd") / col("n_wd") + col("v_we") / col("n_we"))))
      .select(col("event_type"), col("n_wd"), col("n_we"),
        r4(col("m_wd")).as("mean_wd"),
        r4(col("m_we")).as("mean_we"),
        r4(when(col("den") =!= 0, (col("m_wd") - col("m_we")) / col("den")))
          .as("t_stat"))
  }

  def welchWeekend(spark: SparkSession, sfDir: String): DataFrame =
    welchWeekend(Tables.events(spark, sfDir))

  /** q127: OLS linear trend per series — slope (per day), intercept at the
    * series start, and R², the "is this sensor drifting and how fast"
    * summary beside q111's changepoint (WHERE the level shifted) and
    * q110's EWMA (the smoothed level itself). Time is re-based to each
    * series' first timestamp (broadcast of a series-sized dimension) so
    * the cross-moments stay small enough for exact decimal sums; all five
    * moments come from ONE aggregation over one scan, and slope/R² are
    * pure arithmetic over that ~|series|-row table. σ=0 degenerate cases
    * (constant series, single timestamp) pin slope and R² to 0.
    */
  def linearTrend(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
    val t0s = ev.groupBy(col("event_type")).agg(min(col("e")).as("t0"))
    ev.join(broadcast(t0s), "event_type")
      .withColumn("td", (col("e") - col("t0")).cast("double"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("td").cast("decimal(38,6)")).cast("double").as("st"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sv"),
        sum((col("td") * col("value")).cast("decimal(38,10)")).cast("double").as("stv"),
        sum((col("td") * col("td")).cast("decimal(38,6)")).cast("double").as("stt"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).cast("double").as("svv"))
      .withColumn("sxx", col("stt") - col("st") * col("st") / col("n"))
      .withColumn("syy", col("svv") - col("sv") * col("sv") / col("n"))
      .withColumn("sxy", col("stv") - col("st") * col("sv") / col("n"))
      .withColumn("slope",
        when(col("sxx") === 0, lit(0.0)).otherwise(col("sxy") / col("sxx")))
      .select(col("event_type"), col("n"),
        r4(col("slope") * 86400).as("slope_day"),
        r4(col("sv") / col("n") - col("slope") * col("st") / col("n")).as("intercept"),
        r4(when(col("syy") === 0, lit(0.0))
          .otherwise(col("slope") * col("sxy") / col("syy"))).as("r2"))
  }

  def linearTrend(spark: SparkSession, sfDir: String): DataFrame =
    linearTrend(Tables.events(spark, sfDir))

  /** q130: Mann–Whitney U rank-sum test, weekday vs weekend, per series —
    * q125's nonparametric sibling: Welch assumes roughly-normal means;
    * the rank test sees any distributional shift (heavy tails, medians)
    * without that assumption. Tie-aware: ranks come from per-VALUE phase
    * counts (one bounded aggregate, KS's q128 shape) — a tie group of
    * size t at cumulative position c has average rank c + (t+1)/2 — and
    * the normal approximation applies the standard tie correction
    * σ² = n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))). Every sum is over exact
    * integers or half-integers (decimal-snapped), so U and z are
    * partition-order-free.
    */
  def mannWhitney(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
    val cnts = ev.groupBy(col("event_type"), col("value"))
      .agg(
        sum(when(!col("we"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("we"), 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val whole = Window.partitionBy(col("event_type"))
    cnts
      .withColumn("cumBefore",
        coalesce(sum(col("t")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("avgRank",
        col("cumBefore").cast("double") + (col("t") + 1).cast("double") / 2)
      .withColumn("na", sum(col("ca")).over(whole))
      .withColumn("nb", sum(col("cb")).over(whole))
      .groupBy(col("event_type"))
      .agg(
        max(col("na")).as("n_wd"), max(col("nb")).as("n_we"),
        sum((col("ca") * col("avgRank")).cast("decimal(38,6)"))
          .cast("double").as("ra"),
        sum((col("t") * col("t") * col("t") - col("t")).cast("decimal(38,0)"))
          .as("tieSum"))
      .withColumn("nn", col("n_wd").cast("double") * col("n_we"))
      .withColumn("bigN", col("n_wd") + col("n_we"))
      .withColumn("u",
        col("ra") - col("n_wd").cast("double") * (col("n_wd") + 1) / 2)
      // N = 1 has no tie correction; σU = 0 (one side empty, or every
      // value tied) admits no z — NULL, never an ANSI crash (round-10
      // fuzz), matching the oracle's double/0 NULL
      .withColumn("varU", when(col("bigN") > 1,
        col("nn") / 12 * ((col("bigN") + 1).cast("double")
          - col("tieSum").cast("double")
            / (col("bigN").cast("double") * (col("bigN") - 1)))))
      .select(col("event_type"), col("n_wd"), col("n_we"),
        r4(col("u")).as("u"),
        r4(when(col("varU") > 0,
          (col("u") - col("nn") / 2) / sqrt(col("varU")))).as("z"))
  }

  def mannWhitney(spark: SparkSession, sfDir: String): DataFrame =
    mannWhitney(Tables.events(spark, sfDir))

  /** q131: dominant seasonality period per series — the ACF argmax over a
    * daily-lag grid (1..maxLag days), generalizing q42's single lag-1
    * coefficient into period DETECTION ("this sensor repeats weekly").
    * The series first resamples to per-day means (exact decimal sums), so
    * everything after the first shuffle runs on a series×days table; the
    * lag grid fans out via an equi-join of that bounded table with itself
    * on day+lag (gap days simply drop their pairs), and centered products
    * are decimal-snapped before summing. Denominator is the full-series
    * centered sum of squares, so r(lag) is Pearson-normalized and
    * comparable across lags; best lag breaks ties toward the shorter
    * period.
    */
  def dominantPeriod(events: DataFrame, maxLag: Int = 14): DataFrame = {
    val daily = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("day", floor(col("e") / 86400L))
      .groupBy(col("event_type"), col("day"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("x"))
    // decimal(38,16): same scale-16 snap, 10 more integral digits — a
    // 1e9-magnitude daily mean squares to ~1e18, over the (28,16) range
    // (round-10 fuzz finding); (38,16) admits |x| up to ~1e10 exactly
    val stats = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_days"),
      (sum(col("x").cast("decimal(38,16)")).cast("double") / count(lit(1))).as("mu"))
    val centered = daily.join(broadcast(stats), "event_type")
      .withColumn("cx", col("x") - col("mu"))
    val den = centered.groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        sum((col("cx") * col("cx")).cast("decimal(38,16)"))
          .cast("double").as("ss"))
    val lags = events.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val pairs = centered.select(col("event_type"), col("day"), col("cx"))
      .crossJoin(broadcast(lags))
      .withColumn("day2", col("day") + col("lag"))
      .join(
        centered.select(col("event_type"), col("day").as("day2"), col("cx").as("cx2")),
        Seq("event_type", "day2"))
    pairs
      .groupBy(col("event_type"), col("lag"))
      .agg(sum((col("cx") * col("cx2")).cast("decimal(38,16)"))
        .cast("double").as("num"))
      .join(broadcast(den), "event_type")
      // zero centered energy (constant daily means) admits no ACF: NULL,
      // never an ANSI crash (round-10 fuzz; oracle's double/0 is NULL)
      .withColumn("r", when(col("ss") =!= 0, col("num") / col("ss")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("r").desc, col("lag"))))
      .where(col("rn") === 1)
      .select(col("event_type"), col("n_days"),
        col("lag").as("best_lag"), r4(col("r")).as("r_best"))
  }

  def dominantPeriod(spark: SparkSession, sfDir: String): DataFrame =
    dominantPeriod(Tables.events(spark, sfDir))

  /** q381: epoch-folding period scan per series — the periodicity hunter
    * that complements q131's ACF view without trig (a trig periodogram's
    * cos/sin differ across engines in the last ulp, so it cannot be
    * oracle'd; folding is pure integer-bucket arithmetic, the classic
    * variance-ratio technique from pulsar timing). For each candidate
    * period p ∈ [2, maxPeriod]: fold days onto phase = day mod p and score
    * the between-phase variance share R²(p) = SSB/SST — the fraction of
    * daily variance a p-day cycle explains (p=7 recovers the weekly
    * seasonality q174 assumes up front; the scan finds it instead of
    * assuming it). Output: best and runner-up period per series with
    * shares — a close runner-up at a multiple (7 vs 14) is the harmonic
    * signature, a lone spike is a true cycle.
    *
    * Scale: the scan runs on the bounded per-day resample ([[cusumDaily]]),
    * fans out ×(maxPeriod−1) — still bounded — and aggregates to
    * series×period rows. Per-phase sums are exact decimals; SSB/SST use
    * the S²/n identity with 1e-12 snaps so both engines agree bit-for-bit.
    */
  def periodFold(events: DataFrame, maxPeriod: Int = 14): DataFrame =
    periodFoldFromDaily(cusumDaily(events), maxPeriod)

  /** The daily-means→fold-scan stage of [[periodFold]] alone — factored
    * like [[Drift.cvmFromCounts]] so a streaming monitor can feed it a
    * live complete-mode daily aggregate (PeriodFoldStreamSpec proves
    * batch ≡ stream across micro-batch slicings).
    */
  def periodFoldFromDaily(daily: DataFrame, maxPeriod: Int = 14): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val periods = daily.sparkSession.range(2, maxPeriod + 1)
      .select(col("id").cast("int").as("p"))
    val perPhase = daily.crossJoin(broadcast(periods))
      .withColumn("ph", pmod(col("day"), col("p")))
      .groupBy(col("event_type"), col("p"), col("ph"))
      .agg(count(lit(1)).as("n_ph"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("s_ph"))
    val tot = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("s"),
        sum(s12(col("x") * col("x")).cast("decimal(38,12)"))
          .cast("double").as("sxx"))
      .withColumn("cm", s12(col("s") * col("s") / col("n_days")))
      .withColumn("sst", col("sxx") - col("cm"))
    val scored = perPhase
      .withColumn("term", s12(col("s_ph") * col("s_ph") / col("n_ph")))
      .groupBy(col("event_type"), col("p"))
      .agg(sum(col("term").cast("decimal(38,12)")).cast("double").as("sb"))
      .join(broadcast(tot), "event_type")
      .withColumn("share",
        when(col("sst") <= 0, lit(null)) // constant series: no variance to explain
          .otherwise(round((col("sb") - col("cm")) / col("sst") * lit(1e6))
            / lit(1e6)))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("share").desc_nulls_last, col("p"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"),
        max(when(col("rn") === 1, col("p"))).as("best_p"),
        max(when(col("rn") === 1, col("share"))).as("best_share"),
        max(when(col("rn") === 2, col("p"))).as("second_p"),
        max(when(col("rn") === 2, col("share"))).as("second_share"))
  }

  def periodFold(spark: SparkSession, sfDir: String): DataFrame =
    periodFold(Tables.events(spark, sfDir))

  /** q139: one-sided CUSUM drift detector per series — the SPC classic
    * that catches SUSTAINED small shifts q41's point z-scores and q111's
    * single split both miss. The textbook recursion
    * Cₜ = max(0, Cₜ₋₁ + zₜ − slack) is not window-expressible, but its
    * closed form is: C = cumsum(z − slack) minus its own running minimum
    * — two windows over the same per-series sort. Baseline μ/σ come from
    * the first 75% of days (q87's frozen-train convention), so the eval
    * tail is scored against pre-drift behavior.
    *
    * Scale shape: runs on the per-day resample (q131's bounded table),
    * (z − slack) terms decimal-snapped before the cumulative sum so the
    * excursion is partition-order-free; peak day tie-breaks earliest.
    */
  def cusum(events: DataFrame, slack: Double = 0.5,
            threshold: Double = 5.0): DataFrame =
    cusumFromDaily(cusumDaily(events), slack, threshold)

  /** The daily-mean resample stage of [[cusum]], factored so the streaming
    * twin's spec can feed the identical per-day table to both engines.
    */
  def cusumDaily(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("day", floor(col("e") / 86400L))
      .groupBy(col("event_type"), col("day"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("x"))

  /** Train-phase reference stats of [[cusumFromDaily]] — mean/σ of the
    * first 75% of each series' day span. Factored out so a streaming
    * CUSUM monitor can be handed the identical (μ, σ) the batch plan
    * derives (the stream can't know the 75% cut of an unbounded stream).
    */
  def cusumTrainStats(daily: DataFrame): DataFrame = {
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("cut",
        (col("d0") + floor((col("d1") - col("d0")) * 0.75)).cast("long"))
      .select(col("event_type"), col("cut"))
    daily.join(broadcast(bounds), "event_type")
      .where(col("day") <= col("cut"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_train"),
        sum(col("x").cast("decimal(28,16)")).cast("double").as("s"),
        sum((col("x") * col("x")).cast("decimal(38,16)")).cast("double").as("sq"))
      .withColumn("mu", col("s") / col("n_train"))
      // a 1-day train span has no sample σ: NULL (term/excursion follow),
      // never an ANSI crash — round-10 fuzz, oracle's double/0 is NULL
      .withColumn("sigma", when(col("n_train") > 1, sqrt(
        (col("sq") - col("s") * col("s") / col("n_train"))
          / (col("n_train") - 1))))
      .select(col("event_type"), col("n_train"), col("mu"), col("sigma"))
  }

  /** The daily-resample→CUSUM stage alone, over (event_type, day, x) rows —
    * factored like the PSI/KS count stages so a streaming monitor can feed
    * it a live per-day aggregate (complete-mode) and get the identical
    * verdict (StreamingDriftSpec-style parity in AnalyticsSpec).
    */
  def cusumFromDaily(daily: DataFrame, slack: Double = 0.5,
                     threshold: Double = 5.0): DataFrame = {
    val stats = cusumTrainStats(daily)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val cum = daily.join(broadcast(stats), "event_type")
      .withColumn("term",
        when(col("sigma") === 0, lit(0.0))
          .otherwise((col("x") - col("mu")) / col("sigma") - slack)
          .cast("decimal(28,16)"))
      .withColumn("cs", sum(col("term")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("runmin", least(
        min(col("cs")).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,16)")))
      .withColumn("exc", (col("cs") - col("runmin")).cast("double"))
    cum
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("exc").desc, col("day"))))
      .where(col("rn") === 1)
      .select(col("event_type"), col("n_train"), col("day").as("peak_day"),
        r4(col("exc")).as("peak"), (col("exc") > threshold).as("drifted"))
  }

  def cusum(spark: SparkSession, sfDir: String): DataFrame =
    cusum(Tables.events(spark, sfDir))

  /** q116: seasonally-adjusted outliers — q41's z-score run on the
    * DESEASONALIZED value (value ÷ its weekday mean), so a normal Sunday
    * lull is no longer an outlier and a spike ON a lull day is. The
    * weekday profile is q71's one-scan decimal aggregate (series×7 rows,
    * broadcast back); adjusted values are DECIMAL(18,6)-snapped before
    * the moment sums (the square then stays exact with no further cast)
    * so the per-series mean/σ stay aggregation-order-free.
    * Top-3 per series by |z|, the q41 window shape.
    */
  def seasonalOutliers(spark: SparkSession, sfDir: String, topN: Int = 3): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("dow", pmod(floor(col("e") / 86400L) + 4, lit(7)).cast("int"))
    val byDow = ev.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("dn"), sum(col("value").cast("decimal(18,6)")).as("ds"))
    // a weekday whose mean is exactly 0 has no ratio adjustment (NULL,
    // both engines' convention — round-10 fuzz; DuckDB's double/0 is NULL)
    val adj = ev.join(broadcast(byDow), Seq("event_type", "dow"))
      .withColumn("dm", col("ds").cast("double") / col("dn"))
      .withColumn("adj",
        when(col("dm") =!= 0, col("value") / col("dm"))
          .cast("decimal(18,6)"))
    val stats = adj.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("adj")).as("sa"),
        sum(col("adj") * col("adj")).as("sa2"))
      .withColumn("mu", col("sa").cast("double") / col("n"))
      .withColumn("sigma",
        sqrt(col("sa2").cast("double") / col("n") - col("mu") * col("mu")))
      .select(col("event_type"), col("mu"), col("sigma"))
    val zc = when(col("sigma") =!= 0,
      (col("adj").cast("double") - col("mu")) / col("sigma"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(abs(zc).desc, col("event_id"))
    adj.join(broadcast(stats), "event_type")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topN)
      .select(col("event_type"), col("rn"), col("event_id"), col("dow"),
        r4(col("value")).as("value"),
        r4(col("adj").cast("double")).as("adj"),
        r4(zc).as("z"))
  }

  /** q152: Theil–Sen robust trend per series — the median of all pairwise
    * slopes between per-day means. A handful of outlier days can drag
    * q127's OLS slope arbitrarily far; this estimator has a 29% breakdown
    * point and barely moves. The pair fan-out is bounded by days² per
    * series (per-day means FIRST), never events²; the median is a window
    * sort of the ≤ days²/2 slope values — the q97 rolling-quantile cost
    * class. Median selection is rank-based element selection (mean of the
    * two middle ranks via min+max — partition-order-free, and identical
    * values at identical ranks in any engine); slopes themselves are one
    * IEEE double division each, bit-identical across engines.
    */
  def theilSen(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        floor(epochS(col("ts")) / 86400L).cast("long").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(exactAvg(col("value")).as("v"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.v") - col("a.v")) /
          (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val nDays = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"))
    val whole = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(whole))
      .where(col("rn") === floor((col("np") + 1) / lit(2.0)).cast("long") ||
        col("rn") === floor(col("np") / lit(2.0)).cast("long") + 1)
      .groupBy(col("event_type"))
      .agg(max(col("np")).as("n_pairs"),
        (round((min(col("slope")) + max(col("slope"))) / 2 * 1000000)
          / 1000000).as("ts_slope"))
      .join(broadcast(nDays), "event_type")
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("ts_slope"))
  }

  def theilSen(spark: SparkSession, sfDir: String): DataFrame =
    theilSen(Tables.events(spark, sfDir))

  /** q153: lead-lag cross-correlation between series pairs — q44's Pearson
    * matrix only sees simultaneous co-movement; shifting one series by ±k
    * days surfaces LEADING indicators (sensor A's today predicts B's in
    * three days). The lag fan-out is an equi-join of the bounded
    * series×days table with itself across a ±maxLag grid (q131's ACF shape
    * generalized to CROSS-series); per (pair, lag) Pearson uses the exact
    * decimal-snapped moment sums of q44/q127, and the best lag per pair is
    * one window over the pairs×lags table. Reported per unordered pair
    * (corr(a,b,ℓ) = corr(b,a,−ℓ), so a<b loses nothing).
    */
  def leadLag(events: DataFrame, maxLag: Int = 7): DataFrame = {
    val daily = events
      .select(col("event_type"),
        floor(epochS(col("ts")) / 86400L).cast("long").as("day"), col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg(exactAvg(col("value")).as("v"))
    val a = daily.toDF("type_a", "day", "va")
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
    val b = daily.toDF("type_b", "day_b", "vb")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")) *
      (col("n") * col("syy") - col("sy") * col("sy"))
    a.join(b, col("type_a") < col("type_b") &&
        col("day") + col("lag") === col("day_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("va").cast("decimal(28,16)")).cast("double").as("sx"),
        sum(col("vb").cast("decimal(28,16)")).cast("double").as("sy"),
        sum((col("va") * col("vb")).cast("decimal(28,12)")).cast("double").as("sxy"),
        sum((col("va") * col("va")).cast("decimal(28,12)")).cast("double").as("sxx"),
        sum((col("vb") * col("vb")).cast("decimal(28,12)")).cast("double").as("syy"))
      .where(col("n") >= 3)
      .withColumn("r", when(den <= 0, lit(0.0))
        .otherwise((col("n") * col("sxy") - col("sx") * col("sy")) / sqrt(den)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("type_a"), col("type_b"))
          .orderBy(abs(col("r")).desc, col("lag"))))
      .where(col("rn") === 1)
      .select(col("type_a"), col("type_b"),
        col("lag").cast("int").as("best_lag"), col("n").as("n_overlap"),
        (round(col("r") * 1000000) / 1000000).as("r_best"))
  }

  def leadLag(spark: SparkSession, sfDir: String): DataFrame =
    leadLag(Tables.events(spark, sfDir))

  /** q162: peak census — per series, strict local maxima of the raw
    * signal (value above BOTH neighbours; plateau edges and endpoints
    * excluded by the strict compares) and the cadence between them.
    * Peak detection here is pure neighbour comparison of STORED values —
    * no rolling statistic, no accumulated threshold — so every compare
    * is exact and the census is bit-deterministic on any partitioning;
    * the deliberate contrast is q41/q116, which flag statistical
    * outliers and need the noise-margin argument. One window pass keyed
    * on the series (lag/lead + the inter-peak gap lag share one sort),
    * one aggregate; both shuffles are keyed on event_type.
    */
  def peakCensus(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"),
      col("event_id"))
    val peaks = events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("is_peak",
        col("value") > lag(col("value"), 1).over(w) &&
        col("value") > lead(col("value"), 1).over(w))
      .where(col("is_peak"))
    val wp = Window.partitionBy(col("event_type")).orderBy(col("ts"),
      col("event_id"))
    peaks
      .withColumn("gap_s",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(wp)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_peaks"),
        (round(sum(col("gap_s").cast("decimal(18,2)")).cast("double")
          / sum(when(col("gap_s").isNotNull, 1).otherwise(0)) * 10000)
          / 10000).as("avg_gap_s"),
        (round(max(col("value")) * 10000) / 10000).as("max_peak"))
  }

  def peakCensus(spark: SparkSession, sfDir: String): DataFrame =
    peakCensus(Tables.events(spark, sfDir))

  /** q168: Hurst exponent by rescaled-range (R/S) analysis — the
    * long-memory diagnostic: H ≈ 0.5 means the series increments are
    * memoryless, H > 0.5 persistent trends, H < 0.5 mean-reverting.
    * Classic Mandelbrot–Wallis estimator, distributed: chop each series
    * into complete windows of S ∈ {32, 64, 128} samples, compute each
    * window's rescaled range R/S (range of the cumulative deviation from
    * the window mean over the window's population σ), and the Hurst slope
    * is d⟨ln R/S⟩/d ln S — with the three sizes geometric in ratio 2 the
    * OLS slope collapses to (⟨ln⟩₁₂₈ − ⟨ln⟩₃₂)/(2·ln 2).
    *
    * Determinism contract: window means and σ² accumulate in exact
    * decimal; the cumulative deviation is a FIXED-ORDER running sum
    * (window frame ordered by rn — both engines add in the same
    * sequence, so the doubles agree bit-for-bit); per-window ln(R/S) is
    * snapped to 12 dp before the cross-window decimal mean, so the only
    * order-free float aggregation is over snapped values. Shuffles are
    * keyed on (series, window) — thousands of bounded partitions, never
    * a global sort.
    */
  def hurstRs(events: DataFrame, sizes: Seq[Int] = Seq(32, 64, 128)): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("ts"),
      col("event_id"))
    val seq0 = events
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn", (row_number().over(wOrd) - 1).cast("bigint"))
      .transform(Materialize.state(_)) // three per-size passes reuse the numbered series
    val perSize = sizes.map { s =>
      val df = seq0.withColumn("win", expr(s"rn div $s"))
      val stats = df.groupBy(col("event_type"), col("win"))
        .agg(count(lit(1)).as("cnt"),
          (sum(col("value").cast("decimal(28,12)")).cast("double") / s)
            .as("mean"))
        .where(col("cnt") === s)
      val wWin = Window.partitionBy(col("event_type"), col("win"))
        .orderBy(col("rn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val winRs = df.join(stats, Seq("event_type", "win"))
        .withColumn("cum", sum(col("value") - col("mean")).over(wWin))
        .groupBy(col("event_type"), col("win"))
        .agg((max(col("cum")) - min(col("cum"))).as("r"),
          sqrt(sum(((col("value") - col("mean")) * (col("value") - col("mean")))
            .cast("decimal(28,12)")).cast("double") / s).as("sd"))
        .where(col("sd") > 0)
      winRs
        .select(col("event_type"),
          log(col("r") / col("sd")).cast("decimal(28,12)").as("ln_rs"))
        .groupBy(col("event_type"))
        .agg((sum(col("ln_rs")).cast("double") / count(lit(1))).as("m"),
          count(lit(1)).as("n_windows"))
        .withColumn("size", lit(s))
    }
    val bySize = perSize.reduce(_ union _)
    val m = (s: Int) => max(when(col("size") === s, col("m")))
    bySize.groupBy(col("event_type"))
      .agg(
        (round(m(sizes.head) * 1000000) / 1000000).as(s"ln_rs_${sizes.head}"),
        (round(m(sizes(1)) * 1000000) / 1000000).as(s"ln_rs_${sizes(1)}"),
        (round(m(sizes(2)) * 1000000) / 1000000).as(s"ln_rs_${sizes(2)}"),
        (round((m(sizes(2)) - m(sizes.head)) / lit(2 * math.log(2.0))
          * 1000000) / 1000000).as("hurst"))
  }

  def hurstRs(spark: SparkSession, sfDir: String): DataFrame =
    hurstRs(Tables.events(spark, sfDir))

  /** q174: seasonal-strength decomposition (the STL "strength of
    * seasonality" statistic F_s = max(0, 1 − Var(remainder)/Var(data))
    * over a weekly profile): per series, daily means decompose into a
    * day-of-week seasonal component (the mean of that weekday's daily
    * means) plus remainder, and F_s says how much of the daily variance
    * the weekly cycle explains — the one number that decides whether
    * q71's seasonal indices / q116's seasonal outlier model are even
    * applicable to a series. Weekday comes from epoch-day mod 7 (pure
    * integer arithmetic — portable, unlike engine dayofweek
    * conventions); variances come from decimal-snapped Σx/Σx² so every
    * aggregation is order-free and the two IEEE variance evaluations are
    * bit-deterministic.
    */
  def seasonalStrength(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"),
        col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("m"))
      .withColumn("dow", col("day") % 7)
    val seasonal = daily.groupBy(col("event_type"), col("dow"))
      .agg((sum(col("m").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("s"))
    val snap = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,12)")
    daily.join(seasonal, Seq("event_type", "dow"))
      .select(col("event_type"), col("m"), (col("m") - col("s")).as("r"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(snap(col("m"))).as("sx"), sum(snap(col("m") * col("m"))).as("sx2"),
        sum(snap(col("r"))).as("rx"), sum(snap(col("r") * col("r"))).as("rx2"))
      .select(col("event_type"), col("n_days"),
        (round((col("sx2").cast("double") / col("n_days")
          - pow(col("sx").cast("double") / col("n_days"), 2)) * lit(1000000))
          / lit(1000000.0)).as("var_total"),
        (round((col("rx2").cast("double") / col("n_days")
          - pow(col("rx").cast("double") / col("n_days"), 2)) * lit(1000000))
          / lit(1000000.0)).as("var_resid"),
        (round(greatest(lit(0.0), lit(1.0)
          - (col("rx2").cast("double") / col("n_days")
            - pow(col("rx").cast("double") / col("n_days"), 2))
          / (col("sx2").cast("double") / col("n_days")
            - pow(col("sx").cast("double") / col("n_days"), 2)))
          * lit(1000000)) / lit(1000000.0)).as("seasonal_strength"))
  }

  def seasonalStrength(spark: SparkSession, sfDir: String): DataFrame =
    seasonalStrength(Tables.events(spark, sfDir))

  /** q180: rolling skewness + excess kurtosis per series over a 25-sample
    * trailing window — the shape diagnostics q03's rolling mean can't see
    * (a level-stable series drifting into a heavy tail keeps its mean
    * while g1/g2 move). The four raw power terms are formed in double
    * (identically on both engines) and snapped to DECIMAL, so the window
    * SUMs are partition-order-free; central moments come out of the raw
    * sums through one textually-identical IEEE expression per engine, and
    * rows emit only on full windows so every statistic is over exactly
    * `win` samples. One series-keyed sort window — a single shuffle.
    */
  def rollingMoments(events: DataFrame, win: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-(win - 1), 0)
    val n = lit(win.toDouble)
    // Per-row powers snapped to INTEGER-VALUED doubles (round(x·10^s)),
    // then summed as exact decimal(38,0). A direct CAST(v*v AS DECIMAL(p,s))
    // asks both engines to round a double at sub-ulp decimal places — they
    // disagree by 1 unit in ~1e-6 of rows, and the m2 = a2 − m² cancellation
    // in a near-constant window amplifies that ulp into the 6th output
    // decimal (the CORRECTNESS_sf1 q180 catch). round() of the identical
    // double is engine-identical, and every double ≥ 2^52 is exactly an
    // integer, so the decimal cast below never rounds again.
    def snap(x: Column, scale: Double): Column =
      round(x * lit(scale)).cast("decimal(38,0)")
    val v = col("value")
    val ev = events.select(col("event_type"), col("ts"), col("event_id"),
      snap(v, 1e6).as("x1"),
      snap(v * v, 1e10).as("x2"),
      snap(v * v * v, 1e8).as("x3"),
      snap(v * v * v * v, 1e8).as("x4"))
    val sums = ev
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x1")).over(w))
      .withColumn("sx2", sum(col("x2")).over(w))
      .withColumn("sx3", sum(col("x3")).over(w))
      .withColumn("sx4", sum(col("x4")).over(w))
      .where(col("k") === win)
    val m = col("sx").cast("double") / lit(1e6) / n
    val a2 = col("sx2").cast("double") / lit(1e10) / n
    val a3 = col("sx3").cast("double") / lit(1e8) / n
    val a4 = col("sx4").cast("double") / lit(1e8) / n
    val m2 = a2 - m * m
    val m3 = a3 - lit(3.0) * m * a2 + lit(2.0) * m * m * m
    val m4 = a4 - lit(4.0) * m * a3 + lit(6.0) * m * m * a2 -
      lit(3.0) * m * m * m * m
    // + 0.0 normalizes IEEE −0.0 (DuckDB's round keeps it; Spark's
    // BigDecimal-based round cannot produce it) — textually mirrored in SQL
    // a constant window (m2 = 0) has no standardized moments: NULL, never
    // an ANSI crash (round-10 fuzz; the oracle's double/0 is NULL)
    sums.select(col("event_type"), col("event_id"),
      (round(when(m2 =!= 0, m3 / (m2 * sqrt(m2))) * lit(1000000))
        / lit(1000000.0) + lit(0.0)).as("skew"),
      (round(when(m2 =!= 0, m4 / (m2 * m2) - lit(3.0)) * lit(1000000))
        / lit(1000000.0) + lit(0.0)).as("kurt"))
  }

  def rollingMoments(spark: SparkSession, sfDir: String): DataFrame =
    rollingMoments(Tables.events(spark, sfDir))

  /** Per-series median through the two-pass exact-quantile engine, snapped
    * to 6 dp so both engines threshold against the SAME constant (the raw
    * interpolated midpoint could differ by an ulp across engines and flip
    * a row that lands between the two medians). Shared by q181/q184.
    */
  private def snappedMedian(events: DataFrame): DataFrame =
    Percentiles.exactQuantiles(
        events.select(col("event_type"), col("value")),
        "event_type", "value", Seq("m" -> 0.5))
      .select(col("event_type"),
        (round(col("qv") * lit(1000000)) / lit(1000000.0)).as("m"))

  /** q181: Wald–Wolfowitz runs test per series — is the above/below-median
    * sign sequence random, or does it clump (trend / regime persistence)
    * or alternate (negative feedback)? The nonparametric randomness gate
    * behind q42's parametric lag-1 autocorrelation. Rows equal to the
    * snapped median are excluded (sign undefined); runs count from one
    * lag window over the series shuffle; n_above/n_below/runs are exact
    * integers and z evaluates one textually-identical IEEE expression per
    * engine.
    */
  def runsTest(events: DataFrame): DataFrame = {
    val med = snappedMedian(events)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val signed = events.select(col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .join(broadcast(med), "event_type")
      .where(col("value") =!= col("m"))
      .withColumn("s", when(col("value") > col("m"), 1).otherwise(0))
      .withColumn("chg",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
    val na = col("n_above").cast("double")
    val nb = col("n_below").cast("double")
    val nn = na + nb
    val mu = lit(2.0) * na * nb / nn + lit(1.0)
    val sig2 = (mu - lit(1.0)) * (mu - lit(2.0)) / (nn - lit(1.0))
    signed.groupBy(col("event_type"))
      .agg(sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("s") === 0, 1L).otherwise(0L)).as("n_below"),
        sum(col("chg")).as("runs"))
      .select(col("event_type"), col("n_above"), col("n_below"), col("runs"),
        (round((col("runs").cast("double") - mu) / sqrt(sig2)
          * lit(1000000)) / lit(1000000.0)).as("z_runs"))
  }

  def runsTest(spark: SparkSession, sfDir: String): DataFrame =
    runsTest(Tables.events(spark, sfDir))

  /** q182: maximum cumulative-excursion drawdown per series. The raw
    * values are positive, so the walk is the DEMEANED cumulative sum (the
    * CUSUM excursion path): peak-to-trough fall of that path measures the
    * deepest sustained below-mean stretch in the series' own units — the
    * magnitude twin of q139's thresholded CUSUM alarm. Everything is
    * DECIMAL end to end (mean snapped to 12 dp before subtraction, cumsum
    * and running max over decimals), so the answer is exact on any
    * partitioning; doubles appear only in the final rounded output. Two
    * cumulative windows over one series-keyed sort — a single shuffle.
    */
  def drawdown(events: DataFrame): DataFrame = {
    val mean = events.groupBy(col("event_type"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("mean_v"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val path = events.select(col("event_type"), col("ts"), col("event_id"),
        col("value").cast("decimal(18,6)").as("x"))
      .join(broadcast(mean), "event_type")
      .withColumn("step", col("x") - col("mean_v").cast("decimal(28,12)"))
      .withColumn("c", sum(col("step")).over(w))
      .withColumn("peak", max(col("c")).over(w))
    path.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        (round(max(col("peak") - col("c")).cast("double") * lit(1000000))
          / lit(1000000.0)).as("max_drawdown"),
        (round((max(col("c")) - min(col("c"))).cast("double") * lit(1000000))
          / lit(1000000.0)).as("excursion_range"))
  }

  def drawdown(spark: SparkSession, sfDir: String): DataFrame =
    drawdown(Tables.events(spark, sfDir))

  /** q183: Lo–MacKinlay-style variance ratio per series on per-day means:
    * Var(weekly sums of the daily series) / (7 · Var(daily)) ≈ 1 for a
    * random walk, > 1 under positive serial correlation (trending), < 1
    * under mean reversion — the aggregation-consistency check that says
    * whether q127's trend fit and q139's drift detector see signal or
    * noise. Weekly blocks are NON-overlapping (epoch-day DIV 7) and only
    * complete 7-day blocks count; daily means and their squares snap to
    * decimal before the variance sums, so both variances are
    * order-free.
    */
  def varianceRatio(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("day"),
        col("value"))
      .groupBy(col("event_type"), col("day"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))
    val dAgg = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("m").cast("decimal(28,12)")).as("sx"),
        sum((col("m") * col("m")).cast("decimal(28,12)")).as("sx2"))
    val weekly = daily
      .withColumn("wk", expr("CAST(day DIV 7 AS BIGINT)"))
      .groupBy(col("event_type"), col("wk"))
      .agg(count(lit(1)).as("nd"),
        sum(col("m").cast("decimal(28,12)")).as("ws"))
      .where(col("nd") === 7)
    val wAgg = weekly
      .select(col("event_type"), col("ws").cast("double").as("wsd"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("wsd").cast("decimal(28,12)")).as("wx"),
        sum((col("wsd") * col("wsd")).cast("decimal(28,12)")).as("wx2"))
    val vd = (col("sx2").cast("double") / col("n_days")) -
      pow(col("sx").cast("double") / col("n_days"), 2)
    val vw = (col("wx2").cast("double") / col("n_weeks")) -
      pow(col("wx").cast("double") / col("n_weeks"), 2)
    dAgg.join(wAgg, "event_type")
      .where(col("n_weeks") >= 2)
      .select(col("event_type"), col("n_days"), col("n_weeks"),
        (round(vd * lit(1000000)) / lit(1000000.0)).as("var_daily"),
        (round(vw * lit(1000000)) / lit(1000000.0)).as("var_weekly"),
        (round(vw / (lit(7.0) * vd) * lit(1000000)) / lit(1000000.0))
          .as("variance_ratio"))
  }

  def varianceRatio(spark: SparkSession, sfDir: String): DataFrame =
    varianceRatio(Tables.events(spark, sfDir))

  /** q184: above-median run-length census per series — how LONG does a
    * series stay above its own median once it crosses? (q181 tests
    * whether the sign sequence is random; this reports the persistence
    * profile itself, the state-sizing input for any hysteresis alarm.)
    * Gaps-and-islands by the rn-difference idiom (both row_numbers ride
    * the SAME series-keyed sort — one shuffle), run lengths bucketed into
    * q70's integer-exact power-of-2 bins, O(log n) rows per series out.
    */
  def runLengthCensus(events: DataFrame): DataFrame = {
    val med = snappedMedian(events)
    val wAll = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val flagged = events.select(col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .join(broadcast(med), "event_type")
      .withColumn("rn", row_number().over(wAll))
      .where(col("value") > col("m"))
      .withColumn("grp", col("rn") - row_number().over(wAll))
    flagged.groupBy(col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .withColumn("bucket", (length(bin(col("len"))) - 1).cast("int"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_runs"),
        max(col("len")).as("max_len"),
        (round(sum(col("len")).cast("double") / count(lit(1)) * lit(10000))
          / lit(10000.0)).as("mean_len"))
  }

  def runLengthCensus(spark: SparkSession, sfDir: String): DataFrame =
    runLengthCensus(Tables.events(spark, sfDir))

  /** q193: partial autocorrelation at lags 1 and 2 per series via the
    * Durbin–Levinson recursion (φ11 = r1, φ22 = (r2 − r1²)/(1 − r1²)) —
    * the model-order diagnostic q42's plain ACF can't give: an AR(1)
    * process has r2 ≈ r1² so φ22 ≈ 0, while φ22 ≉ 0 says one lag of
    * memory isn't enough (the input to choosing the ml/Forecast lag
    * order). Both lag products come off ONE series-keyed sort window;
    * numerators/denominator are centered decimal sums (order-free), the
    * recursion is two IEEE expressions over per-series scalars.
    */
  def pacf(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("ts"), col("event_id"),
      col("value"))
    val means = ev.groupBy(col("event_type")).agg(
      (sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("mu"),
      count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val agg = ev.join(means, "event_type")
      .withColumn("p1", lag(col("value"), 1).over(w))
      .withColumn("p2", lag(col("value"), 2).over(w))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(((col("value") - col("mu")) * (col("p1") - col("mu")))
          .cast("decimal(28,16)")).cast("double").as("num1"),
        sum(((col("value") - col("mu")) * (col("p2") - col("mu")))
          .cast("decimal(28,16)")).cast("double").as("num2"),
        sum(((col("value") - col("mu")) * (col("value") - col("mu")))
          .cast("decimal(28,16)")).cast("double").as("den"))
    // zero centered energy -> no ACF; |r1| = 1 -> the Durbin-Levinson
    // step has a zero pivot: both go NULL, never an ANSI crash (round-10
    // fuzz; the oracle's double/0 is NULL)
    val r1 = when(col("den") =!= 0, col("num1") / col("den"))
    val r2 = when(col("den") =!= 0, col("num2") / col("den"))
    agg.select(col("event_type"), col("n"),
      r4(r1).as("r1"), r4(r2).as("r2"),
      (round(when(lit(1.0) - r1 * r1 =!= 0,
        (r2 - r1 * r1) / (lit(1.0) - r1 * r1)) * lit(1000000))
        / lit(1000000.0)).as("pacf2"))
  }

  def pacf(spark: SparkSession, sfDir: String): DataFrame =
    pacf(Tables.events(spark, sfDir))

  /** q194: Durbin–Watson statistic on the q127 OLS residuals per series —
    * the regression-diagnostics closer: DW ≈ 2 means the trend line left
    * white noise behind, DW → 0 means positively-autocorrelated residuals
    * (the fit is missing structure — seasonality, regime shifts), DW → 4
    * anti-correlated. Slope/intercept come from the same single-pass
    * decimal moment sums as q127 (identical IEEE derivation on both
    * engines); residuals are per-row doubles, and both DW sums snap each
    * term to 12-dp decimal so they are partition-order-free; the lag
    * rides one series-keyed sort window.
    */
  def durbinWatson(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), epochS(col("ts")).as("e"),
      col("event_id"), col("value"))
    val t0s = ev.groupBy(col("event_type")).agg(min(col("e")).as("t0"))
    val td = ev.join(broadcast(t0s), "event_type")
      .withColumn("td", (col("e") - col("t0")).cast("double"))
    val params = td.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("td").cast("decimal(38,6)")).cast("double").as("st"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sv"),
        sum((col("td") * col("value")).cast("decimal(38,10)")).cast("double").as("stv"),
        sum((col("td") * col("td")).cast("decimal(38,6)")).cast("double").as("stt"))
      .withColumn("sxx", col("stt") - col("st") * col("st") / col("n"))
      .withColumn("sxy", col("stv") - col("st") * col("sv") / col("n"))
      .withColumn("slope",
        when(col("sxx") === 0, lit(0.0)).otherwise(col("sxy") / col("sxx")))
      .withColumn("icept", col("sv") / col("n") - col("slope") * col("st") / col("n"))
      .select(col("event_type"), col("n"), col("slope"), col("icept"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("td"), col("event_id"))
    val res = td.join(params, "event_type")
      .withColumn("r", col("value") - (col("icept") + col("slope") * col("td")))
      .withColumn("pr", lag(col("r"), 1).over(w))
    res.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum((round(((col("r") - col("pr")) * (col("r") - col("pr")))
          * lit(1e12)) / lit(1e12)).cast("decimal(28,12)"))
          .cast("double").as("sdiff"),
        sum((round((col("r") * col("r")) * lit(1e12)) / lit(1e12))
          .cast("decimal(28,12)")).cast("double").as("ssq"))
      .select(col("event_type"), col("n"),
        // a perfect fit (all-zero residuals) has no DW scale: NULL, never
        // an ANSI crash (round-10 fuzz; the oracle's double/0 is NULL)
        (round(when(col("ssq") =!= 0, col("sdiff") / col("ssq"))
          * lit(1000000)) / lit(1000000.0)).as("dw"))
  }

  def durbinWatson(spark: SparkSession, sfDir: String): DataFrame =
    durbinWatson(Tables.events(spark, sfDir))

  /** Per-day mean table shared by the rank-correlation pair ops
    * (q201/q202): decimal-exact daily means snapped to 12 dp.
    */
  private def dailyMeans(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"),
        col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))

  /** q201: Kendall tau-b rank correlation between series pairs on aligned
    * per-day means — the ROBUST co-movement measure beside q44's Pearson
    * (Pearson sees linear association and is wrecked by one outlier day;
    * tau counts concordant vs discordant day pairs, invariant under any
    * monotone transform). Tie-aware tau-b with the standard correction.
    * The day-pair fan-out is days² per series pair — bounded by the TIME
    * SPAN, not the data volume, so the plan is corpus-size-independent
    * after the daily aggregate; every count is an exact integer and tau
    * evaluates one IEEE expression per pair.
    */
  def kendallTau(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val a = daily.toDF("type_a", "d", "ma")
    val b = daily.toDF("type_b", "d", "mb")
    val both = a.join(b, Seq("d")).where(col("type_a") < col("type_b"))
    val x = both.select(col("type_a"), col("type_b"), col("d").as("d1"),
      col("ma").as("ma1"), col("mb").as("mb1"))
    val y = both.select(col("type_a"), col("type_b"), col("d").as("d2"),
      col("ma").as("ma2"), col("mb").as("mb2"))
    val pp = x.join(y, Seq("type_a", "type_b")).where(col("d1") < col("d2"))
    val sgn = (col("ma1") - col("ma2")) * (col("mb1") - col("mb2"))
    val agg = pp.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n0"),
        sum(when(sgn > 0, 1L).otherwise(0L)).as("conc"),
        sum(when(sgn < 0, 1L).otherwise(0L)).as("disc"),
        sum(when(col("ma1") === col("ma2"), 1L).otherwise(0L)).as("ties_a"),
        sum(when(col("mb1") === col("mb2"), 1L).otherwise(0L)).as("ties_b"))
    agg.select(col("type_a"), col("type_b"), col("n0"), col("conc"),
      col("disc"),
      // all-tied sides give a zero tau denominator: NULL, never an ANSI
      // crash (round-10 fuzz; the oracle's double/0 is NULL)
      (round(when((col("n0") - col("ties_a")) * (col("n0") - col("ties_b")) > 0,
        (col("conc") - col("disc")).cast("double")
          / sqrt((col("n0") - col("ties_a")).cast("double")
            * (col("n0") - col("ties_b")).cast("double"))) * lit(1000000))
        / lit(1000000.0)).as("tau_b"))
  }

  def kendallTau(spark: SparkSession, sfDir: String): DataFrame =
    kendallTau(Tables.events(spark, sfDir))

  /** q202: Spearman rank correlation between series pairs on aligned
    * per-day means — Pearson on tie-averaged ranks (rank + (|tie group|−1)/2,
    * half-integers so every rank is exact). Completes the correlation
    * triad: q44 linear, q201 ordinal-pairwise, q202 ordinal-global. Ranks
    * ride one series-keyed sort window; the pair Pearson runs over the
    * bounded series×days table with decimal-snapped rank moments.
    */
  def spearmanDaily(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("m"))
    val wEq = Window.partitionBy(col("event_type"), col("m"))
    val ranked = daily
      .withColumn("rk",
        rank().over(w).cast("double")
          + (count(lit(1)).over(wEq) - lit(1)).cast("double") / lit(2.0))
    val a = ranked.select(col("event_type").as("type_a"), col("d"),
      col("rk").as("ra"))
    val b = ranked.select(col("event_type").as("type_b"), col("d"),
      col("rk").as("rb"))
    a.join(b, Seq("d")).where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("ra").cast("decimal(28,6)")).cast("double").as("sa"),
        sum(col("rb").cast("decimal(28,6)")).cast("double").as("sb"),
        sum((col("ra") * col("rb")).cast("decimal(28,6)")).cast("double").as("sab"),
        sum((col("ra") * col("ra")).cast("decimal(28,6)")).cast("double").as("saa"),
        sum((col("rb") * col("rb")).cast("decimal(28,6)")).cast("double").as("sbb"))
      .select(col("type_a"), col("type_b"), col("n"),
        // a constant-rank side gives a zero variance product: NULL rho,
        // never an ANSI crash (round-10 fuzz; oracle's double/0 is NULL)
        (round(when((col("saa") - col("sa") * col("sa") / col("n"))
            * (col("sbb") - col("sb") * col("sb") / col("n")) > 0,
          (col("sab") - col("sa") * col("sb") / col("n"))
            / sqrt((col("saa") - col("sa") * col("sa") / col("n"))
              * (col("sbb") - col("sb") * col("sb") / col("n"))))
          * lit(1000000)) / lit(1000000.0)).as("rho"))
  }

  def spearmanDaily(spark: SparkSession, sfDir: String): DataFrame =
    spearmanDaily(Tables.events(spark, sfDir))

  /** q234: time-weighted average per series — trapezoidal integration over
    * the irregular sample grid, the aggregate a plain mean silently gets
    * wrong whenever sampling density correlates with level (a sensor that
    * reports MORE during spikes biases its arithmetic mean upward; TWA
    * weights each reading by the time it was "in effect"). One lag window
    * per series; each trapezoid term (vᵢ₋₁+vᵢ)/2·Δt is snapped to decimal
    * before the order-free sum, and the plain mean rides the same pass for
    * the bias comparison.
    */
  def timeWeightedAvg(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("e"), col("event_id"))
    val ev = events
      .select(col("event_type"), col("event_id"),
        epochS(col("ts")).as("e"), col("value"))
      .withColumn("pe", lag(col("e"), 1).over(ord))
      .withColumn("pv", lag(col("value"), 1).over(ord))
      .withColumn("dt", (col("e") - col("pe")).cast("double"))
      .withColumn("trap",
        (((col("pv") + col("value")) / lit(2.0)) * col("dt"))
          .cast("decimal(28,6)"))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("sv"),
        sum(col("trap")).cast("double").as("area"),
        sum(col("dt").cast("decimal(18,2)")).cast("double").as("span"))
      .select(col("event_type"), col("n"),
        r4(col("sv").cast("double") / col("n").cast("double"))
          .as("plain_mean"),
        r4(col("area") / col("span")).as("twa"),
        r4(col("sv").cast("double") / col("n").cast("double")
          - col("area") / col("span")).as("sampling_bias"))
  }

  def timeWeightedAvg(spark: SparkSession, sfDir: String): DataFrame =
    timeWeightedAvg(Tables.events(spark, sfDir))

  /** q251: Holt's linear-trend double exponential smoothing per series —
    * the level+trend upgrade of q110's plain EWMA (a flat EWMA lags a
    * trending series by trend/α forever; Holt tracks the slope as a second
    * smoothed state and extrapolates it for forecasts). Runs on the
    * bounded per-day mean table: the fact-sized scan is the ONE daily
    * aggregate, then the inherently-sequential recursion folds over each
    * series' ≤span-many days inside a single higher-order `aggregate`
    * expression — per-series sequential is the correct distribution shape
    * (series are the parallel unit, days are the sequence), identical to
    * how the streaming monitors carry state.
    *
    * Determinism: the recursion state (l, b) is snapped to 1e-12 after
    * every step and both engines evaluate the same literal expression
    * sequence (the oracle replays the fold as a recursive CTE), so the
    * walked states are bit-identical; absolute one-step errors are
    * snapped per term before accumulating.
    */
  def holtLinear(events: DataFrame): DataFrame =
    holtFromDaily(dailyMeans(events))

  /** The q251 fold over an arbitrary (event_type, d, m) daily table —
    * factored so q328's reconciliation can run the identical recursion on
    * the bottom series AND the aggregated total series.
    */
  private[ops] def holtFromDaily(daily: DataFrame): DataFrame = {
    val arr = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
        .as("xs"))
      .where(size(col("xs")) >= 2)
    // init after the first two days: l=x₂, b=x₂−x₁ (the t=2 state the
    // standard init walks to exactly); fold days 3..T
    arr
      .withColumn("st", expr(
        """aggregate(
          |  slice(xs, 3, greatest(size(xs) - 2, 0)),
          |  named_struct(
          |    'l', element_at(xs, 2),
          |    'b', element_at(xs, 2) - element_at(xs, 1),
          |    'sae', CAST(0.0 AS DOUBLE)),
          |  (acc, x) -> named_struct(
          |    'l', round((0.5*x + 0.5*(acc.l + acc.b))*1e12)/1e12,
          |    'b', round((0.3*(round((0.5*x + 0.5*(acc.l + acc.b))*1e12)/1e12
          |           - acc.l) + 0.7*acc.b)*1e12)/1e12,
          |    'sae', acc.sae + round(abs(x - (acc.l + acc.b))*1e12)/1e12))
          |""".stripMargin))
      .select(col("event_type"),
        size(col("xs")).cast("bigint").as("n_days"),
        r6c(col("st.l")).as("level"),
        r6c(col("st.b")).as("trend"),
        r6c(col("st.l") + lit(7.0) * col("st.b")).as("forecast_7d"),
        r6c(when(size(col("xs")) > 2,
          col("st.sae") / (size(col("xs")) - 2).cast("double"))
          .otherwise(lit(0.0))).as("mae"))
  }

  def holtLinear(spark: SparkSession, sfDir: String): DataFrame =
    holtLinear(Tables.events(spark, sfDir))

  /** q398: the Theta method (Assimakopoulos & Nikolopoulos — the M3
    * winner), additive θ=2 form: fit the least-squares trend over the
    * daily means, double the deviations around it (the θ=2 line
    * z_t = 2·m_t − trend(t)), smooth z with SES (α=.5, the q251 fold
    * discipline), and forecast the AVERAGE of the two theta lines —
    * the trend extrapolated h days out and the flat SES level. Known
    * equivalence: SES-with-drift-b̂/2, which is why this simple recipe
    * beat the M3 field; it fills the gap between q127's pure trend and
    * q251's Holt (whose trend is smoothed, not fitted). MAE is the
    * theta-line SES one-step diagnostic, same convention as q251.
    *
    * Scale: the regression is one aggregate of integer rank sums +
    * decimal value sums per series; the fold runs over the collected
    * per-series daily array (bounded by the calendar, not the corpus —
    * the q251 contract).
    */
  def thetaForecast(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val idx = dailyMeans(events)
      .withColumn("rn", row_number().over(w).cast("long"))
    val reg = idx.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("rn")).as("st"),
        sum(col("rn") * col("rn")).as("stt"),
        sum(col("m").cast("decimal(38,12)")).cast("double").as("sm"),
        sum((col("rn").cast("double") * col("m")).cast("decimal(38,12)"))
          .cast("double").as("stm"))
      .withColumn("sxx", col("stt").cast("double")
        - col("st").cast("double") * col("st").cast("double") / col("n"))
      .withColumn("sxy", col("stm")
        - col("st").cast("double") * col("sm") / col("n"))
      .withColumn("b",
        when(col("sxx") === 0, lit(0.0)).otherwise(col("sxy") / col("sxx")))
      .withColumn("a", col("sm") / col("n")
        - col("b") * col("st").cast("double") / col("n"))
      .select(col("event_type"), col("n"), col("a"), col("b"))
    idx.join(reg, "event_type")
      .withColumn("z", round((lit(2.0) * col("m")
        - (col("a") + col("b") * col("rn").cast("double"))) * lit(1e12))
        / lit(1e12))
      .groupBy(col("event_type"), col("n"), col("a"), col("b"))
      .agg(expr("transform(array_sort(collect_list(struct(rn, z))), s -> s.z)")
        .as("zs"))
      .where(size(col("zs")) >= 2)
      .withColumn("st2", expr(
        """aggregate(
          |  slice(zs, 2, size(zs) - 1),
          |  named_struct('l', element_at(zs, 1), 'sae', CAST(0.0 AS DOUBLE)),
          |  (acc, z) -> named_struct(
          |    'l', round((0.5*z + 0.5*acc.l)*1e12)/1e12,
          |    'sae', acc.sae + round(abs(z - acc.l)*1e12)/1e12))
          |""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        (r6c(col("b")) + lit(0.0)).as("slope"),
        r6c(col("st2.l")).as("ses_level"),
        r6c(lit(0.5) * ((col("a")
          + col("b") * (col("n") + lit(7L)).cast("double"))
          + col("st2.l"))).as("forecast_7d"),
        r6c(col("st2.sae") / (col("n") - lit(1L)).cast("double")).as("mae"))
  }

  def thetaForecast(spark: SparkSession, sfDir: String): DataFrame =
    thetaForecast(Tables.events(spark, sfDir))

  /** q328: hierarchical forecast reconciliation audit — the 7-day Holt
    * forecast made BOTTOM-UP (sum of per-series q251 forecasts) vs
    * TOP-DOWN (the same fold on the aggregated total series). Smoothers
    * don't commute with aggregation, so the two disagree; the gap is the
    * reconciliation error a hierarchical-forecasting layer (MinT et al.)
    * would distribute, and a gap blowing up between snapshots means the
    * mix is shifting faster than the trend. One extra |days|-row fold on
    * top of q251's machinery — the total series is the snapped per-day
    * sum of the series' daily means, appended as one more key through the
    * IDENTICAL recursion.
    */
  def forecastReconciliation(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val total = daily.groupBy(col("d"))
      .agg((round(sum(col("m").cast("decimal(38,12)")).cast("double")
        * lit(1e12)) / lit(1e12)).as("m"))
      .select(lit("__TOTAL__").as("event_type"), col("d"), col("m"))
    val fc = holtFromDaily(daily.unionByName(total))
    fc.agg(
        sum(when(col("event_type") =!= "__TOTAL__", 1L).otherwise(0L))
          .as("n_series"),
        sum(when(col("event_type") =!= "__TOTAL__",
          col("forecast_7d").cast("decimal(28,6)"))).cast("double")
          .as("bu"),
        max(when(col("event_type") === "__TOTAL__", col("forecast_7d")))
          .as("td"))
      .select(col("n_series"),
        (round(col("bu") * 10000) / 10000.0).as("bottom_up_7d"),
        (round(col("td") * 10000) / 10000.0).as("top_down_7d"),
        (round((col("bu") - col("td")) * 10000) / 10000.0 + lit(0.0))
          .as("recon_gap"))
  }

  def forecastReconciliation(spark: SparkSession, sfDir: String): DataFrame =
    forecastReconciliation(Tables.events(spark, sfDir))

  /** q252: Savitzky–Golay smoothing per series — the 5-point quadratic
    * least-squares filter (coefficients −3,12,17,12,−3 over 35) that
    * preserves peak height and width where q03's flat rolling mean blunts
    * them (the filter fits a parabola to each window, so second-order
    * structure passes through unchanged). A pure window dot product: two
    * lags + two leads on the series-keyed sort, emitted for full windows
    * only; every product is an exact small-integer scaling, evaluated as
    * ONE identical expression in both engines.
    */
  def savitzkyGolay(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .withColumn("a", lag(col("value"), 2).over(ord))
      .withColumn("b", lag(col("value"), 1).over(ord))
      .withColumn("d", lead(col("value"), 1).over(ord))
      .withColumn("e", lead(col("value"), 2).over(ord))
      .where(col("a").isNotNull && col("e").isNotNull)
      .drop("ts")
      .withColumn("smooth",
        (lit(-3.0) * col("a") + lit(12.0) * col("b") + lit(17.0) * col("value")
          + lit(12.0) * col("d") - lit(3.0) * col("e")) / lit(35.0))
      .select(col("event_type"), col("event_id"),
        // + 0.0 folds rounded -0.0 onto +0.0 (hash parity with the oracle)
        (r6c(col("smooth")) + lit(0.0)).as("smooth"),
        (r6c(col("value") - col("smooth")) + lit(0.0)).as("resid"))
  }

  def savitzkyGolay(spark: SparkSession, sfDir: String): DataFrame =
    savitzkyGolay(Tables.events(spark, sfDir))

  private def r6c(c: org.apache.spark.sql.Column) =
    round(c * lit(1000000)) / lit(1000000.0)

  /** q265: two-level binary segmentation per series — q111 finds THE
    * changepoint; real regime histories have several, and binary
    * segmentation is the standard scale-out: split at the best point,
    * recurse into each side. Depth 2 here (root + best sub-split per
    * side), on the bounded per-day mean table so every segment scan is a
    * window over ≤span rows. Each level is the same prefix-sum trick as
    * q111 — both segment means from ONE cumulative decimal sum, no
    * per-candidate rescan — with the level-2 windows partitioned by
    * (series, side). minSeg days on each side of any split; a side
    * shorter than 2·minSeg yields no row, identically in both engines.
    */
  def binsegTwoLevel(events: DataFrame, minSeg: Int = 3): DataFrame = {
    val daily = dailyMeans(events)
      .withColumn("md", col("m").cast("decimal(28,12)"))
    val ordW = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val cumW = ordW.rowsBetween(Window.unboundedPreceding, 0)
    val allW = Window.partitionBy(col("event_type"))
    val base = daily
      .withColumn("rn", row_number().over(ordW))
      .withColumn("cum", sum(col("md")).over(cumW))
      .withColumn("n", count(lit(1)).over(allW))
      .withColumn("total", sum(col("md")).over(allW))
    def pickBest(df: DataFrame, partCols: Seq[String]): DataFrame = {
      val w = Window.partitionBy(partCols.map(col): _*)
        .orderBy(col("shift").desc, col("rn"))
      df.where(col("rn") >= minSeg && col("rn") <= col("n") - minSeg)
        .withColumn("mean_l", col("cum").cast("double") / col("rn"))
        .withColumn("mean_r",
          (col("total") - col("cum")).cast("double") / (col("n") - col("rn")))
        .withColumn("shift", abs(col("mean_l") - col("mean_r")))
        .withColumn("pick", row_number().over(w))
        .where(col("pick") === 1)
    }
    val root = pickBest(base, Seq("event_type"))
      .select(col("event_type"), col("rn").as("s1"), col("d").as("root_d"),
        col("mean_l").as("rml"), col("mean_r").as("rmr"),
        col("shift").as("rshift"), col("n").as("rootn"))
    // level 2: re-rank inside each side of the root split
    val sided = base.join(root.select(col("event_type"), col("s1")),
        "event_type")
      .withColumn("side", when(col("rn") <= col("s1"), lit("left"))
        .otherwise(lit("right")))
    val ord2 = Window.partitionBy(col("event_type"), col("side"))
      .orderBy(col("d"))
    val cum2 = ord2.rowsBetween(Window.unboundedPreceding, 0)
    val all2 = Window.partitionBy(col("event_type"), col("side"))
    val base2 = sided
      .withColumn("rn", row_number().over(ord2))
      .withColumn("cum", sum(col("md")).over(cum2))
      .withColumn("n", count(lit(1)).over(all2))
      .withColumn("total", sum(col("md")).over(all2))
    val sub = pickBest(base2, Seq("event_type", "side"))
      .select(col("event_type"), col("side").as("level"), col("d"),
        col("n"), col("mean_l"), col("mean_r"), col("shift"))
    val rootRow = root.select(col("event_type"), lit("root").as("level"),
      col("root_d").as("d"), col("rootn").as("n"), col("rml").as("mean_l"),
      col("rmr").as("mean_r"), col("rshift").as("shift"))
    rootRow.unionAll(sub)
      .select(col("event_type"), col("level"), col("d").as("split_day"),
        col("n").as("n_days"),
        r6c(col("mean_l")).as("mean_l"), r6c(col("mean_r")).as("mean_r"),
        r6c(col("shift")).as("shift"))
  }

  def binsegTwoLevel(spark: SparkSession, sfDir: String): DataFrame =
    binsegTwoLevel(Tables.events(spark, sfDir))

  /** q273: Holt–Winters additive triple exponential smoothing per series
    * (α=0.4, β=0.2, γ=0.3, weekly period) — the seasonal completion of
    * q251's level+trend Holt: q71/q174 DETECT the weekly rhythm, this
    * TRACKS it as seven smoothed seasonal states and forecasts with it.
    * Same execution shape as q251: the fact-sized work is the one per-day
    * aggregate; the inherently-sequential recursion folds each series'
    * days inside a single higher-order `aggregate`, state = (level,
    * trend, 7 seasonal slots, Σ|err|). Initialization is the textbook
    * two-week start (l₀ = week-1 mean, b₀ = (week-2 mean − week-1
    * mean)/7, sᵢ = xᵢ − l₀), then days 15..T walk the recursion; series
    * with under 14 days emit nothing.
    *
    * Determinism: every state component is snapped to 1e-12 after every
    * step, and the fixed-order init sums are written as one literal
    * expression — the oracle replays the identical walk as a recursive
    * CTE carrying s0..s6 as columns.
    */
  def holtWinters(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val arr = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
        .as("xs"))
      .where(size(col("xs")) >= 14)
    def s12(e: String) = s"round(($e)*1e12)/1e12"
    val m = (i: Int) => s"element_at(xs, $i)"
    val w1 = s"((((((${m(1)}+${m(2)})+${m(3)})+${m(4)})+${m(5)})+${m(6)})+${m(7)})/7.0"
    val w2 = s"((((((${m(8)}+${m(9)})+${m(10)})+${m(11)})+${m(12)})+${m(13)})+${m(14)})/7.0"
    val init =
      s"""named_struct(
         |  'l', ${s12(w1)},
         |  'b', ${s12(s"(${s12(w2)} - ${s12(w1)})/7.0")},
         |  's', transform(slice(xs, 1, 7), x -> ${s12(s"x - ${s12(w1)}")}),
         |  'i', CAST(14 AS INT),
         |  'sae', CAST(0.0 AS DOUBLE))""".stripMargin
    // one recursion step; acc.i is the 1-based position of the LAST
    // consumed day, so the incoming day's seasonal slot is acc.i % 7
    val step =
      s"""(acc, x) -> named_struct(
         |  'l', ${s12("0.4*(x - element_at(acc.s, acc.i % 7 + 1)) + 0.6*(acc.l + acc.b)")},
         |  'b', ${s12(s"0.2*(${s12("0.4*(x - element_at(acc.s, acc.i % 7 + 1)) + 0.6*(acc.l + acc.b)")} - acc.l) + 0.8*acc.b")},
         |  's', transform(acc.s, (v, j) -> IF(j = acc.i % 7,
         |    ${s12(s"0.3*(x - ${s12("0.4*(x - element_at(acc.s, acc.i % 7 + 1)) + 0.6*(acc.l + acc.b)")}) + 0.7*v")}, v)),
         |  'i', acc.i + 1,
         |  'sae', acc.sae + ${s12("abs(x - (acc.l + acc.b + element_at(acc.s, acc.i % 7 + 1)))")})""".stripMargin
    arr
      .withColumn("st", expr(
        s"aggregate(slice(xs, 15, greatest(size(xs) - 14, 0)), $init, $step)"))
      .select(col("event_type"),
        size(col("xs")).cast("bigint").as("n_days"),
        r6c(col("st.l")).as("level"),
        r6c(col("st.b")).as("trend"),
        // next day's forecast: l + b + the upcoming weekday's seasonal
        r6c(col("st.l") + col("st.b")
          + expr("element_at(st.s, st.i % 7 + 1)")).as("forecast_1"),
        r6c(expr("array_max(st.s) - array_min(st.s)")).as("s_amplitude"),
        r6c(when(size(col("xs")) > 14,
          col("st.sae") / (size(col("xs")) - 14).cast("double"))
          .otherwise(lit(0.0))).as("mae"))
  }

  def holtWinters(spark: SparkSession, sfDir: String): DataFrame =
    holtWinters(Tables.events(spark, sfDir))

  /** q320: exact inter-arrival gap percentiles per series — P50/P90/P99 of
    * consecutive-event gaps through the count-and-locate quantile engine
    * (gaps collapse to a few thousand distinct second values, so the
    * distinct-compression does the work). The tail view q102's CV and
    * q294's ACF summarize away: P99/P50 is the "how bad is a bad gap"
    * ratio that pages people.
    */
  def gapPercentiles(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("g", (epochS(col("ts"))
        - lag(epochS(col("ts")), 1).over(w)).cast("double"))
      .where(col("g").isNotNull)
      .select(col("event_type"), col("g"))
    val qv = Percentiles.exactQuantiles(gaps, "event_type", "g",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
    val n = gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
    qv.groupBy(col("event_type"))
      .agg(
        round(min(when(col("qname") === "p50", col("qv"))), 4).as("p50_sec"),
        round(min(when(col("qname") === "p90", col("qv"))), 4).as("p90_sec"),
        round(min(when(col("qname") === "p99", col("qv"))), 4).as("p99_sec"))
      .join(n, "event_type")
  }

  def gapPercentiles(spark: SparkSession, sfDir: String): DataFrame =
    gapPercentiles(Tables.events(spark, sfDir))

  /** q324: mean time between anomalies per series — 3σ points (the q41
    * flag, division-free cross-multiplied predicate) reduced to the
    * operational number on-call actually plans around: MTBA, the longest
    * quiet stretch, and the anomaly count. Flags come from one
    * moment-aggregate broadcast back; gaps between consecutive flagged
    * points are one lag window over the FLAGGED subset only.
    */
  def anomalyMtbf(events: DataFrame): DataFrame = {
    val stats = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(28,12)")).cast("double").as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,8)"))
        .cast("double").as("s2"))
    val flagged = events.join(broadcast(stats), "event_type")
      // |x·n − s1| > 3·sqrt(n·s2 − s1²)·sqrt(n) ⇔ |x − μ| > 3σ (n-scaled,
      // division-free: both sides nonneg so the square compare is exact)
      .where((col("value") * col("n") - col("s1"))
        * (col("value") * col("n") - col("s1"))
        > lit(9.0) * (col("n") * col("s2") - col("s1") * col("s1")))
      .select(col("event_type"), epochS(col("ts")).as("e"), col("event_id"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("e"), col("event_id"))
    val gaps = flagged
      .withColumn("g", col("e") - lag(col("e"), 1).over(w))
      .where(col("g").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"), max(col("g")).as("max_quiet_sec"))
      .select(col("event_type"),
        (col("n_gaps") + 1).as("n_anomalies"),
        (round(col("sg").cast("double") / col("n_gaps").cast("double")
          * lit(100)) / lit(100.0)).as("mtba_sec"),
        col("max_quiet_sec"))
  }

  def anomalyMtbf(spark: SparkSession, sfDir: String): DataFrame =
    anomalyMtbf(Tables.events(spark, sfDir))

  /** q316: Sarle's bimodality coefficient per series — b = (g₁² + 1)/g₂
    * from the sample skewness and (non-excess) kurtosis of raw values;
    * b > 0.555 (the uniform's value) flags likely bimodality. The cheap
    * one-pass screen for "this sensor is actually two regimes" that
    * q111/q265's changepoint machinery then localizes in time. All four
    * raw moments from ONE map-side-combinable aggregate with exact
    * decimal sums; the moment algebra is one final IEEE expression.
    */
  def bimodality(events: DataFrame): DataFrame = {
    val m = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(28,12)")).cast("double").as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,8)"))
        .cast("double").as("s2"),
      sum((col("value") * col("value") * col("value"))
        .cast("decimal(38,6)")).cast("double").as("s3"),
      sum((col("value") * col("value") * col("value") * col("value"))
        .cast("decimal(38,4)")).cast("double").as("s4"))
    m.withColumn("nn", col("n").cast("double"))
      .withColumn("mu", col("s1") / col("nn"))
      .withColumn("m2", col("s2") / col("nn") - col("mu") * col("mu"))
      .withColumn("m3", col("s3") / col("nn")
        - lit(3.0) * col("mu") * col("s2") / col("nn")
        + lit(2.0) * col("mu") * col("mu") * col("mu"))
      .withColumn("m4", col("s4") / col("nn")
        - lit(4.0) * col("mu") * col("s3") / col("nn")
        + lit(6.0) * col("mu") * col("mu") * col("s2") / col("nn")
        - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
      .where(col("m2") > 0)
      .withColumn("g1", col("m3") / sqrt(col("m2") * col("m2") * col("m2")))
      .withColumn("g2", col("m4") / (col("m2") * col("m2")))
      .select(col("event_type"), col("n"),
        r6c(col("g1")).as("skewness"),
        r6c(col("g2")).as("kurtosis"),
        r6c((col("g1") * col("g1") + lit(1.0)) / col("g2")).as("bimodality"),
        (round((col("g1") * col("g1") + lit(1.0)) / col("g2") * lit(1000000))
          / lit(1000000.0) > 0.555).as("likely_bimodal"))
  }

  def bimodality(spark: SparkSession, sfDir: String): DataFrame =
    bimodality(Tables.events(spark, sfDir))

  /** q317: ADF(0) unit-root test per series — Δx_t regressed on x_{t−1}
    * with intercept over the daily means; the Dickey–Fuller t-statistic
    * on β̂ answers "does this series mean-revert or wander", the
    * complement of q288's KPSS (ADF null = unit root, KPSS null =
    * stationary; the 2×2 of their verdicts is the standard diagnosis
    * grid). One lag window on the bounded daily table, five decimal
    * moment sums, closed-form OLS + t in one expression; flag at the 5%
    * critical value −2.86.
    */
  def adfTest(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val pairs = daily
      .withColumn("xl", lag(col("m"), 1).over(w))
      .where(col("xl").isNotNull)
      .withColumn("dx", round((col("m") - col("xl")) * lit(1e12)) / lit(1e12))
    val m = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("xl").cast("decimal(38,12)")).cast("double").as("sx"),
      sum(col("dx").cast("decimal(38,12)")).cast("double").as("sy"),
      sum((col("xl") * col("xl")).cast("decimal(38,10)"))
        .cast("double").as("sxx"),
      sum((col("xl") * col("dx")).cast("decimal(38,10)"))
        .cast("double").as("sxy"),
      sum((col("dx") * col("dx")).cast("decimal(38,10)"))
        .cast("double").as("syy"))
    m.where(col("n") > 2)
      .withColumn("nn", col("n").cast("double"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("nn"))
      .where(col("vx") > 0)
      .withColumn("beta",
        (col("sxy") - col("sx") * col("sy") / col("nn")) / col("vx"))
      .withColumn("alpha", col("sy") / col("nn")
        - col("beta") * col("sx") / col("nn"))
      .withColumn("sse", col("syy")
        - col("alpha") * col("sy")
        - col("beta") * col("sxy"))
      .withColumn("tstat", col("beta")
        / sqrt(greatest(col("sse"), lit(0.0)) / (col("nn") - 2) / col("vx")))
      .select(col("event_type"), col("n").as("n_days"),
        r6c(col("beta")).as("beta"),
        r6c(col("tstat")).as("adf_t"),
        (round(col("tstat") * lit(1000000)) / lit(1000000.0) < -2.86)
          .as("mean_reverting"))
  }

  def adfTest(spark: SparkSession, sfDir: String): DataFrame =
    adfTest(Tables.events(spark, sfDir))

  /** q318: damped-trend Holt (φ=0.9) per series — the smoother the M-series
    * forecasting competitions crowned: q251's linear trend extrapolates
    * forever, the damped variant geometrically flattens it (the 7-day
    * forecast uses Σφⁱ·b), which is why it wins at horizon. Identical
    * execution shape to q251 — ONE higher-order aggregate fold, state
    * (l, b, Σ|err|), 1e-12 snaps — with φ folded into every recursion
    * term; the recursive-CTE oracle replays the walk.
    */
  def holtDamped(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val arr = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
        .as("xs"))
      .where(size(col("xs")) >= 2)
    // phi-damped recursion: l = .5x + .5(l + φb); b = .3(l'−l) + .7φb
    arr
      .withColumn("st", expr(
        """aggregate(
          |  slice(xs, 3, greatest(size(xs) - 2, 0)),
          |  named_struct(
          |    'l', element_at(xs, 2),
          |    'b', element_at(xs, 2) - element_at(xs, 1),
          |    'sae', CAST(0.0 AS DOUBLE)),
          |  (acc, x) -> named_struct(
          |    'l', round((0.5*x + 0.5*(acc.l + 0.9*acc.b))*1e12)/1e12,
          |    'b', round((0.3*(round((0.5*x + 0.5*(acc.l + 0.9*acc.b))*1e12)/1e12
          |           - acc.l) + 0.7*0.9*acc.b)*1e12)/1e12,
          |    'sae', acc.sae + round(abs(x - (acc.l + 0.9*acc.b))*1e12)/1e12))
          |""".stripMargin))
      .select(col("event_type"),
        size(col("xs")).cast("bigint").as("n_days"),
        r6c(col("st.l")).as("level"),
        r6c(col("st.b")).as("trend"),
        // sum_{i=1..7} 0.9^i = 0.9(1−0.9⁷)/0.1, the power written as
        // explicit left-assoc multiplications so both engines constant-fold
        // the identical IEEE value (pow() could differ in the last ulp)
        r6c(col("st.l")
          + lit(0.9 * (1.0 - 0.9 * 0.9 * 0.9 * 0.9 * 0.9 * 0.9 * 0.9) / 0.1)
            * col("st.b"))
          .as("forecast_7d"),
        r6c(when(size(col("xs")) > 2,
          col("st.sae") / (size(col("xs")) - 2).cast("double"))
          .otherwise(lit(0.0))).as("mae"))
  }

  def holtDamped(spark: SparkSession, sfDir: String): DataFrame =
    holtDamped(Tables.events(spark, sfDir))

  /** q333: MASE baseline duel per series — MAE of the seasonal-naive
    * (x̂ₜ = xₜ₋₇) against the plain naive (x̂ₜ = xₜ₋₁) forecast over the
    * SAME evaluation rows, their ratio being the scaled error every
    * forecast paper normalizes by: mase < 1 ⇒ the weekly rhythm carries
    * real signal (the decision input for q273-vs-q251 model choice).
    * Two lag windows on the bounded daily table; absolute errors
    * 1e-12-snapped, exact decimal means.
    */
  def maseBaselines(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val e = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("l1", lag(col("m"), 1).over(w))
      .withColumn("l7", lag(col("m"), 7).over(w))
      .where(col("rn") > 7)
      .withColumn("e1", round(abs(col("m") - col("l1")) * lit(1e12)) / lit(1e12))
      .withColumn("e7", round(abs(col("m") - col("l7")) * lit(1e12)) / lit(1e12))
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(col("e1").cast("decimal(38,12)")).cast("double").as("s1"),
        sum(col("e7").cast("decimal(38,12)")).cast("double").as("s7"))
      .where(col("s1") > 0)
      .select(col("event_type"), col("n_eval"),
        r6c(col("s1") / col("n_eval")).as("mae_naive"),
        r6c(col("s7") / col("n_eval")).as("mae_seasonal"),
        r6c(col("s7") / col("s1")).as("mase"),
        (round(col("s7") / col("s1") * lit(1000000)) / lit(1000000.0)
          < 1.0).as("weekly_signal"))
  }

  def maseBaselines(spark: SparkSession, sfDir: String): DataFrame =
    maseBaselines(Tables.events(spark, sfDir))

  /** q319: Croston's method for intermittent demand — the forecasting
    * standard for sparse series (most part-level retail demand), which
    * plain smoothing butchers: separately smooth the nonzero demand SIZES
    * (z) and the INTERVALS between them (p), both at α=0.2; the demand
    * rate forecast is z/p. Runs on the 10 highest-volume parts
    * (deterministic top-k, broadcast): per part the (day, qty) demand
    * events fold through ONE higher-order aggregate starting at the 2nd
    * event (z₀ = first size, p₀ = first interval), every state snapped to
    * 1e-12 — the recursive-CTE oracle replays per part. Parts with one
    * demand day drop.
    */
  def croston(spark: SparkSession, sfDir: String): DataFrame = {
    val demands = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400L).as("day"),
        col("l_quantity").cast("decimal(18,2)").as("q"))
    val top = demands.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("nl"))
      .orderBy(col("nl").desc, col("l_partkey")).limit(10)
      .select(col("l_partkey"))
    val daily = demands.join(broadcast(top), "l_partkey")
      .groupBy(col("l_partkey"), col("day"))
      .agg(sum(col("q")).cast("double").as("q"))
    val arr = daily.groupBy(col("l_partkey"))
      .agg(expr("array_sort(collect_list(struct(day, q)))").as("ev"))
      .where(size(col("ev")) >= 2)
    def s12(e: String) = s"round(($e)*1e12)/1e12"
    arr
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(ev, 3, greatest(size(ev) - 2, 0)),
           |  named_struct(
           |    'z', ${s12("0.2*element_at(ev, 2).q + 0.8*element_at(ev, 1).q")},
           |    'p', CAST(element_at(ev, 2).day - element_at(ev, 1).day
           |      AS DOUBLE),
           |    'd', element_at(ev, 2).day),
           |  (acc, e) -> named_struct(
           |    'z', ${s12("0.2*e.q + 0.8*acc.z")},
           |    'p', ${s12("0.2*CAST(e.day - acc.d AS DOUBLE) + 0.8*acc.p")},
           |    'd', e.day))
           |""".stripMargin))
      .select(col("l_partkey"),
        size(col("ev")).cast("bigint").as("n_demand_days"),
        r6c(col("st.z")).as("smoothed_size"),
        r6c(col("st.p")).as("smoothed_interval"),
        r6c(col("st.z") / col("st.p")).as("demand_rate"))
  }

  /** q294: lag-1 autocorrelation of inter-arrival gaps per series — the
    * MEMORY dimension of burstiness q102's CV can't see (two streams with
    * identical gap variance differ operationally if long gaps cluster:
    * positive gap-ACF means outages beget outages). Consecutive-gap pairs
    * come from two stacked lag/lead windows on the series-keyed sort
    * (integer seconds end-to-end); Pearson r over the pairs uses exact
    * decimal moment sums, one final IEEE expression.
    */
  def gapAcf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("g", epochS(col("ts"))
        - lag(epochS(col("ts")), 1).over(w))
      .where(col("g").isNotNull)
    val pairs = gaps
      .withColumn("g2", lead(col("g"), 1).over(w))
      .where(col("g2").isNotNull)
    // decimal(38,0) moments: n·Σg² at corpus scale overflows int64
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_pairs"),
        sum(col("g").cast("decimal(38,0)")).as("sx"),
        sum(col("g2").cast("decimal(38,0)")).as("sy"),
        sum((col("g") * col("g")).cast("decimal(38,0)")).as("sxx"),
        sum((col("g2") * col("g2")).cast("decimal(38,0)")).as("syy"),
        sum((col("g") * col("g2")).cast("decimal(38,0)")).as("sxy"))
      .withColumn("den",
        sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
          .cast("double")
          * (col("n_pairs") * col("syy") - col("sy") * col("sy"))
            .cast("double")))
      .where(col("den") > 0)
      .select(col("event_type"), col("n_pairs").cast("bigint").as("n_pairs"),
        r6c((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .cast("double") / col("den")).as("gap_acf1"))
  }

  def gapAcf(spark: SparkSession, sfDir: String): DataFrame =
    gapAcf(Tables.events(spark, sfDir))

  /** q287: 1-D Kalman filter (local-level model, process var q=0.1,
    * observation var r=1.0) per series over daily means — the optimal
    * recursive estimator completing the smoother family: q110's EWMA is a
    * FIXED-gain filter, this one ADAPTS its gain from the tracked state
    * variance (large early when the estimate is uncertain, converging to
    * the steady-state gain), and the innovation stream |m − x̂| is the
    * classic change-detection residual. Same execution shape as q251: the
    * fact-sized work is the per-day aggregate; the inherently-sequential
    * recursion folds each series' days inside ONE higher-order
    * `aggregate`, state = (x, p, k, Σ|innov|), every component snapped to
    * 1e-12 — the recursive-CTE oracle replays the identical walk.
    */
  def kalman1d(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val arr = daily.groupBy(col("event_type"))
      .agg(expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)")
        .as("xs"))
      .where(size(col("xs")) >= 2)
    def s12(e: String) = s"round(($e)*1e12)/1e12"
    val kGain = s12("(acc.p + 0.1)/(acc.p + 1.1)")
    arr
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(xs, 2, size(xs) - 1),
           |  named_struct(
           |    'x', element_at(xs, 1),
           |    'p', CAST(1.0 AS DOUBLE),
           |    'k', CAST(0.0 AS DOUBLE),
           |    'sae', CAST(0.0 AS DOUBLE)),
           |  (acc, m) -> named_struct(
           |    'x', ${s12(s"acc.x + $kGain*(m - acc.x)")},
           |    'p', ${s12(s"(1.0 - $kGain)*(acc.p + 0.1)")},
           |    'k', $kGain,
           |    'sae', acc.sae + ${s12("abs(m - acc.x)")}))
           |""".stripMargin))
      .select(col("event_type"),
        size(col("xs")).cast("bigint").as("n_days"),
        r6c(col("st.x")).as("level"),
        r6c(col("st.p")).as("p_var"),
        r6c(col("st.k")).as("gain"),
        r6c(col("st.sae") / (size(col("xs")) - 1).cast("double"))
          .as("mean_abs_innov"))
  }

  def kalman1d(spark: SparkSession, sfDir: String): DataFrame =
    kalman1d(Tables.events(spark, sfDir))

  /** q288: KPSS level-stationarity statistic per series (Bartlett lag 0):
    * η = Σ S_t² / (n²·σ̂²) over the demeaned daily means' partial sums —
    * the stationarity TEST complementing q224's Mann-Kendall trend
    * detection (KPSS's null is stationarity, so large η ⇒ a unit
    * root/level drift; the two tests disagreeing is the classic "trend
    * stationary" signal). Partial sums are a per-series window over the
    * bounded daily table; demeaned terms are 1e-12-snapped before the
    * cumulative sum so the walk is partition-order-free, and Σ S² uses
    * exact decimal accumulation.
    */
  def kpssLevel(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val stats = daily.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      (round((sum(col("m").cast("decimal(28,16)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("mu"))
    val cx = daily.join(broadcast(stats), "event_type")
      .withColumn("e", (round((col("m") - col("mu")) * lit(1e12)) / lit(1e12)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // partial sums accumulate as exact decimal, then drop to double BEFORE
    // squaring (a decimal×decimal square would hit precision-38 rescaling,
    // where the two engines' truncation rules differ)
    cx.withColumn("s",
        sum(col("e").cast("decimal(28,12)")).over(w).cast("double"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum((col("e") * col("e")).cast("decimal(28,16)"))
          .cast("double").as("ss"),
        sum((col("s") * col("s")).cast("decimal(38,16)"))
          .cast("double").as("cum2"))
      .where(col("ss") > 0)
      .select(col("event_type"), col("n_days"),
        r6c(col("cum2")
          / (col("n_days") * col("n_days")).cast("double")
          / (col("ss") / col("n_days").cast("double"))).as("kpss_eta"))
  }

  def kpssLevel(spark: SparkSession, sfDir: String): DataFrame =
    kpssLevel(Tables.events(spark, sfDir))

  /** q289: 7-day rolling MEDIAN of daily means per series — the
    * outlier-immune smoother beside q03's rolling mean (one wild day
    * drags a mean for a week; the median shrugs it off, which is why SPC
    * dashboards overlay both). The window holds at most 7 values, so the
    * sort is a constant-size array_sort per row — never a quantile
    * aggregate — and the even-count midpoint average matches SQL median
    * interpolation.
    */
  def rollingMedian(events: DataFrame): DataFrame = {
    val daily = dailyMeans(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(-6, 0)
    daily
      .withColumn("win", collect_list(col("m")).over(w))
      .select(col("event_type"), col("d").as("day"),
        size(col("win")).as("n_in_window"),
        r6c(expr(
          """CASE WHEN size(win) % 2 = 1
            |  THEN element_at(array_sort(win), CAST(size(win) div 2 + 1 AS INT))
            |  ELSE (element_at(array_sort(win), CAST(size(win) div 2 AS INT))
            |      + element_at(array_sort(win), CAST(size(win) div 2 + 1 AS INT))) / 2.0
            |END""".stripMargin)).as("med7"))
  }

  def rollingMedian(spark: SparkSession, sfDir: String): DataFrame =
    rollingMedian(Tables.events(spark, sfDir))

  /** q286: behavioural nearest neighbour by hour-of-day profile — each
    * series reduced to its 24-bin activity-share vector (q51's heatmap
    * marginal, volume-normalized so shape is compared, not size), then
    * the closest other series by L2 over the shares. The "which sensors
    * behave alike" primer for grouping assets into shared models.
    * Profiles are |series|×24 rows; the pair join is |series|²×24 —
    * bounded by the series vocabulary, never by event volume. Shares are
    * exact integer ratios; squared gaps decimal-snapped before summing.
    */
  def profileNeighbors(events: DataFrame): DataFrame = {
    val prof = events
      .select(col("event_type"),
        ((unix_timestamp(col("ts")) % 86400L) / 3600L).cast("int").as("hod"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"))
    val tot = prof.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    val shares = prof.join(tot, "event_type")
      .select(col("event_type"), col("hod"),
        (col("n").cast("double") / col("nt").cast("double")).as("s"))
    val d2 = shares.toDF("type_a", "hod", "sa")
      .join(shares.toDF("type_b", "hod", "sb"), "hod")
      .where(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(((col("sa") - col("sb")) * (col("sa") - col("sb")))
        .cast("decimal(28,16)")).cast("double").as("d2"))
    val w = Window.partitionBy(col("type_a"))
      .orderBy(col("d2"), col("type_b"))
    d2.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("type_a").as("event_type"),
        col("type_b").as("nearest_type"),
        (round(sqrt(col("d2")) * lit(1000000)) / lit(1000000.0))
          .as("l2_dist"))
  }

  def profileNeighbors(spark: SparkSession, sfDir: String): DataFrame =
    profileNeighbors(Tables.events(spark, sfDir))

  /** q348: Taylor's power law fit per series — regress ln(daily variance)
    * on ln(daily mean) across days. The mean–variance scaling exponent is
    * the classic aggregation-theory fingerprint (Taylor 1961; b≈1 Poisson
    * counts, b≈2 multiplicative/clumped processes) and the practical
    * answer to "which variance stabilizer does this sensor need before
    * z-scoring" (b=2 → log, b=1 → sqrt) — upstream of q41/q116, which
    * assume stabilized input.
    *
    * Scale shape: ONE (series, day)-key map-combinable moment aggregate
    * over the fact scan (the cusumDaily shuffle), then per-series OLS on
    * the bounded day table via exact decimal moment sums of
    * 1e-12-snapped logs — no window anywhere, every stage partitioned by
    * series.
    */
  def taylorLaw(events: DataFrame): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val daily = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("day", floor(col("e") / 86400L))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("s"),
        sum((col("value") * col("value")).cast("decimal(28,6)"))
          .cast("double").as("q"))
      .where(col("n") >= 2)
      .withColumn("m", col("s") / col("n"))
      .withColumn("v",
        (col("q") - col("s") * col("s") / col("n")) / (col("n") - 1))
      .where(col("m") > 0 && col("v") > 0)
      .withColumn("x", s12(log(col("m"))))
      .withColumn("y", s12(log(col("v"))))
    daily.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_days"),
        sum(col("x").cast("decimal(38,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(38,12)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,10)"))
          .cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,10)"))
          .cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,10)"))
          .cast("double").as("syy"))
      .withColumn("nn", col("n_days").cast("double"))
      .withColumn("dx", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("nn") * col("syy") - col("sy") * col("sy"))
      .withColumn("cv", col("nn") * col("sxy") - col("sx") * col("sy"))
      .select(col("event_type"), col("n_days"),
        when(col("dx") > 0,
          (round(col("cv") / col("dx") * lit(1000000)) / lit(1000000.0)))
          .as("taylor_b"),
        when(col("dx") > 0,
          (round((col("sy") - col("cv") / col("dx") * col("sx")) / col("nn")
            * lit(1000000)) / lit(1000000.0))).as("ln_a"),
        when(col("dx") > 0 && col("dy") > 0,
          (round(col("cv") * col("cv") / (col("dx") * col("dy"))
            * lit(1000000)) / lit(1000000.0))).as("r2"))
  }

  def taylorLaw(spark: SparkSession, sfDir: String): DataFrame =
    taylorLaw(Tables.events(spark, sfDir))

  /** q351: temporal semivariogram per series — γ(h) = ½·E[(x(t+h)−x(t))²]
    * of the daily means at lags 1..7 days. The geostatistics structure
    * function: unlike the ACF (q42), it needs no global mean/variance and
    * stays meaningful under trend/nonstationarity, and its sill/nugget
    * shape is the standard diagnostic for "how many days apart are
    * readings still informative" (smoothing-window selection for
    * q03/q252).
    *
    * Scale shape: daily resample ([[cusumDaily]]'s map-combinable shape),
    * then ONE (series, day−h)-keyed equi-join against a 7-row exploded
    * lag spine — day gaps pair correctly (a lag window would slip across
    * holes), fan-out is exactly 7×days, and no window appears at all.
    * Squared differences are 1e-12-snapped into exact decimal sums.
    */
  def semivariogram(events: DataFrame, maxLag: Int = 7): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val daily = cusumDaily(events)
    val a = daily.withColumn("h",
      explode(sequence(lit(1), lit(maxLag))))
    val b = daily.select(col("event_type"), col("day").as("bd"),
      col("x").as("xb"))
    a.join(b, a("event_type") === b("event_type")
        && col("bd") === col("day") - col("h"))
      .withColumn("term", s12((col("x") - col("xb")) * (col("x") - col("xb"))))
      .groupBy(a("event_type"), col("h"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("term").cast("decimal(38,12)")).cast("double").as("sd"))
      .select(a("event_type"), col("h").cast("int").as("h_days"),
        col("n_pairs"),
        (round(lit(0.5) * col("sd") / col("n_pairs") * 1000000)
          / 1000000.0).as("gamma"))
  }

  def semivariogram(spark: SparkSession, sfDir: String): DataFrame =
    semivariogram(Tables.events(spark, sfDir))

  /** q357: von Neumann successive-difference ratio per series — η =
    * MSSD/s² over the day-ordered daily means (η≈2 white noise, η≪2
    * trend/positive drift, η≫2 oscillation), with a three-way verdict at
    * the ±0.2 band. The one-number "is this series trend-dominated or
    * alternating" classifier: q194 runs Durbin–Watson on REGRESSION
    * residuals, this is the raw-series sibling that needs no fit at all,
    * and unlike q42's ACF it has a calibrated null value (2) to compare
    * against.
    *
    * Scale shape: daily resample + one series-PARTITIONED lag window +
    * one map-combinable moment aggregate; squared differences are
    * 1e-12-snapped into exact decimal sums.
    */
  def vonNeumann(events: DataFrame): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val daily = cusumDaily(events)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("x"), 1).over(w))
      .withColumn("dd", when(col("prev").isNotNull,
        s12((col("x") - col("prev")) * (col("x") - col("prev")))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("s"),
        sum((col("x") * col("x")).cast("decimal(38,10)"))
          .cast("double").as("q"),
        count(col("dd")).as("nd"),
        sum(col("dd").cast("decimal(38,12)")).cast("double").as("sd2"))
      // ANSI-safe: a 1-day series has no variance dof and no diffs —
      // NULL out instead of dividing by zero (guards are vacuous on any
      // multi-day series, so oracle parity is untouched)
      .withColumn("v", when(col("n_days") > 1,
        (col("q") - col("s") * col("s") / col("n_days"))
          / (col("n_days") - 1)))
      .withColumn("m", when(col("nd") > 0, col("sd2") / col("nd")))
      .select(col("event_type"), col("n_days"),
        (round(col("m") * 1000000) / 1000000.0).as("mssd"),
        (round(col("v") * 1000000) / 1000000.0).as("variance"),
        when(col("v") > 0, round(col("m") / col("v") * 1000000) / 1000000.0)
          .as("vn_ratio"),
        when(col("v") > 0,
          when(col("m") / col("v") < 1.8, "trending")
            .when(col("m") / col("v") > 2.2, "oscillating")
            .otherwise("noise-like")).as("verdict"))
  }

  def vonNeumann(spark: SparkSession, sfDir: String): DataFrame =
    vonNeumann(Tables.events(spark, sfDir))

  /** q363: calendar explainability R² per series — variance explained by
    * the additive weekday+hour profile x̂ = m_dow + m_hour − m̄ (two-way
    * means model, no interaction). The one number that says whether a
    * sensor is "a calendar pattern plus noise" (R²→1: model it with
    * q71/q51 profiles and alert on residuals) or genuinely dynamic
    * (R²→0: it needs the q110/q287 state trackers). Closed-form — no
    * iterative fit.
    *
    * Scale shape: three map-combinable aggregates (grand, 7-row dow
    * profile, 24-row hour profile per series), the two tiny profiles
    * broadcast back onto ONE more fact scan for the residual sum.
    * Residual squares are 1e-12-snapped into exact decimal sums.
    */
  def calendarR2(events: DataFrame): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("dow", pmod(floor(col("e") / 86400L) + 4, lit(7)).cast("int"))
      .withColumn("hr", pmod(floor(col("e") / 3600L), lit(24)).cast("int"))
    val grand = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).as("q"))
      .withColumn("gm", col("s").cast("double") / col("n"))
      .withColumn("sst", col("q").cast("double")
        - col("s").cast("double") * col("s").cast("double") / col("n"))
    val dowm = ev.groupBy(col("event_type"), col("dow"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("md"))
    val hrm = ev.groupBy(col("event_type"), col("hr"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("mh"))
    val sse = ev
      .join(broadcast(dowm), Seq("event_type", "dow"))
      .join(broadcast(hrm), Seq("event_type", "hr"))
      .join(broadcast(grand.select(col("event_type"), col("gm"))),
        "event_type")
      .withColumn("res",
        col("value") - (col("md") + col("mh") - col("gm")))
      .withColumn("r2t", s12(col("res") * col("res")))
      .groupBy(col("event_type"))
      .agg(sum(col("r2t").cast("decimal(38,12)")).cast("double").as("sse"))
    grand.join(sse, "event_type")
      .select(col("event_type"), col("n").as("n_events"),
        (round(col("sst") * 10000) / 10000.0).as("sst"),
        (round(col("sse") * 10000) / 10000.0).as("sse"),
        when(col("sst") > 0,
          round((lit(1.0) - col("sse") / col("sst")) * 1000000)
            / 1000000.0).as("calendar_r2"))
  }

  def calendarR2(spark: SparkSession, sfDir: String): DataFrame =
    calendarR2(Tables.events(spark, sfDir))

  /** q365: value-precision census per series — how many decimal places
    * each sensor ACTUALLY uses (at the engine's 6-dp canonical
    * resolution), from pure integer arithmetic on round(value·10⁶):
    * trailing-zero runs of the micro-unit image classify a reading as
    * 0..6 decimals. The quantization fingerprint a data-quality pass runs
    * before trusting any variance-based statistic: a "continuous" sensor
    * that suddenly reports integers has a truncated upstream pipeline,
    * and two sources mixing 1-dp and 3-dp readings will ghost-step every
    * histogram (q34/q95). No float comparisons anywhere — portable by
    * construction.
    *
    * Scale shape: one map-side integer classification + a ≤ 7-key-per-
    * series map-combinable census with a broadcast per-series total.
    */
  def valuePrecision(events: DataFrame): DataFrame = {
    val m = events.select(col("event_type"),
        round(col("value") * 1000000).cast("long").as("mi"))
      .withColumn("decimals",
        when(pmod(col("mi"), lit(1000000L)) === 0, 0)
          .when(pmod(col("mi"), lit(100000L)) === 0, 1)
          .when(pmod(col("mi"), lit(10000L)) === 0, 2)
          .when(pmod(col("mi"), lit(1000L)) === 0, 3)
          .when(pmod(col("mi"), lit(100L)) === 0, 4)
          .when(pmod(col("mi"), lit(10L)) === 0, 5)
          .otherwise(6).cast("int"))
    val g = m.groupBy(col("event_type"), col("decimals"))
      .agg(count(lit(1)).as("n"))
    val tot = g.groupBy(col("event_type")).agg(sum(col("n")).as("n_total"))
    g.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("decimals"), col("n"),
        (round(col("n").cast("double") / col("n_total") * 1000000)
          / 1000000.0).as("share"))
  }

  def valuePrecision(spark: SparkSession, sfDir: String): DataFrame =
    valuePrecision(Tables.events(spark, sfDir))

  /** Median over BOUNDED partitions (≤ a few hundred rows by construction)
    * as avg-of-middle-order-statistics — the windows here are safe because
    * the partition sizes are fixed small (7/24/168 cells), never data-
    * scale. The even-n middle pair averages via sum/2 (commutative, so
    * scan order can't flip a bit).
    */
  private def boundedMedian(df: DataFrame, keys: Seq[String], v: String,
                            out: String): DataFrame = {
    val pw = Window.partitionBy(keys.map(col): _*)
    val w = pw.orderBy(col(v))
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(pw))
      .where(col("__rn") === expr("(__cnt + 1) div 2")
        || col("__rn") === expr("(__cnt + 2) div 2"))
      .groupBy(keys.map(col): _*)
      .agg((sum(col(v)) / count(lit(1))).as(out))
  }

  /** q370: Tukey median polish of the weekday × hour grid per series —
    * two full row/column sweeps of median subtraction, reporting the
    * overall effect, row/column effect ranges, residual MAD, and the
    * largest absolute residual. The ROBUST twin of q363's two-way means
    * model: means-based calendar fits let one stuck-sensor day drag a
    * whole weekday effect; median polish bounds any cell's influence, so
    * its residuals locate calendar-adjusted anomalies even when the
    * calendar profile itself is contaminated (Tukey 1977, EDA ch. 11).
    *
    * Scale shape: the grid is ≤168 cells per series (one map-combinable
    * aggregate), and every median runs on a 7- or 24-cell bounded
    * partition — the whole polish is window arithmetic on a
    * series-keyed, fixed-size table; data volume only affects the first
    * aggregate.
    */
  def medianPolish(events: DataFrame, iters: Int = 2): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("dow", pmod(floor(col("e") / 86400L) + 4, lit(7)).cast("int"))
      .withColumn("hr", pmod(floor(col("e") / 3600L), lit(24)).cast("int"))
    // the ≤168-cells-per-series grid is pinned once, and each sweep's
    // updated grid is pinned too: every boundedMedian references its input
    // twice (median + the subtraction join), so a lazy chain re-executes
    // the corpus-sized first aggregate 2^sweeps times — checkpointing the
    // tiny grid makes each sweep two bounded window jobs instead
    var resid = ev.groupBy(col("event_type"), col("dow"), col("hr"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("r"))
      .transform(Materialize.state(_))
    var rowEff: DataFrame = null
    var colEff: DataFrame = null
    for (_ <- 1 to iters) {
      val rm = boundedMedian(resid, Seq("event_type", "dow"), "r", "rm")
      resid = resid.join(rm, Seq("event_type", "dow"))
        .withColumn("r", col("r") - col("rm")).drop("rm")
        .transform(Materialize.state(_))
      rowEff = if (rowEff == null) rm.withColumnRenamed("rm", "re")
        else rowEff.join(rm, Seq("event_type", "dow"))
          .withColumn("re", col("re") + col("rm")).drop("rm")
      val cm = boundedMedian(resid, Seq("event_type", "hr"), "r", "cm")
      resid = resid.join(cm, Seq("event_type", "hr"))
        .withColumn("r", col("r") - col("cm")).drop("cm")
        .transform(Materialize.state(_))
      colEff = if (colEff == null) cm.withColumnRenamed("cm", "ce")
        else colEff.join(cm, Seq("event_type", "hr"))
          .withColumn("ce", col("ce") + col("cm")).drop("cm")
    }
    val ov = boundedMedian(rowEff, Seq("event_type"), "re", "ov")
    val rRange = rowEff.groupBy(col("event_type"))
      .agg((max(col("re")) - min(col("re"))).as("row_range"))
    val cRange = colEff.groupBy(col("event_type"))
      .agg((max(col("ce")) - min(col("ce"))).as("col_range"))
    val mad = boundedMedian(resid.withColumn("ar", abs(col("r"))),
      Seq("event_type"), "ar", "mad")
    val mx = resid.groupBy(col("event_type"))
      .agg(max(abs(col("r"))).as("max_resid"))
    ov.join(rRange, "event_type").join(cRange, "event_type")
      .join(mad, "event_type").join(mx, "event_type")
      .select(col("event_type"),
        (round(col("ov") * 1000000) / 1000000.0).as("overall_effect"),
        (round(col("row_range") * 1000000) / 1000000.0).as("dow_range"),
        (round(col("col_range") * 1000000) / 1000000.0).as("hour_range"),
        (round(col("mad") * 1000000) / 1000000.0).as("resid_mad"),
        (round(col("max_resid") * 1000000) / 1000000.0).as("max_resid"))
  }

  def medianPolish(spark: SparkSession, sfDir: String): DataFrame =
    medianPolish(Tables.events(spark, sfDir))

  /** q371: autocorrelation memory half-life per series — the full ACF at
    * day lags 1..14 on the daily means, summarized as the FIRST lag where
    * ACF drops below ½ (NULL = memory longer than two weeks). The one
    * number that sets lookback windows across the engine: rolling-mean
    * width (q03), drift-detector reference span (q128/q139), and how many
    * lagged features an AR forecast (ml_ar_forecast) can usefully take.
    * q42 reports lag-1 only; the half-life needs the decay CURVE.
    *
    * Scale shape: daily resample, one (series, day−h) equi-join against
    * a 14-row lag spine (gap-correct, no window), per-series decimal
    * moment sums; the 14-row-per-series ACF table reduces to the scalar.
    */
  def acfHalfLife(events: DataFrame, maxLag: Int = 14): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val daily = cusumDaily(events)
    val mom = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("s"),
        sum((col("x") * col("x")).cast("decimal(38,10)"))
          .cast("double").as("q"))
      .withColumn("mu", col("s") / col("n"))
      .withColumn("den", col("q") - col("s") * col("s") / col("n"))
    val a = daily.withColumn("h", explode(sequence(lit(1), lit(maxLag))))
      .select(col("event_type").as("et"), col("day"), col("x"), col("h"))
    val b = daily.select(col("event_type").as("bt"), col("day").as("bd"),
      col("x").as("xb"))
    val acf = a
      .join(b, col("et") === col("bt")
        && col("bd") === col("day") - col("h"))
      .join(broadcast(mom.select(col("event_type").as("mt"), col("mu"))),
        col("et") === col("mt"))
      .withColumn("t", s12((col("x") - col("mu")) * (col("xb") - col("mu"))))
      .groupBy(col("et"), col("h"))
      .agg(sum(col("t").cast("decimal(38,12)")).cast("double").as("num"))
      .join(broadcast(mom.select(col("event_type").as("et"), col("den"))),
        "et")
      .withColumn("acf", col("num") / col("den"))
    acf.groupBy(col("et").as("event_type"))
      .agg(min(when(col("acf") < 0.5, col("h"))).as("half_life_days"),
        max(when(col("h") === 1,
          round(col("acf") * 1000000) / 1000000.0)).as("acf_1"),
        max(when(col("h") === 7,
          round(col("acf") * 1000000) / 1000000.0)).as("acf_7"),
        max(when(col("h") === 14,
          round(col("acf") * 1000000) / 1000000.0)).as("acf_14"))
  }

  def acfHalfLife(spark: SparkSession, sfDir: String): DataFrame =
    acfHalfLife(Tables.events(spark, sfDir))

  /** q411: permutation entropy (Bandt–Pompe, order m=3) per series — the
    * model-free complexity measure that separates "noisy but structured"
    * from "effectively random" sensor streams, complementing q245's symbol
    * entropy rate (which needs a value discretization; order patterns need
    * none) and q181's runs test (which sees only up/down, not the full
    * triple ordering). Each gap-free triple of consecutive daily means is
    * encoded by its comparison pattern — code = 4·[x₀<x₁] + 2·[x₁<x₂] +
    * [x₀<x₂], ties → 0, so the code is pure exact-double comparison with
    * no trig, ranks, or float accumulation — and H = −Σ p·ln p over the
    * ≤7 realizable codes, normalized by ln 6 (the 6 strict orderings).
    *
    * Scale posture: the only row-level work is the daily aggregate (one
    * map-side-combining shuffle of the scan); the windows, codes, and
    * entropy all run on the days-per-series table, bounded by time span —
    * corpus-size-independent after the reduce, like q201/q202.
    */
  def permutationEntropy(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val coded = dailyMeans(events)
      .withColumn("d1", lead(col("d"), 1).over(w))
      .withColumn("d2", lead(col("d"), 2).over(w))
      .withColumn("x1", lead(col("m"), 1).over(w))
      .withColumn("x2", lead(col("m"), 2).over(w))
      .where(col("d1") === col("d") + 1 && col("d2") === col("d") + 2)
      .withColumn("code",
        when(col("m") < col("x1"), 4L).otherwise(0L)
          + when(col("x1") < col("x2"), 2L).otherwise(0L)
          + when(col("m") < col("x2"), 1L).otherwise(0L))
    val pat = coded.groupBy(col("event_type"), col("code"))
      .agg(count(lit(1)).as("c"))
    val tot = pat.groupBy(col("event_type"))
      .agg(sum(col("c")).as("nw"), count(lit(1)).as("n_patterns"))
    pat.join(tot, "event_type")
      .withColumn("p", col("c").cast("double") / col("nw"))
      .withColumn("term", (-col("p") * log(col("p"))).cast("decimal(18,10)"))
      .groupBy(col("event_type"))
      .agg(max(col("nw")).as("n_windows"),
        max(col("n_patterns")).as("n_patterns"),
        sum(col("term")).cast("double").as("h"))
      .select(col("event_type"), col("n_windows"), col("n_patterns"),
        (round(col("h") * 10000) / 10000.0).as("h"),
        (round(col("h") / lit(math.log(6.0)) * 10000) / 10000.0)
          .as("h_norm"))
  }

  def permutationEntropy(spark: SparkSession, sfDir: String): DataFrame =
    permutationEntropy(Tables.events(spark, sfDir))

  /** q415: Hampel-filter census per user series — the standard sensor
    * despiking rule (rolling median ± 3·1.4826·rolling-MAD over a centered
    * 11-point window) that q289's rolling median is usually deployed
    * inside: the MAD-scaled fence adapts to local noise level where q41's
    * global z-score drowns in regime changes and q261's global fences
    * can't see a spike inside a high-baseline regime. Reported as a per-series
    * census (points, flags, flag rate, worst deviation-to-fence ratio) —
    * the "how dirty is each device's stream" table a cleaning pass is
    * driven by.
    *
    * Window median and window MAD are per-row ARRAY arithmetic on the
    * collected 11-point frame (the q289 idiom — exact, no approximate
    * percentile), so the whole operator is one bounded-frame window pass:
    * partition-parallel by series, no shuffle beyond the window sort,
    * cost independent of total series count. MAD = 0 windows (≥6 equal
    * values) make the fence zero — any nonzero deviation flags, the
    * documented Hampel degenerate-case convention.
    */
  def hampelCensus(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-5, 5)
    val medOf = (arr: String) =>
      expr(s"""CASE WHEN size($arr) % 2 = 1
        |  THEN element_at(array_sort($arr), CAST(size($arr) div 2 + 1 AS INT))
        |  ELSE (element_at(array_sort($arr), CAST(size($arr) div 2 AS INT))
        |      + element_at(array_sort($arr), CAST(size($arr) div 2 + 1 AS INT))) / 2.0
        |END""".stripMargin)
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("win", collect_list(col("value")).over(w))
      .withColumn("med", medOf("win"))
      .withColumn("dwin", expr("transform(win, x -> abs(x - med))"))
      .withColumn("mad", medOf("dwin"))
      .withColumn("dev", abs(col("value") - col("med")))
      .withColumn("fence", lit(3.0) * lit(1.4826) * col("mad"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("dev") > col("fence"), 1L).otherwise(0L))
          .as("n_flagged"),
        max(when(col("fence") > 0, col("dev") / col("fence"))).as("worst"))
      .select(col("user_id"), col("n"), col("n_flagged"),
        (round(col("n_flagged").cast("double") / col("n").cast("double")
          * 1000000) / 1000000.0).as("flag_rate"),
        (round(col("worst") * 10000) / 10000.0).as("worst_ratio"))
  }

  def hampelCensus(spark: SparkSession, sfDir: String): DataFrame =
    hampelCensus(Tables.events(spark, sfDir))

  /** q416: inverse-MAE forecast ensemble per series — the forecast-
    * combination step (Bates & Granger 1969: a weighted blend of simple
    * forecasters is hard to beat) over three baselines the suite already
    * fields individually: naive (last train value), seasonal-naive (7
    * OBSERVATIONS back on the observed-day table — on a gap-free daily
    * series that is "7 days back", q333's strongest baseline, but on a
    * gapped series the lag counts observed rows, not calendar days; this
    * operator deliberately does not gate on day-contiguity the way
    * archLm/permutationEntropy do), and the train mean. Weights
    * ∝ 1/MAE of each model's IN-SAMPLE one-step errors; the blend is then
    * scored on a 7-day holdout against the best single model — the "does
    * combining help" table that decides whether a fleet deploys one
    * forecaster or an ensemble.
    *
    * Everything runs on the per-series daily table (time-span bounded);
    * error terms snap to decimal(28,12) pre-sum, weights are one IEEE
    * expression from the three MAEs (degenerate zero-MAE guarded with a
    * 1e-12 floor, same both engines), holdout length 7 keeps the
    * seasonal-naive source entirely inside the train span.
    */
  def forecastEnsemble(events: DataFrame, holdout: Int = 7): DataFrame = {
    val daily = dailyMeans(events)
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val rn = daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("t", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .where(col("t") >= holdout + 8)
      .withColumn("cut", col("t") - holdout)
      .withColumn("x1", lag(col("m"), 1).over(wOrd))
      .withColumn("x7", lag(col("m"), 7).over(wOrd))
    val trainStats = rn.where(col("rn") <= col("cut"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"),
        (sum(col("m").cast("decimal(28,12)")).cast("double")
          / count(lit(1))).as("mean_tr"),
        max(when(col("rn") === col("cut"), col("m"))).as("last_tr"))
    val inSample = rn.where(col("rn") <= col("cut"))
      .join(broadcast(trainStats), "event_type")
      .groupBy(col("event_type"))
      .agg(
        (sum(when(col("x1").isNotNull,
          abs(col("m") - col("x1")).cast("decimal(28,12)"))).cast("double")
          / sum(when(col("x1").isNotNull, 1L).otherwise(0L)).cast("double"))
          .as("mae_naive"),
        (sum(when(col("x7").isNotNull,
          abs(col("m") - col("x7")).cast("decimal(28,12)"))).cast("double")
          / sum(when(col("x7").isNotNull, 1L).otherwise(0L)).cast("double"))
          .as("mae_snaive"),
        (sum(abs(col("m") - col("mean_tr")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("mae_mean"))
      .withColumn("in_", lit(1.0) / greatest(col("mae_naive"), lit(1e-12)))
      .withColumn("is_", lit(1.0) / greatest(col("mae_snaive"), lit(1e-12)))
      .withColumn("im_", lit(1.0) / greatest(col("mae_mean"), lit(1e-12)))
      .withColumn("isum", col("in_") + col("is_") + col("im_"))
      .withColumn("w_naive", col("in_") / col("isum"))
      .withColumn("w_snaive", col("is_") / col("isum"))
      .withColumn("w_mean", col("im_") / col("isum"))
    val oos = rn.where(col("rn") > col("cut"))
      .join(broadcast(trainStats), "event_type")
      .join(broadcast(inSample.select(col("event_type"), col("w_naive"),
        col("w_snaive"), col("w_mean"))), "event_type")
      .withColumn("blend",
        col("w_naive") * col("last_tr") + col("w_snaive") * col("x7")
          + col("w_mean") * col("mean_tr"))
      .groupBy(col("event_type"))
      .agg(
        (sum(abs(col("m") - col("blend")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("oos_blend"),
        (sum(abs(col("m") - col("last_tr")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("oos_naive"),
        (sum(abs(col("m") - col("x7")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("oos_snaive"),
        (sum(abs(col("m") - col("mean_tr")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("oos_mean"))
    val r6 = (c: org.apache.spark.sql.Column) =>
      round(c * 1000000) / 1000000.0
    inSample.join(oos, "event_type")
      .withColumn("oos_best", least(col("oos_naive"), col("oos_snaive"),
        col("oos_mean")))
      .select(col("event_type"),
        r6(col("mae_naive")).as("mae_naive"),
        r6(col("mae_snaive")).as("mae_snaive"),
        r6(col("mae_mean")).as("mae_mean"),
        r6(col("w_naive")).as("w_naive"),
        r6(col("w_snaive")).as("w_snaive"),
        r6(col("w_mean")).as("w_mean"),
        r6(col("oos_blend")).as("oos_blend_mae"),
        r6(col("oos_best")).as("oos_best_single_mae"),
        (col("oos_blend") < col("oos_best")).as("blend_wins"))
  }

  def forecastEnsemble(spark: SparkSession, sfDir: String): DataFrame =
    forecastEnsemble(Tables.events(spark, sfDir))

  /** q420: Engle's ARCH-LM test per series — volatility clustering, the
    * one time-series pathology the battery doesn't yet screen: q239's
    * Ljung–Box sees autocorrelation in LEVELS, but a series can be
    * level-white while its squared changes are strongly autocorrelated
    * (calm days follow calm days, wild days follow wild days — the GARCH
    * signature that breaks every i.i.d.-residual assumption downstream
    * detectors like q41/q139 lean on). For the one-lag regression the LM
    * statistic n·R² reduces to n·corr(e²_t, e²_{t−1})², exact from one
    * pass of decimal-snapped power sums over gap-free day triples.
    */
  def archLm(events: DataFrame): DataFrame = {
    val s12 = (c: org.apache.spark.sql.Column) =>
      round(c * lit(1e12)) / lit(1e12)
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val sq = dailyMeans(events)
      .withColumn("dp", lag(col("d"), 1).over(w))
      .withColumn("mp", lag(col("m"), 1).over(w))
      .where(col("dp") === col("d") - 1)
      .withColumn("e", col("m") - col("mp"))
      .withColumn("s", col("e") * col("e"))
      .withColumn("ds", col("d"))
    val pairs = sq
      .withColumn("dsp", lag(col("ds"), 1).over(w))
      .withColumn("sp", lag(col("s"), 1).over(w))
      .where(col("dsp") === col("ds") - 1)
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("s").cast("decimal(38,12)")).cast("double").as("sx"),
        sum(col("sp").cast("decimal(38,12)")).cast("double").as("sy"),
        sum((col("s") * col("sp")).cast("decimal(38,10)"))
          .cast("double").as("sxy"),
        sum((col("s") * col("s")).cast("decimal(38,10)"))
          .cast("double").as("sxx"),
        sum((col("sp") * col("sp")).cast("decimal(38,10)"))
          .cast("double").as("syy"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("nn"))
      .withColumn("vy", col("syy") - col("sy") * col("sy") / col("nn"))
      .withColumn("cxy", col("sxy") - col("sx") * col("sy") / col("nn"))
      .withColumn("r",
        when(col("vx") > 0 && col("vy") > 0,
          col("cxy") / sqrt(col("vx") * col("vy"))))
      .select(col("event_type"), col("n").as("n_pairs"),
        s12(col("r")).as("r"),
        (round(col("nn") * col("r") * col("r") * 10000) / 10000.0)
          .as("arch_lm"),
        lit(1).cast("int").as("df"))
  }

  def archLm(spark: SparkSession, sfDir: String): DataFrame =
    archLm(Tables.events(spark, sfDir))
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TimeSeries.{exactAvg, r4}

/** Relational core — the engine must be a real query engine underneath the
  * time-series surface. Shapes chosen to exercise the plans that matter at
  * 100 TB: partial-aggregate groupBy, broadcast star joins, shuffle joins on
  * fact keys, window top-N, semi/anti joins.
  */
object Relational {

  /** Hash-spread a projected fact slice across the session's shuffle width
    * before a decimal-heavy aggregation. The test parquet files are single
    * row groups, so the scan — and the partial aggregation that runs
    * INSIDE the scan stage — is otherwise ONE task (guide §2.5:
    * unsplittable input repartitions right after the read). Width follows
    * spark.sql.shuffle.partitions, so it scales with the session rather
    * than a local constant; on a splittable production layout the scan is
    * already wide and the extra exchange of the projected slice is the
    * bounded cost documented in OPTIMIZATION_r12.md. The width is explicit,
    * so AQE does not coalesce the exchange, and [[Materialize.state]] keeps
    * the hash partitioning of a spread it pins.
    */
  private[ops] def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** q13: pricing summary (TPC-H Q1 shape) — one shuffle, map-side combine.
    * Every SUM is a per-row-snapped DECIMAL sum (round(x·1e10)/1e10 →
    * decimal(38,10)), not a double sum: double accumulation is
    * partition-order-dependent, and at the sf1 rehearsal (6M rows) the
    * drifted ulp crossed a round(·,4) boundary vs the oracle
    * (sum_disc_price …2316.2499 vs …2316.25 — the CORRECTNESS_sf1 catch).
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    def snapSum(c: Column): Column =
      sum((round(c * lit(1e10)) / lit(1e10)).cast("decimal(38,10)")).cast("double")
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(snapSum(col("l_quantity")), 4).as("sum_qty"),
        round(snapSum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(snapSum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(snapSum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        r4(exactAvg(col("l_quantity"))).as("avg_qty"),
        r4(exactAvg(col("l_extendedprice"))).as("avg_price"),
        r4(exactAvg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
  }

  /** q14: revenue per customer, top 10 — fact-fact shuffle join on orderkey,
    * broadcast of the customer dimension, then a global top-N.
    */
  def topRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("rev")), 4).as("revenue"), count(lit(1)).as("n_items"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** q15: revenue rollup by region/nation — star join with every dimension
    * broadcast; the lineitem fact is scanned once with only 3 columns read.
    */
  def regionRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, sfDir).select(col("r_regionkey"), col("r_name"))
    li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      // decimal-snapped revenue sum: the raw double sum is fold-order
      // dependent and flipped a round-4 tie when the partition count
      // changed (round-10 sf1 sweep at 32 partitions vs the 4-partition
      // round-9 artifact) — the exact idiom every later revenue query uses
      .agg((round(sum(col("rev").cast("decimal(28,6)")).cast("double")
        * 10000) / 10000).as("revenue"), count(lit(1)).as("n_items"))
  }

  /** q16: top-3 orders per customer by total price (window top-N). */
  def windowTopN(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"), col("rk"))
  }

  /** q17: customers with at least one order but no high-value (>p) order —
    * left-semi + left-anti join composition.
    */
  def semiAnti(spark: SparkSession, sfDir: String, highValue: Double = 200000.0): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_mktsegment"))
    val o = Tables.orders(spark, sfDir).select(col("o_custkey"), col("o_totalprice"))
    val withOrders = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
    val high = o.filter(col("o_totalprice") > highValue)
    withOrders
      .join(high, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** q34: exact percentiles per group via [[Percentiles.exactQuantiles]] —
    * the two-pass count-and-locate plan. Same R-7 interpolation as Catalyst's
    * `percentile` and DuckDB's quantile_cont, but no task ever buffers a
    * whole group (Catalyst's exact `percentile` holds every value of a group
    * in ONE aggregation buffer — with ~5 event types that's the whole table
    * in 5 tasks at 100×).
    */
  def percentileSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val qv = Percentiles.exactQuantiles(
      ev, "event_type", "value", Seq("p50" -> 0.5, "p90" -> 0.9))
    val n = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    qv.groupBy(col("event_type"))
      .agg(
        round(min(when(col("qname") === "p50", col("qv"))), 4).as("p50"),
        round(min(when(col("qname") === "p90", col("qv"))), 4).as("p90"))
      .join(n, "event_type")
  }

  /** q291: order-to-ship latency percentiles per priority class — the SLA
    * distribution view behind q69's single threshold: P50/P90/P99 of
    * datediff(shipdate, orderdate) per o_orderpriority, through the same
    * count-and-locate exact-quantile engine as q34 (latencies collapse to
    * ~122 distinct day values per group, so the distinct-compression step
    * does nearly all the work; no task ever buffers a group).
    */
  def deliveryPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val lat = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("prio"),
        datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("double").as("lat"))
    val qv = Percentiles.exactQuantiles(lat, "prio", "lat",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
    val n = lat.groupBy(col("prio")).agg(count(lit(1)).as("n_lines"))
    qv.groupBy(col("prio"))
      .agg(
        round(min(when(col("qname") === "p50", col("qv"))), 4).as("p50_days"),
        round(min(when(col("qname") === "p90", col("qv"))), 4).as("p90_days"),
        round(min(when(col("qname") === "p99", col("qv"))), 4).as("p99_days"))
      .join(n, "prio")
  }

  /** q292: stationary distribution of the event-type transition chain —
    * where q67 reports the one-step transition MATRIX, this reports the
    * long-run occupancy π (π = πP) the chain converges to: the "what
    * fraction of a user's journey is spent in each state" number behind
    * capacity planning and funnel-health baselines. Fixed 8 power-iteration
    * rounds from the uniform vector over the |types|² matrix — the state is
    * |types| rows, every round is one broadcast join + one tiny aggregate,
    * and each π component is 1e-12-snapped so the walk is engine-exact.
    * Rows with no outgoing transition never occur (every observed FROM has
    * a TO by construction of the lead window).
    */
  def markovStationary(events: DataFrame, rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
    val outTot = steps.groupBy(col("src")).agg(sum(col("n")).as("tot"))
    val p = steps.join(outTot, "src")
      .select(col("src"), col("dst"),
        (round((col("n").cast("double") / col("tot").cast("double"))
          * lit(1e12)) / lit(1e12)).as("p"))
      .transform(Materialize.state(_))
    val k = p.select(col("src")).distinct().count()
    var pi = p.select(col("src").as("state")).distinct()
      .withColumn("pi", lit(1.0) / lit(k.toDouble))
    for (_ <- 1 to rounds) {
      pi = p.join(pi, col("src") === col("state"))
        .groupBy(col("dst"))
        .agg((round(sum((col("pi") * col("p")).cast("decimal(38,18)"))
          .cast("double") * lit(1e12)) / lit(1e12)).as("pi"))
        .select(col("dst").as("state"), col("pi"))
    }
    pi.select(col("state"),
      (round(col("pi") * lit(1000000)) / lit(1000000.0)).as("pi"))
  }

  def markovStationary(spark: SparkSession, sfDir: String): DataFrame =
    markovStationary(Tables.events(spark, sfDir))

  /** q299: finite-horizon expected steps to reach 'purchase' from each
    * event-type state — q292's chain machinery pointed at the funnel
    * question ("how far is each state from conversion"). Eight rounds of
    * value iteration t(s) = [s ≠ purchase]·(1 + Σ P(s,s')·t(s')) from
    * t₀ = 0, each component 1e-12-snapped; states outside the 8-step
    * horizon (and transitions into dst-only sink states, whose t is 0 by
    * truncation) read as optimistic lower bounds — documented semantics,
    * identical in the unrolled oracle. State space is the event-type
    * vocabulary, so every round is a broadcast-scale join.
    */
  def absorbingTime(events: DataFrame, target: String = "purchase",
                    rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .where(col("nxt").isNotNull)
      .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
    val outTot = steps.groupBy(col("src")).agg(sum(col("n")).as("tot"))
    val p = steps.join(outTot, "src")
      .select(col("src"), col("dst"),
        (round((col("n").cast("double") / col("tot").cast("double"))
          * lit(1e12)) / lit(1e12)).as("p"))
      .transform(Materialize.state(_))
    val states = p.select(col("src").as("state")).distinct()
    var t = states.withColumn("t", lit(0.0))
    for (_ <- 1 to rounds) {
      val inflow = p.join(t, col("dst") === col("state"))
        .groupBy(col("src"))
        .agg((round(sum((col("p") * col("t")).cast("decimal(38,18)"))
          .cast("double") * lit(1e12)) / lit(1e12)).as("et"))
      t = states.join(inflow, col("state") === col("src"), "left")
        .select(col("state"),
          when(col("state") === target, lit(0.0))
            .otherwise(round((lit(1.0) + coalesce(col("et"), lit(0.0)))
              * lit(1e12)) / lit(1e12)).as("t"))
    }
    t.select(col("state"),
      (round(col("t") * lit(1000000)) / lit(1000000.0)).as("exp_steps"))
  }

  def absorbingTime(spark: SparkSession, sfDir: String): DataFrame =
    absorbingTime(Tables.events(spark, sfDir))

  /** q306: Theil-T inequality decomposition of customer revenue BY nation
    * — the inequality index that DECOMPOSES exactly (Gini does not): T =
    * T_between + T_within, so "how much of revenue inequality is
    * between-market vs within-market" is one query. Additive shape: one
    * per-customer aggregate, global and per-nation means as broadcast
    * scalars, every (x/μ)·ln(x/μ) term 1e-12-snapped before its exact
    * decimal sum; the identity residual is emitted as an audit column
    * (nonzero only at snap resolution).
    */
  def theilDecomposition(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val perCust = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    val glob = perCust.agg(count(lit(1)).as("n"),
      s12(sum(col("x")).cast("double") / count(lit(1))).as("mu"))
    val perNat = perCust.groupBy(col("n_name"))
      .agg(count(lit(1)).as("ng"),
        s12(sum(col("x")).cast("double") / count(lit(1))).as("mug"))
    val terms = perCust.join(broadcast(perNat), "n_name")
      .crossJoin(broadcast(glob))
      .withColumn("xt", col("x").cast("double"))
      .withColumn("t_tot", s12(col("xt") / col("mu")
        * log(col("xt") / col("mu"))))
      .withColumn("t_in", s12(col("xt") / col("mug")
        * log(col("xt") / col("mug"))))
    val natT = terms.groupBy(col("n_name"))
      .agg(max(col("ng")).as("ng"), max(col("mug")).as("mug"),
        max(col("n")).as("n"), max(col("mu")).as("mu"),
        s12(sum(col("t_in").cast("decimal(38,12)")).cast("double")
          / max(col("ng"))).as("tg"))
      .withColumn("bt", s12(col("ng").cast("double") / col("n")
        * (col("mug") / col("mu")) * log(col("mug") / col("mu"))))
      .withColumn("wt", s12(col("ng").cast("double") / col("n")
        * (col("mug") / col("mu")) * col("tg")))
    val total = terms.agg(max(col("n")).as("n_customers"),
      s12(sum(col("t_tot").cast("decimal(38,12)")).cast("double")
        / max(col("n"))).as("t_total"))
    val parts = natT.agg(
      s12(sum(col("bt").cast("decimal(38,12)")).cast("double")).as("t_between"),
      s12(sum(col("wt").cast("decimal(38,12)")).cast("double")).as("t_within"))
    total.crossJoin(parts)
      .select(col("n_customers"),
        (round(col("t_total") * 1000000) / 1000000.0).as("theil_total"),
        (round(col("t_between") * 1000000) / 1000000.0).as("theil_between"),
        (round(col("t_within") * 1000000) / 1000000.0).as("theil_within"),
        (round((col("t_total") - col("t_between") - col("t_within"))
          * 1000000) / 1000000.0 + lit(0.0)).as("identity_gap"))
  }

  /** q307: difference-in-differences — did PROMO parts' average line
    * revenue move differently from non-promo parts between 1995 and 1996?
    * The causal-inference workhorse as ONE conditional aggregate: four
    * cell means (treat/control × before/after) from a single fact scan,
    * DiD = (T₁−T₀) − (C₁−C₀) row-locally. Exact decimal sums, means
    * 1e-12-snapped; parallel-trends caveats are the analyst's problem.
    */
  def diffInDiff(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val li = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .where(year(col("o_orderdate")).isin(1995, 1996))
      .select(col("p_type").startsWith("PROMO").as("treat"),
        (year(col("o_orderdate")) === 1996).as("post"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
    def cell(t: Boolean, p: Boolean) =
      s12(sum(when(col("treat") === t && col("post") === p, col("rev")))
        .cast("double")
        / sum(when(col("treat") === t && col("post") === p, 1L)
          .otherwise(0L)))
    li.agg(
        count(lit(1)).as("n_lines"),
        cell(true, false).as("m_treat_pre"),
        cell(true, true).as("m_treat_post"),
        cell(false, false).as("m_ctrl_pre"),
        cell(false, true).as("m_ctrl_post"))
      .select(col("n_lines"),
        (round(col("m_treat_pre") * 100) / 100.0).as("m_treat_pre"),
        (round(col("m_treat_post") * 100) / 100.0).as("m_treat_post"),
        (round(col("m_ctrl_pre") * 100) / 100.0).as("m_ctrl_pre"),
        (round(col("m_ctrl_post") * 100) / 100.0).as("m_ctrl_post"),
        (round((col("m_treat_post") - col("m_treat_pre")
          - (col("m_ctrl_post") - col("m_ctrl_pre"))) * 100) / 100.0)
          .as("did"))
  }

  /** q308: new-product ramp census — parts cohorted by FIRST-sale month,
    * with revenue in relative months 0/1/2 after launch (the
    * cold-start curve: how fast does a new part reach cruising revenue,
    * and is that ramp changing across cohorts). One pass to per-(part,
    * month) revenue, min-month per part joined back, bounded
    * cohort×offset output. Month arithmetic is all integer.
    */
  def coldStartCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val pm = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("rev")).as("rev"))
    val first = pm.groupBy(col("l_partkey")).agg(min(col("m")).as("m0"))
    pm.join(first, "l_partkey")
      .withColumn("off", col("m") - col("m0"))
      .where(col("off") <= 2)
      .groupBy(col("m0"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        sum(when(col("off") === 0, col("rev"))).as("r0"),
        sum(when(col("off") === 1, col("rev"))).as("r1"),
        sum(when(col("off") === 2, col("rev"))).as("r2"))
      .select(
        (floor(col("m0") / 12)).cast("int").as("cohort_year"),
        (col("m0") % 12 + 1).cast("int").as("cohort_month"),
        col("n_parts"),
        (round(col("r0").cast("double") * 100) / 100.0).as("rev_m0"),
        (round(coalesce(col("r1"), lit(0)).cast("double") * 100) / 100.0)
          .as("rev_m1"),
        (round(coalesce(col("r2"), lit(0)).cast("double") * 100) / 100.0)
          .as("rev_m2"))
  }

  /** q309: spend-quintile migration matrix 1996→1997 — which revenue
    * quintile customers land in next year given this year's (the
    * retention-marketing transition table). Each year's quintile
    * assignment runs through Prefix.over's distributed prefix-count +
    * closed-form ntile — two parallel range-bucketed passes, no
    * single-task window — then one equi-join on custkey builds the 5×5
    * census with row shares.
    */
  def spendMigration(spark: SparkSession, sfDir: String): DataFrame = {
    def yearSpend(y: Int): DataFrame = {
      val per = Tables.orders(spark, sfDir)
        .where(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val n = per.agg(count(lit(1)).as("n_total"))
      Prefix.over(per.crossJoin(broadcast(n)),
          Seq(col("rev").desc, col("o_custkey")), Seq(Prefix.rowNumber("rn")))
        .select(col("o_custkey"),
          Prefix.ntileFromRowNumber(col("rn"), col("n_total"), 5).as("q"))
    }
    val m = yearSpend(1996).toDF("o_custkey", "q_from")
      .join(yearSpend(1997).toDF("o_custkey", "q_to"), "o_custkey")
      .groupBy(col("q_from"), col("q_to"))
      .agg(count(lit(1)).as("n_customers"))
    val rowTot = m.groupBy(col("q_from")).agg(sum(col("n_customers")).as("rt"))
    m.join(broadcast(rowTot), "q_from")
      .select(col("q_from"), col("q_to"), col("n_customers"),
        (round(col("n_customers").cast("double") / col("rt").cast("double")
          * lit(10000)) / lit(10000.0)).as("row_share"))
  }

  /** q311: repeat-purchase latency per market segment — exact P50/P90 of
    * the gap (days) between a customer's consecutive orders, by
    * c_mktsegment. THE replenishment-cadence number behind q164's raw gap
    * list and q112's idle flags. Consecutive gaps via a per-customer lag
    * window (distributed across customers); quantiles through the
    * count-and-locate exact engine — gaps collapse to a few thousand
    * distinct day values, so no task buffers a segment.
    */
  def repurchaseLatency(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"),
      col("o_orderkey"))
    val gaps = Tables.orders(spark, sfDir)
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev").isNotNull)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        datediff(col("o_orderdate"), col("prev")).cast("double").as("gap"))
    val qv = Percentiles.exactQuantiles(gaps, "segment", "gap",
      Seq("p50" -> 0.5, "p90" -> 0.9))
    val n = gaps.groupBy(col("segment")).agg(count(lit(1)).as("n_gaps"))
    qv.groupBy(col("segment"))
      .agg(
        round(min(when(col("qname") === "p50", col("qv"))), 4).as("p50_days"),
        round(min(when(col("qname") === "p90", col("qv"))), 4).as("p90_days"))
      .join(n, "segment")
  }

  /** q312: brand revenue co-movement — Pearson correlation of monthly
    * revenue between brand pairs (the cannibalization/complement screen:
    * persistent negative co-movement inside a category is substitution).
    * Everything after the one fact scan is bounded by |brands|·|months|
    * (25×~84), and the pair join by |brands|²·|months| — corpus-free.
    * Moment sums are exact decimals; only complete pair overlaps (both
    * brands present that month) enter, and constant series drop out.
    */
  def brandRevenueCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val bm = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("rev"))
      .select(col("p_brand"), col("m"), col("rev").cast("double").as("r"))
    val pairs = bm.toDF("brand_a", "m", "ra")
      .join(bm.toDF("brand_b", "m", "rb"), "m")
      .where(col("brand_a") < col("brand_b"))
    pairs.groupBy(col("brand_a"), col("brand_b"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("ra").cast("decimal(28,6)")).cast("double").as("sx"),
        sum(col("rb").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("ra") * col("ra")).cast("decimal(38,6)")).cast("double").as("sxx"),
        sum((col("rb") * col("rb")).cast("decimal(38,6)")).cast("double").as("syy"),
        sum((col("ra") * col("rb")).cast("decimal(38,6)")).cast("double").as("sxy"))
      .withColumn("den", sqrt(
        (col("n_months") * col("sxx") - col("sx") * col("sx"))
          * (col("n_months") * col("syy") - col("sy") * col("sy"))))
      .where(col("den") > 0)
      .select(col("brand_a"), col("brand_b"), col("n_months"),
        (round((col("n_months") * col("sxy") - col("sx") * col("sy"))
          / col("den") * lit(1000000)) / lit(1000000.0)).as("rev_corr"))
  }

  /** q325: ABC×XYZ inventory matrix — q119's revenue classification
    * crossed with demand VARIABILITY classes (X: monthly-demand CV ≤ 0.5,
    * Y: ≤ 1.0, Z above): the 9-cell planning grid (AX = automate, CZ =
    * drop) that neither axis gives alone. The ABC cumulative share runs
    * through Prefix.over (no single-task window); the CV comes from
    * per-(part, month) demand moments — both from the same fact scan's
    * aggregates. Output is the 9-cell census with revenue share per cell.
    */
  def abcXyz(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val pm = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"),
        col("l_quantity").cast("decimal(18,2)").as("q"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("q")).cast("double").as("qm"), sum(col("rev")).as("revm"))
    val perPart = pm.groupBy(col("l_partkey"))
      .agg(sum(col("revm")).as("prev"),
        count(lit(1)).as("nm"),
        sum(col("qm").cast("decimal(28,6)")).cast("double").as("sq"),
        sum((col("qm") * col("qm")).cast("decimal(38,6)"))
          .cast("double").as("sqq"))
      .withColumn("mu", col("sq") / col("nm"))
      .withColumn("cv", when(col("mu") > 0, s12(
        sqrt(greatest(col("sqq") / col("nm") - col("mu") * col("mu"),
          lit(0.0))) / col("mu"))).otherwise(lit(0.0)))
    val total = perPart.agg(sum(col("prev")).as("trev"))
    val classed = Prefix.over(perPart.crossJoin(broadcast(total)),
        Seq(col("prev").desc, col("l_partkey")),
        Seq(Prefix.Agg(col("prev"), "cum_rev")))
      .withColumn("cum_share",
        col("cum_rev").cast("double") / col("trev").cast("double"))
      .withColumn("abc",
        when(col("cum_share") <= 0.8, "A")
          .when(col("cum_share") <= 0.95, "B").otherwise("C"))
      .withColumn("xyz",
        when(col("cv") <= 0.5, "X").when(col("cv") <= 1.0, "Y")
          .otherwise("Z"))
    classed.groupBy(col("abc"), col("xyz"))
      .agg(count(lit(1)).as("n_parts"),
        (round(sum(col("prev")).cast("double")
          / max(col("trev")).cast("double") * lit(1000000))
          / lit(1000000.0)).as("rev_share"))
  }

  /** q342: top-heaviness ratios — revenue share of the top 1% and top 10%
    * of customers and the 1%-to-10% concentration ratio (the "is this a
    * whale business" summary executives actually quote, where q121's Gini
    * is the integral). Ranks come from Prefix.over's distributed
    * prefix-count (no single-task window); cutoffs are ceil(n·p) and the
    * shares one conditional aggregate.
    */
  def topHeavyRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val n = per.agg(count(lit(1)).as("n_total"))
    Prefix.over(per.crossJoin(broadcast(n)),
        Seq(col("rev").desc, col("o_custkey")), Seq(Prefix.rowNumber("rn")))
      .agg(
        max(col("n_total")).as("n_customers"),
        sum(col("rev")).as("tot"),
        sum(when(col("rn") <= ceil(col("n_total") * lit(0.01)), col("rev")))
          .as("top1"),
        sum(when(col("rn") <= ceil(col("n_total") * lit(0.10)), col("rev")))
          .as("top10"))
      .select(col("n_customers"),
        (round(col("top1").cast("double") / col("tot").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("top1_share"),
        (round(col("top10").cast("double") / col("tot").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("top10_share"),
        (round(col("top1").cast("double") / col("top10").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("top1_of_top10"))
  }

  /** q338: order-day streak census — the classic gaps-and-islands idiom on
    * the distinct order-day table (island id = day − dense row number;
    * consecutive days share it): longest streak of consecutive days with
    * at least one order, streak-length histogram, and the widest dark
    * gap. The business-continuity pulse; the window runs over the BOUNDED
    * distinct-day table, never order rows.
    */
  def orderDayStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.orders(spark, sfDir)
      .select(floor(unix_timestamp(col("o_orderdate")) / 86400L).as("d"))
      .distinct()
    val w = Window.orderBy(col("d"))
    val isl = days
      .withColumn("island", col("d") - row_number().over(w))
    val streaks = isl.groupBy(col("island"))
      .agg(count(lit(1)).as("len"), min(col("d")).as("sd"), max(col("d")).as("ed"))
    val gaps = isl
      .withColumn("nxt", lead(col("d"), 1).over(w))
      .where(col("nxt").isNotNull && col("nxt") > col("d") + 1)
      .agg(coalesce(max(col("nxt") - col("d") - 1), lit(0L)).as("max_gap_days"),
        count(lit(1)).as("n_gaps"))
    streaks.agg(
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak_days"),
        sum(col("len")).as("n_active_days"))
      .crossJoin(gaps)
  }

  /** q339: priority-inversion days — order days where URGENT/HIGH lines
    * actually shipped SLOWER (by exact median latency) than LOW-class
    * lines placed the same day: the SLA-integrity violation count behind
    * q291's static percentiles. Medians per (day, class) run through the
    * count-and-locate engine on the composite group key — thousands of
    * tiny groups, no task buffers one — and the inversion compare is one
    * bounded self-join on the day.
    */
  def priorityInversionDays(spark: SparkSession, sfDir: String): DataFrame = {
    val lat = spread(Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"),
        dayClassKey(floor(unix_timestamp(col("o_orderdate")) / 86400L),
          col("o_orderpriority").isin("1-URGENT", "2-HIGH")).as("grp"),
        datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("double").as("lat")), col("l_orderkey"))
      .select(col("grp"), col("lat"))
    val med = Percentiles.exactQuantiles(lat, "grp", "lat", Seq("m" -> 0.5))
      .select(col("grp"), col("qv").as("med"))
      .withColumn("d", keyDay(col("grp")))
      .withColumn("cls", when(keyIsHi(col("grp")), "hi").otherwise("lo"))
    val hi = med.where(col("cls") === "hi").select(col("d"), col("med").as("mhi"))
    val lo = med.where(col("cls") === "lo").select(col("d"), col("med").as("mlo"))
    val joined = hi.join(lo, "d")
    joined.agg(
        count(lit(1)).as("n_days_both"),
        sum(when(col("mhi") > col("mlo"), 1L).otherwise(0L))
          .as("n_inversion_days"))
      .select(col("n_days_both"), col("n_inversion_days"),
        (round(col("n_inversion_days").cast("double")
          / col("n_days_both").cast("double") * lit(10000)) / lit(10000.0))
          .as("inversion_rate"))
  }

  /** q339's group key as ONE LONG (day·2 + hi-bit) instead of a
    * "day|class" string: a bijective re-encoding of the same groups, so
    * every engine aggregate sees the identical row partition — but the
    * count-and-locate engine hashes/shuffles an 8-byte key instead of a
    * ~12-char string through its counts/bucket/slice stages (guide §2.3:
    * narrower types). Days before 1970 are negative, so the decode
    * floors: [[keyDay]] is an arithmetic shift (floor division by 2) and
    * [[keyIsHi]] a `pmod`, where truncating `div` and `%` would put a
    * pre-1970 hi-class day into the wrong group.
    */
  private[ops] def dayClassKey(day: Column, hi: Column): Column =
    (day * 2 + when(hi, 1L).otherwise(0L)).cast("long")

  private[ops] def keyDay(grp: Column): Column = shiftright(grp, 1)

  private[ops] def keyIsHi(grp: Column): Column = pmod(grp, lit(2L)) === 1L

  /** q329: compound monthly growth rate per brand — the geometric-mean
    * growth over each brand's ACTIVE months, which telescopes: the mean of
    * ln month-over-month ratios collapses to (ln last − ln first)/steps,
    * so the whole CAGR needs only each brand's first/last monthly revenue
    * (two struct-extremes in one aggregate) — no per-month chain at all.
    * ln endpoints snapped before the divide; exp at the end, swallowed by
    * the output rounding.
    */
  def brandCagr(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val bm = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("rev"))
    bm.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_months"),
        min(struct(col("m"), col("rev"))).as("first"),
        max(struct(col("m"), col("rev"))).as("last"))
      .where(col("n_months") >= 2)
      .withColumn("g", s12(
        (log(col("last.rev").cast("double"))
          - log(col("first.rev").cast("double")))
          / (col("n_months") - 1).cast("double")))
      .select(col("p_brand"), col("n_months"),
        (round(col("first.rev").cast("double") * 100) / 100.0)
          .as("first_month_rev"),
        (round(col("last.rev").cast("double") * 100) / 100.0)
          .as("last_month_rev"),
        (round((exp(col("g")) - lit(1.0)) * lit(1000000))
          / lit(1000000.0)).as("monthly_growth"))
  }

  /** q331: price elasticity of demand per brand — the log-log OLS slope
    * d ln Q / d ln P over line items (q263's LINEAR per-brand fit answers
    * "how correlated"; the elasticity answers the pricing question "what
    * happens to volume at +1% price"). ln terms 1e-12-snapped before the
    * five decimal moment sums (the q279 contract), closed-form slope and
    * R² per brand in one shuffle.
    */
  def priceElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val xy = spread(Tables.lineitem(spark, sfDir)
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("p_brand"),
        s12(log((col("l_extendedprice") / col("l_quantity"))
          .cast("double"))).as("x"),
        s12(log(col("l_quantity").cast("double"))).as("y")), col("l_orderkey"))
    xy.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(38,12)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,10)"))
          .cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,10)"))
          .cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,10)"))
          .cast("double").as("syy"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("vx", col("sxx") - col("sx") * col("sx") / col("nn"))
      .withColumn("vy", col("syy") - col("sy") * col("sy") / col("nn"))
      .withColumn("cxy", col("sxy") - col("sx") * col("sy") / col("nn"))
      .where(col("vx") > 0 && col("vy") > 0)
      .select(col("p_brand"), col("n"),
        (round(col("cxy") / col("vx") * lit(1000000)) / lit(1000000.0))
          .as("elasticity"),
        (round(col("cxy") * col("cxy") / (col("vx") * col("vy"))
          * lit(1000000)) / lit(1000000.0)).as("r2"))
  }

  /** q332: negative-binomial fit of orders-per-customer by method of
    * moments — the count-modeling classic (Poisson forces mean =
    * variance; real purchase counts overdisperse, and the NBD's (r, p)
    * is the standard basis for "how many will buy k times" planning à la
    * Ehrenberg). One aggregate to (mean, variance); r = μ²/(σ²−μ),
    * p = μ/σ² closed-form, with the underdispersed edge flagged instead
    * of emitting a negative r.
    */
  def nbdFit(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val per = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("k"))
    per.agg(
        count(lit(1)).as("n_customers"),
        sum(col("k")).as("s1"),
        sum(col("k") * col("k")).as("s2"))
      .withColumn("nn", col("n_customers").cast("double"))
      .withColumn("mu", s12(col("s1").cast("double") / col("nn")))
      .withColumn("v", s12(col("s2").cast("double") / col("nn")
        - col("mu") * col("mu")))
      .select(col("n_customers"),
        (round(col("mu") * lit(10000)) / lit(10000.0)).as("mean_orders"),
        (round(col("v") * lit(10000)) / lit(10000.0)).as("var_orders"),
        (col("v") > col("mu")).as("overdispersed"),
        (round(when(col("v") > col("mu"),
          col("mu") * col("mu") / (col("v") - col("mu")))
          .otherwise(lit(0.0)) * lit(10000)) / lit(10000.0)).as("nb_r"),
        (round(when(col("v") > col("mu"), col("mu") / col("v"))
          .otherwise(lit(1.0)) * lit(10000)) / lit(10000.0)).as("nb_p"))
  }

  /** q315: exponentially time-decayed revenue leaderboard per brand —
    * each line's revenue weighted by 2^(−age/180d) relative to the
    * corpus's last order date, so the ranking answers "who matters NOW"
    * instead of ever (the recency-weighted share every dashboard
    * eventually reinvents; mergeable because the decay reference is a
    * frozen anchor, not the query time). One scan; weights are
    * exp(−λ·age) with λ = ln2/180, each term 1e-12-snapped before the
    * exact decimal sum; share against the decayed total.
    */
  def decayedShare(spark: SparkSession, sfDir: String): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val li = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    val anchor = li.agg(max(col("o_orderdate")).as("mx"))
    val dec = li.crossJoin(broadcast(anchor))
      .withColumn("age", datediff(col("mx"), col("o_orderdate")).cast("double"))
      .withColumn("wrev", s12(
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          * exp(col("age") * lit(-math.log(2.0) / 180.0)))
        .cast("decimal(38,12)"))
      .groupBy(col("p_brand"))
      .agg(sum(col("wrev")).as("drev"), count(lit(1)).as("n_lines"))
    val tot = dec.agg(sum(col("drev")).as("dtot"))
    dec.crossJoin(broadcast(tot))
      .select(col("p_brand"), col("n_lines"),
        (round(col("drev").cast("double") * 100) / 100.0).as("decayed_rev"),
        (round(col("drev").cast("double") / col("dtot").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("decayed_share"))
  }

  /** q305: Gini coefficient of customer revenue PER NATION — q121's
    * economy-wide number broken out along the dimension that makes it
    * actionable (which market is whale-driven). Unlike q121 the rank
    * window partitions by nation, so it is naturally distributed — every
    * nation ranks in parallel — and the q121 formula runs per group on
    * exact decimal sums.
    */
  def nationGini(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perCust = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("rev"), col("o_custkey"))
    perCust
      .withColumn("i", row_number().over(w))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev")).as("s0"),
        sum(col("rev") * col("i")).as("s1"))
      .select(col("n_name"), col("n_customers"),
        (round(col("s0").cast("double") * 10000) / 10000).as("total_rev"),
        (round((lit(2.0) * col("s1").cast("double")
          / (col("n_customers") * col("s0").cast("double"))
          - (col("n_customers") + lit(1)).cast("double") / col("n_customers"))
          * 1000000) / 1000000).as("gini"))
  }

  /** q35: multi-level rollup (region → nation → grand total) in one pass —
    * GROUPING SETS expand map-side, so the fact table is still scanned and
    * shuffled once. Revenue is a per-row-snapped DECIMAL sum (q13's sf1
    * lesson: double sums are partition-order-dependent and cross round(.,4)
    * boundaries at millions of rows).
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        (round(col("l_extendedprice") * (lit(1) - col("l_discount")) * lit(1e10))
          / lit(1e10)).cast("decimal(38,10)").as("rev"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val r = Tables.region(spark, sfDir).select(col("r_regionkey"), col("r_name"))
    li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("rev")).cast("double"), 4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q37: wide activity pivot — one row per user, one count column per event
    * type. The type list is fixed up front (no discovery pass), so this is a
    * single conditional aggregation: one shuffle, map-side combined.
    */
  def eventPivot(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === types.head, 1L).otherwise(0L)).as(s"n_${types.head}"),
        types.tail.map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t")) :+
          count(lit(1)).as("n_total"): _*)
  }

  /** q46: shipping-priority (TPC-H Q3 shape) — selective filters on BOTH
    * join sides push into the scans before the fact-fact shuffle join, then
    * a grouped revenue agg and a global top-N. The classic "filter early,
    * join narrow" plan.
    */
  def shipPriority(spark: SparkSession, sfDir: String, cutoff: String = "1995-03-15"): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_custkey"))
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"), (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("rev")), 4).as("revenue"), count(lit(1)).as("n_items"))
      .select(col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_e"), col("revenue"), col("n_items"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q45: window-function suite — quartile bucketing (ntile), neighbor
    * deltas (lag), distribution position (cume_dist), next-event lookahead
    * (lead), all over ONE per-user window sort: Catalyst collapses same-spec
    * window functions into a single Window operator, so the per-user sort
    * happens once no matter how many analytics ride on it.
    */
  def windowSuite(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.TimeSeries.r4
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .select(
        col("user_id"), col("event_id"),
        ntile(4).over(w).as("quartile"),
        r4(col("value") - lag(col("value"), 1).over(w)).as("delta_prev"),
        r4(cume_dist().over(w)).as("cd"),
        lead(col("event_type"), 1).over(w).as("next_type"))
  }

  /** q18: orders above their own customer's average order value —
    * decorrelated as an aggregate + re-join on the grouping key (what
    * Catalyst does to a correlated scalar subquery).
    */
  def decorrelatedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    // exact decimal sum → double, so the average is identical regardless of
    // partial-aggregation order (a plain double avg can flip a round() tie)
    val avgs = o.groupBy(col("o_custkey")).agg(
      (sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)))
        .as("cust_avg"))
    o.join(avgs, Seq("o_custkey"))
      .filter(col("o_totalprice") > col("cust_avg") * 1.5)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_above"),
        round(max(col("o_totalprice")), 4).as("max_price"),
        (round(max(col("cust_avg")) * 10000) / 10000).as("cust_avg_price")
      )
  }

  /** q69: shipping-delay SLA percentiles per order priority — exact p50/p90
    * of days-from-order-to-ship, through the same two-pass count-and-locate
    * quantile operator as q34 (a second consumer on a different table and
    * value domain proves the operator is generic). The lineitem⋈orders join
    * runs on the natural orderkey; delays compress to distinct (priority,
    * days) counts before any per-group work.
    */
  def shipDelayPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val delays = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("double").as("delay"))
    val qv = Percentiles.exactQuantiles(
      delays, "o_orderpriority", "delay", Seq("p50" -> 0.5, "p90" -> 0.9))
    val n = delays.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    qv.groupBy(col("o_orderpriority"))
      .agg(
        round(min(when(col("qname") === "p50", col("qv"))), 4).as("p50_days"),
        round(min(when(col("qname") === "p90", col("qv"))), 4).as("p90_days"))
      .join(n, "o_orderpriority")
  }

  /** q70: customer-degree census — how many customers placed 2^k..2^(k+1)−1
    * orders, the count-of-counts (degree distribution) view that sizes key
    * skew before a per-customer join or state store. Bucket =
    * floor(log2 n) via binary string length — integer-exact, no
    * floating log edge cases. Output is O(log n) rows regardless of scale.
    */
  def orderDegreeCensus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .withColumn("bucket", (length(bin(col("n_orders"))) - 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("n_orders")).as("total_orders"))
      .withColumn("bucket_lo", expr("CAST(power(2, bucket) AS BIGINT)"))
      .select(col("bucket"), col("bucket_lo"), col("n_customers"), col("total_orders"))

  /** q66: market share (TPC-H Q8 shape) — the yearly share of one supplier
    * nation in PROMO-part revenue sold to European customers. Six tables:
    * lineitem ⋈ part (selective filter first) ⋈ orders (the one genuine
    * fact-fact shuffle, on the natural l_orderkey key) ⋈ customer ⋈ its
    * nation→region (broadcast) ⋈ supplier nation (broadcast). Only
    * nation/region get explicit broadcast hints; part/customer/supplier are
    * left to the optimizer so the same plan scales from local stats-based
    * broadcasts to shuffle joins at 100 TB. Numerator and denominator
    * accumulate in exact DECIMAL(18,6) so the share is order-independent.
    */
  def marketShare(spark: SparkSession, sfDir: String,
                  targetNation: String = "NATION_7"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), rev)
    val p = Tables.part(spark, sfDir)
      .where(col("p_type") === "PROMO").select(col("p_partkey"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
      .where(col("o_year").between(1995, 1997))
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    val euroNations = n.join(broadcast(r.where(col("r_name") === "EUROPE")),
      col("n_regionkey") === col("r_regionkey")).select(col("n_nationkey"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(euroNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(n.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val dec = col("rev").cast("decimal(18,6)")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("o_year"))
      .agg(
        sum(dec).as("all_rev"),
        sum(when(col("supp_nation") === targetNation, dec)
          .otherwise(lit(0).cast("decimal(18,6)"))).as("tgt_rev"))
      .select(
        col("o_year"),
        (round(col("tgt_rev").cast("double") / col("all_rev").cast("double") * 1000000) / 1000000)
          .as("mkt_share"),
        round(col("tgt_rev").cast("double"), 4).as("target_rev"),
        round(col("all_rev").cast("double"), 4).as("total_rev"))
  }

  /** q104: sole-late suppliers (TPC-H Q21 shape) — suppliers who were the
    * ONLY late shipper on a multi-supplier order, ranked by how often. The
    * classic blame-assignment query: its textbook form is a fact self-join
    * with EXISTS (another supplier on the order) and NOT EXISTS (another
    * LATE supplier), which at 100 TB means two more passes over lineitem.
    * Restated here as per-order counts on the DISTINCT (order, supplier)
    * table: n_suppliers ≥ 2 ⟺ the EXISTS, n_late = 1 ⟺ the NOT EXISTS —
    * set semantics make the rewrite exact, and both counts come from the
    * same shuffle the late-line table already needs ("late" = shipped > 60
    * days after order date; the synthetic schema has no receipt/commit
    * dates).
    */
  /** q107: monthly promo revenue share (TPC-H Q14 shape) — what fraction
    * of each month's lineitem revenue came from PROMO parts. One fact-dim
    * join (part is the dimension; Catalyst broadcasts it at small SF and
    * shuffle-joins at scale — no hint, same plan rule as q66) and a
    * conditional aggregate; numerator and denominator accumulate in the
    * SAME exact DECIMAL(18,6) sums so the share is order-free.
    */
  def promoShareMonthly(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_shipdate"), rev.as("rev"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(
        (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("ship_month"))
      .agg(
        sum(col("rev")).as("all_rev"),
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(18,6)"))).as("promo_rev"))
      .select(
        col("ship_month").cast("long").as("ship_month"),
        (round(col("promo_rev").cast("double") / col("all_rev").cast("double") * 1000000)
          / 1000000).as("promo_share"),
        (round(col("promo_rev").cast("double") * 10000) / 10000).as("promo_rev"),
        (round(col("all_rev").cast("double") * 10000) / 10000).as("all_rev"))
  }

  /** q108: cohort lifetime value — cumulative revenue per signup cohort by
    * order age (weeks since the customer's first order), the money twin of
    * q63's retention triangle. The cohort assignment is a groupBy-min over
    * orders co-partitioned on o_custkey (one shuffle shared with the
    * revenue rollup via stage reuse); the cumulative sum is a window over
    * the cohort×age table, which is O(weeks²) rows, never orders.
    */
  def cohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        // integer weeks since epoch from day arithmetic — no tz ambiguity
        expr("CAST(datediff(o_orderdate, DATE'1970-01-01') DIV 7 AS BIGINT)").as("wk"),
        col("o_totalprice").cast("decimal(18,6)").as("price"))
    val cohorts = o.groupBy(col("o_custkey")).agg(min(col("wk")).as("cohort_wk"))
    val cells = o.join(cohorts, "o_custkey")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
      .agg(sum(col("price")).as("rev"), count(lit(1)).as("n_orders"))
    val cum = Window.partitionBy(col("cohort_wk")).orderBy(col("age_wk"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.select(
      col("cohort_wk"), col("age_wk"), col("n_orders"),
      (round(col("rev").cast("double") * 10000) / 10000).as("rev"),
      (round(sum(col("rev")).over(cum).cast("double") * 10000) / 10000).as("cum_rev"))
  }

  /** q109: revenue lost to returned items per customer (TPC-H Q10 shape) —
    * the returns fact filtered FIRST (predicate reaches the parquet scan),
    * one fact-fact shuffle join on the order key, then customer/nation
    * resolved on the already-aggregated per-customer table, so the
    * dimension join input is O(customers with returns), not O(lineitems).
    * Exact decimal revenue sums keep the ranking aggregation-order-free.
    */
  def returnsImpact(spark: SparkSession, sfDir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val perCust = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("lost_rev"), count(lit(1)).as("n_items"))
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    perCust
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("lost_rev").desc, col("c_custkey"))
      .limit(k)
      // single-partition window over the already-limited k rows only
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("lost_rev").desc, col("c_custkey"))))
      .select(col("rnk"), col("c_custkey"), col("c_name"), col("n_name"),
        col("n_items"),
        (round(col("lost_rev").cast("double") * 10000) / 10000).as("lost_rev"))
  }

  /** q112: idle high-balance customers (TPC-H Q22 shape) — customers whose
    * balance beats their market segment's positive-balance average yet have
    * never ordered. The per-segment threshold is a tiny aggregate joined
    * back by broadcast; "never ordered" is a left-anti join against the
    * DISTINCT order custkeys (the anti side is pre-deduplicated so the
    * probe table is customers-sized, not orders-sized). Exact decimal
    * balance sums make the segment rollup aggregation-order-free.
    */
  def idleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val thresholds = c
      .where(col("c_acctbal") > 0)
      .groupBy(col("c_mktsegment"))
      .agg((sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("avg_bal"))
    val buyers = Tables.orders(spark, sfDir).select(col("o_custkey")).distinct()
    c.join(broadcast(thresholds), "c_mktsegment")
      .where(col("c_acctbal") > col("avg_bal"))
      .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        (round(sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
          * 10000) / 10000).as("total_bal"))
  }

  /** q114: open-order backlog over time — how many orders are in flight
    * (placed, not yet fully shipped) on each day the backlog changes. The
    * classic concurrent-intervals operator, done the scale-safe way: each
    * order becomes a +1 delta at its start day and a −1 after its last
    * ship day, deltas AGGREGATE to day granularity first (one shuffle
    * bounded by the number of distinct days, never orders), and the
    * running backlog is a cumulative window over that O(days) table — the
    * single-partition sort touches thousands of rows regardless of fact
    * size. Order close = max ship date over its lineitems, one map-side-
    * combined aggregate co-keyed with the orders join.
    */
  def orderBacklog(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epoch = lit("1970-01-01").cast("date")
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"), epoch).cast("long").as("sd"))
    val close = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(max(datediff(col("l_shipdate"), epoch).cast("long")).as("ed"))
    val spans = o.join(close, col("o_orderkey") === col("l_orderkey"))
    val deltas = spans.select(col("sd").as("day_num"), lit(1L).as("delta"))
      .unionAll(spans.select((col("ed") + 1L).as("day_num"), lit(-1L).as("delta")))
      .groupBy(col("day_num"))
      .agg(sum(col("delta")).as("net"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_closed"))
    // cumulative over the tiny day-level table only (O(days) rows)
    val cum = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas.select(col("day_num"), col("n_opened"), col("n_closed"), col("net"),
      sum(col("net")).over(cum).as("open_after"))
  }

  /** q117: supplier revenue concentration per nation — Herfindahl–
    * Hirschman index Σ shareᵢ² over each nation's suppliers, the
    * market-concentration number a sourcing-risk review reads (HHI → 1 =
    * one supplier owns the nation). One fact scan aggregates to (nation,
    * supplier) decimal revenue; nation totals are a second-level aggregate
    * OVER those rows broadcast back; each squared share is
    * DECIMAL(18,12)-snapped so the HHI sum is aggregation-order-free.
    */
  def supplierHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val perSupp = li
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(col("rev")).as("srev"))
    val totals = perSupp.groupBy(col("n_name")).agg(sum(col("srev")).as("trev"))
    perSupp.join(broadcast(totals), "n_name")
      .withColumn("share", col("srev").cast("double") / col("trev").cast("double"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        (round(max(col("share")) * 10000) / 10000).as("top_share"),
        (round(sum((col("share") * col("share")).cast("decimal(18,12)"))
          .cast("double") * 1000000) / 1000000).as("hhi"),
        (round(max(col("trev")).cast("double") * 10000) / 10000).as("total_rev"))
  }

  /** q119: ABC inventory classification — parts ranked by revenue,
    * partitioned into the classic A (first 80% of revenue) / B (next 15%) /
    * C (tail) bands by CUMULATIVE share, then rolled up per class. The
    * cumulative sum runs over the per-part AGGREGATE (bounded by |part|)
    * through Prefix.over's distributed two-pass prefix sum — range-bucketed
    * on (revenue desc, partkey), so no task ever holds the whole part
    * table; class boundaries compare exact-decimal cumulative sums against
    * the total, and the rollup re-aggregates so the output is 3 rows
    * whatever the part count.
    */
  def abcClassification(spark: SparkSession, sfDir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("rev")).as("prev"))
    val total = perPart.agg(sum(col("prev")).as("trev"))
    Prefix.over(perPart.crossJoin(broadcast(total)),
        Seq(col("prev").desc, col("l_partkey")),
        Seq(Prefix.Agg(col("prev"), "cum_rev")))
      .withColumn("cum_share",
        col("cum_rev").cast("double") / col("trev").cast("double"))
      .withColumn("cls",
        when(col("cum_share") <= 0.8, "A")
          .when(col("cum_share") <= 0.95, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(
        count(lit(1)).as("n_parts"),
        (round(sum(col("prev")).cast("double") * 10000) / 10000).as("class_rev"),
        (round(sum(col("prev")).cast("double")
          / max(col("trev")).cast("double") * 1000000) / 1000000).as("rev_share"))
  }

  /** q120: monthly order-priority mix + month-over-month share shift — the
    * composition-drift view of the order stream (a priority class quietly
    * gaining share is an ops-load early warning). One orders scan to
    * (month, priority) counts; month totals are a second-level aggregate
    * broadcast back; the MoM delta is a lag window over the O(months ×
    * priorities) table only. First month of each priority has NULL shift.
    */
  def priorityMix(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, sfDir)
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("m"),
        col("o_orderpriority").as("prio"))
    val c = o.groupBy(col("m"), col("prio")).agg(count(lit(1)).as("n"))
    val t = c.groupBy(col("m")).agg(sum(col("n")).as("tot"))
    val w = Window.partitionBy(col("prio")).orderBy(col("m"))
    c.join(broadcast(t), "m")
      .withColumn("shr", col("n").cast("double") / col("tot"))
      .withColumn("prev", lag(col("shr"), 1).over(w))
      .select(col("m"), col("prio"), col("n"),
        (round(col("shr") * 1000000) / 1000000).as("share"),
        (round((col("shr") - col("prev")) * 1000000) / 1000000).as("mom_shift"))
  }

  /** q121: Gini coefficient of customer revenue — the inequality summary
    * of the customer base (0 = every customer spends alike, →1 = revenue
    * concentrated in a few whales), the economy-wide companion of q117's
    * per-nation HHI. Revenue aggregates per customer first (exact decimal),
    * the rank comes from Prefix.over's distributed prefix-count over the
    * (rev, custkey) total order — no single task ever holds the customer
    * aggregate — and Σ rank·revenue is an exact
    * decimal sum, so the classic formula
    * G = 2·Σ i·xᵢ / (n·Σ xᵢ) − (n+1)/n is all-integer/decimal until the
    * final divides.
    */
  def revenueGini(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,6)").as("price"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("price")).as("rev"))
    Prefix.over(perCust, Seq(col("rev"), col("o_custkey")),
        Seq(Prefix.rowNumber("i")))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("rev")).as("s0"),
        sum(col("rev") * col("i")).as("s1"))
      .select(col("n_customers"),
        (round(col("s0").cast("double") * 10000) / 10000).as("total_rev"),
        (round((lit(2.0) * col("s1").cast("double")
          / (col("n_customers") * col("s0").cast("double"))
          - (col("n_customers") + lit(1)).cast("double") / col("n_customers"))
          * 1000000) / 1000000).as("gini"))
  }

  def soleLateSuppliers(spark: SparkSession, sfDir: String,
                        lateDays: Int = 60, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate"))
    // ONE pass over lineitem builds the whole (order, supplier, was-late)
    // membership table; both per-order counts and the late-supplier rows
    // come from it, so the fact is never rescanned for the subqueries (AQE
    // stage reuse collapses the shared flags subtree at runtime)
    val flags = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(datediff(col("l_shipdate"), col("o_orderdate")) > lateDays, 1L)
        .otherwise(0L)).as("late"))
    val per = flags.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("late")).as("n_late"))
    flags
      .where(col("late") === 1L)
      .join(per, "l_orderkey")
      .where(col("n_suppliers") >= 2 && col("n_late") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(k)
      // single-partition window over the already-limited k rows only
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("numwait").desc, col("l_suppkey"))))
      .select(col("rnk"), col("l_suppkey"), col("numwait"))
  }

  /** q132: local-supplier volume (TPC-H Q5 shape) — revenue per nation in
    * one region where the customer and the supplier sit in the SAME
    * nation. The residual c_nationkey = s_nationkey equality is what makes
    * this shape interesting: it's a predicate BETWEEN two different join
    * branches, applied after the fact joins, so no extra join is spent on
    * it. Only nation⨝region broadcasts by hint; customer/supplier joins
    * are left to stats, so the plan scales from broadcast to shuffle.
    */
  def localSupplierVolume(spark: SparkSession, sfDir: String,
                          regionName: String = "ASIA"): DataFrame = {
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    val rn = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
        .where(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(spark, sfDir)
      .where(year(col("o_orderdate")).between(1995, 1997))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(rn), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        (round(sum(col("rev")).cast("double") * 10000) / 10000).as("revenue"))
      .select(col("n_name").as("nation"), col("n_items"), col("revenue"))
  }

  /** q133: cross-nation trade volume (TPC-H Q7 shape) — shipped revenue
    * between two specific nations, by direction and ship year. Both
    * nation filters push into the supplier/customer dimension joins
    * (broadcast of two pre-filtered nation rows each side), so the fact
    * table never carries rows that can't satisfy the nation pair.
    */
  def crossNationTrade(spark: SparkSession, sfDir: String,
                       nationA: String = "NATION_1",
                       nationB: String = "NATION_2"): DataFrame = {
    val n = Tables.nation(spark, sfDir)
      .where(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey"), col("n_name"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"), rev.as("rev"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_items"),
        (round(sum(col("rev")).cast("double") * 10000) / 10000).as("volume"))
  }

  /** q134: disjunctive-predicate revenue (TPC-H Q19 shape) — sum of
    * discounted revenue under an OR of three brand/size/quantity AND
    * blocks, grouped by brand. The shape matters more than the numbers:
    * the OR must stay a residual on ONE part join (never three unioned
    * scans), the common l_quantity <= 30 envelope pushes into the
    * lineitem scan, and the p_size >= 1 envelope into part's.
    */
  def disjunctiveRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") <= 30) // envelope of all three branches
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
    val p = Tables.part(spark, sfDir)
      .where(col("p_size") >= 1)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val branch =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 5)
        && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 10)
        && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 15)
        && col("l_quantity").between(20, 30))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .where(branch)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        (round(sum(col("rev")).cast("double") * 10000) / 10000).as("revenue"))
  }

  /** q147: discounted-revenue scan (TPC-H Q6 shape) — no join at all: the
    * point is the SCAN. All three predicates (ship-year range, discount
    * band, quantity cap) push into the parquet reader and only the three
    * referenced columns are read; at 100 TB this is the difference between
    * a full-table read and row-group-pruned skimming. The aggregate is one
    * map-side-combined scalar.
    */
  def revenueScan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        (round(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double") * 10000) / 10000).as("revenue"))

  /** q148: product-line profit by nation and ship year (TPC-H Q9 shape;
    * this schema has no partsupp, so supply cost is proxied at 60% of
    * retail — the SHAPE is what matters: a name-filtered part dimension
    * prunes the fact early, supplier→nation resolves the group key, and
    * per-item profit is summed in exact decimal). part/supplier joins are
    * left to stats so the plan scales from broadcast to shuffle; only the
    * 25-row nation table is hint-broadcast.
    */
  def profitByNation(spark: SparkSession, sfDir: String,
                     namePattern: String = "%red%"): DataFrame = {
    val p = Tables.part(spark, sfDir)
      .where(col("p_name").like(namePattern))
      .select(col("p_partkey"), col("p_retailprice"))
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    // per-item profit in doubles in this exact association order (matches
    // the oracle), then decimal-snapped so the SUM is order-free
    val profit = (col("l_extendedprice") * (lit(1) - col("l_discount"))
      - lit(0.6) * col("p_retailprice") * col("l_quantity")).cast("decimal(18,6)")
    Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("o_year"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(count(lit(1)).as("n_items"),
        (round(sum(profit).cast("double") * 10000) / 10000).as("profit"))
  }

  /** q149: top supplier by quarterly revenue (TPC-H Q15 shape) — the
    * view-plus-max-subquery restated as one per-supplier aggregate, its
    * max as a broadcast one-row scalar, and an equality join back (ties
    * all surface, exactly like the reference query). Exact decimal revenue
    * makes "equals the max" deterministic — no float near-tie can drop or
    * double the winner.
    */
  def topSupplier(spark: SparkSession, sfDir: String,
                  qStart: String = "1996-01-01",
                  qEnd: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= lit(qStart).cast("timestamp") &&
        col("l_shipdate") < lit(qEnd).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,6)")).as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.join(broadcast(mx), col("total_rev") === col("mx"))
      .join(Tables.supplier(spark, sfDir).select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (round(col("total_rev").cast("double") * 10000) / 10000).as("total_rev"))
  }

  /** q150: small-quantity-order revenue (TPC-H Q17 shape) — the correlated
    * "below 20% of this part's average quantity" subquery decorrelated into
    * one per-part (sum, count) aggregate joined back, and the threshold
    * compare cross-multiplied (qty·5·cnt < sum) so it stays in exact
    * decimal: no division, no float threshold, no tie ambiguity. The two
    * lineitem reads share one scan via AQE stage reuse.
    */
  def smallQtyRevenue(spark: SparkSession, sfDir: String,
                      brand: String = "Brand#3"): DataFrame = {
    val b = Tables.part(spark, sfDir)
      .where(col("p_brand") === brand).select(col("p_partkey"))
    // l_partkey determines the brand, so BOTH consumers — the per-part
    // stats and the probe side — only ever need brand parts: prune the
    // fact to 1/|brands| once and share the subplan (AQE stage reuse)
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(b, col("l_partkey") === col("p_partkey"))
      .drop("p_partkey")
    val pq = li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("qsum"),
        count(lit(1)).as("qcnt"))
    li.join(pq, "l_partkey")
      .where(col("l_quantity").cast("decimal(18,6)") * lit(5) * col("qcnt")
        < col("qsum"))
      .agg(count(lit(1)).as("n_items"),
        (round(sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
          / 7.0 * 100) / 100).as("avg_yearly"))
  }

  /** q151: large-volume orders (TPC-H Q18 shape) — a HAVING on the
    * order-level quantity rollup filters to a handful of orders BEFORE any
    * dimension join, so customer/orders enrichment and the top-N run over
    * an already-tiny table, never the fact. Quantities are integral, so
    * the decimal sum and the >300 threshold are exact.
    */
  def bigOrders(spark: SparkSession, sfDir: String,
                minQty: Int = 300, k: Int = 10): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("total_qty"))
      .where(col("total_qty") > minQty)
    big
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_totalprice")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        unix_timestamp(col("o_orderdate")).as("order_e"),
        (round(col("o_totalprice") * 10000) / 10000).as("total_price"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(k)
  }

  /** q159: dormant high-balance customers by nation (TPC-H Q22 shape,
    * phone-prefix predicate swapped for the nation dimension this schema
    * carries) — customers whose balance beats the mean POSITIVE balance
    * yet placed no order on/after the dormancy cutoff. The correlated
    * scalar subquery decorrelates to a one-row aggregate broadcast
    * against the customer scan; the NOT EXISTS is a left-anti join to
    * the date-pruned orders slice keyed on custkey (the date filter
    * pushes into the parquet scan, so the anti side is a fraction of the
    * fact). Balances are money: the threshold compare is cross-
    * multiplied in DECIMAL(18,2) (bal·n > sum — exact), so no customer
    * can flip sides on float accumulation order, same trick as q150.
    */
  def custOpportunity(spark: SparkSession, sfDir: String,
                      dormantSince: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val thr = cust.where(col("bal") > 0)
      .agg(sum(col("bal")).as("spos"), count(lit(1)).as("npos"))
    cust.join(broadcast(thr))
      .where(col("bal") * col("npos") > col("spos"))
      .join(Tables.orders(spark, sfDir)
        .where(col("o_orderdate") >= dormantSince).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("numcust"),
        (round(sum(col("bal")).cast("double") * 100) / 100).as("totacctbal"))
  }

  /** q167: cheapest-supplier selection per part (TPC-H Q2 shape; this
    * schema has no partsupp, so the supply price is the part+supplier's
    * observed average unit price over lineitem history). The correlated
    * min-subquery decorrelates to a per-(part, supplier) aggregate and a
    * per-part argmin window — the window partitions by part (bounded by
    * suppliers-per-part, never global). Unit price divides two exact
    * decimal sums in one IEEE op snapped to 4 dp, and the argmin orders
    * by the SNAPPED price with suppkey tie-break, so the winner can't
    * flip on accumulation order. Part filter (p_size = 1) prunes at the
    * dimension scan and the fact join is a broadcast semi.
    */
  def minPriceSupplier(spark: SparkSession, sfDir: String,
                       size: Int = 1, k: Int = 25): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .where(col("p_size") === size).select(col("p_partkey"))
    val unit = Tables.lineitem(spark, sfDir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("ep"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("q"))
      .select(col("l_partkey"), col("l_suppkey"),
        (round(col("ep").cast("double") / col("q").cast("double")
          * 10000) / 10000).as("unit_price"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("unit_price"), col("l_suppkey"))
    unit.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .join(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
        col("s_name"), col("unit_price"))
      .orderBy(col("p_partkey"))
      .limit(k)
  }

  /** q164: reorder-cadence profile — days between a customer's consecutive
    * orders (lag over the per-customer order timeline), rolled up per
    * market segment: how often each segment re-buys and how spread its
    * cadence is. The window partitions by customer (millions of small
    * partitions, shuffle keyed on custkey — never a global sort) and the
    * gaps are exact integer day counts, so mean is a decimal-exact
    * integer ratio and the median interpolates two integers in one IEEE
    * op: cross-engine clean without a noise argument.
    */
  def reorderGaps(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"),
      col("o_orderkey"))
    val gaps = Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("gap_days",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
      .where(col("gap_days").isNotNull)
    gaps
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        (round(sum(col("gap_days").cast("decimal(18,2)")).cast("double")
          / count(lit(1)) * 10000) / 10000).as("avg_gap_days"),
        (round(expr("percentile(gap_days, 0.5)") * 10000) / 10000)
          .as("median_gap_days"),
        max(col("gap_days")).cast("bigint").as("max_gap_days"))
  }

  /** q204: CUBE rollup of discounted revenue over (returnflag, linestatus)
    * — the full 2^k grouping-set lattice in ONE pass (q35 covers the
    * hierarchical ROLLUP; CUBE adds the cross-slices a BI layer asks
    * for). Catalyst expands the lattice map-side (each input row feeds
    * all four grouping sets before the single shuffle), so the cost is
    * one aggregate, not four scans. NULL group keys are disambiguated by
    * grouping() bits (gid), the portable form of GROUPING SETS identity;
    * per-term decimal casts keep the revenue sums order-free.
    */
  def cubeRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg((round(sum(col("rev").cast("decimal(18,6)")).cast("double")
          * lit(10000)) / lit(10000.0)).as("revenue"),
        count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2
          + grouping(col("l_linestatus"))).cast("int").as("gid"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("gid"), col("revenue"), col("n"))
  }

  /** q175: late-fulfilment census per order priority (TPC-H Q4 shape —
    * evaluation.py's "did the alarm fire in time" question asked of the
    * order stream). The EXISTS becomes a left-semi join whose non-equi
    * residual (l_shipdate more than 60 days after o_orderdate) rides the
    * o_orderkey equi-join: lineitem is never aggregated, the probe stops
    * at an order's first late line, and the date filter prunes the orders
    * scan before the join.
    */
  def priorityWait(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** q176: late-line priority mix per ship year (TPC-H Q12 shape — the
    * schema has no shipmode/receiptdate, so "late" is shipped >60 days
    * after order date and the two-way split is urgent/high vs the rest).
    * One fact-fact shuffle join on orderkey with the lateness residual,
    * then conditional counts over the handful of ship years — the
    * critical-vs-routine service-level mix a logistics dashboard reads.
    */
  def lateShipMix(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(year(col("l_shipdate")).as("ship_year"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  /** q177: customer order-count distribution (TPC-H Q13 shape): LEFT join
    * so never-ordered customers land in the zero bucket, with the order
    * filter (here: priority ≠ 5-LOW, standing in for Q13's comment
    * pattern) applied on the orders side BEFORE the join — ON-clause
    * semantics, a customer whose only orders are low-priority still counts
    * as zero. Two-level aggregate: per-customer counts shuffle on the
    * customer key, then the count-of-counts rollup is O(distinct counts).
    */
  def custDist(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"))
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") =!= "5-LOW")
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** q178: supplier breadth per (brand, size) (TPC-H Q16 shape — no
    * partsupp table, so the observed DISTINCT (part, supplier) pairs from
    * lineitem stand in for the catalog). The "complaints" NOT IN becomes a
    * left-anti join against the negative-balance suppliers (a broadcast —
    * the excluded set is tiny); the pair table is deduplicated BEFORE any
    * join so the countDistinct shuffles pairs, never raw lineitems.
    */
  def supplierBreadth(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val p = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= "Brand#11")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val bad = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    pairs
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** q179: dominant-supplier census (TPC-H Q20 shape — without partsupp
    * the "stocks more than half the shipped volume" test becomes "shipped
    * more than 1.5x the fair share of a multi-supplier part's volume").
    * The nested aggregate stays exact: per-(part, supplier) and per-part
    * quantity sums are DECIMAL, and the share test cross-multiplies
    * (2·q·n_supp > 3·total) so no division ever enters the predicate. The
    * per-part totals reuse the pair aggregate (AQE stage reuse — the fact
    * is scanned once); dimensions join AFTER the filter, against the
    * handful of surviving rows.
    */
  /** q190: important parts by observed national inventory value (TPC-H Q11
    * shape — no partsupp, so "stock value" is the shipped extended-price
    * volume from one nation's suppliers). The correlated HAVING-subquery
    * threshold decorrelates to a broadcast one-row (total, n_parts)
    * aggregate; the cut is SCALE-FREE — parts above 1.5x the mean part
    * value — and cross-multiplies in DECIMAL (2·value·n > 3·total) so no
    * division enters the predicate, the same discipline as q150/q179 (a
    * fixed share like Q11's 0.0001 empties out as the part count grows).
    * Nation filter prunes the supplier dimension to a broadcast before
    * the fact join.
    */
  def importantParts(spark: SparkSession, sfDir: String,
                     nationName: String = "NATION_3"): DataFrame = {
    val n = Tables.nation(spark, sfDir)
      .where(col("n_name") === nationName).select(col("n_nationkey"))
    val s = Tables.supplier(spark, sfDir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val pv = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("pval"))
    val tot = pv.agg(sum(col("pval")).as("total"), count(lit(1)).as("np"))
    pv.crossJoin(broadcast(tot))
      .where(col("pval") * 2 * col("np") > col("total") * 3)
      .select(col("l_partkey"), col("pval").cast("double").as("part_value"),
        (round(col("pval").cast("double") / col("total").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("share"))
  }

  def dominantSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("supp_qty"))
    val tot = ps.groupBy(col("l_partkey"))
      .agg(sum(col("supp_qty")).as("part_qty"), count(lit(1)).as("n_supp"))
    ps.join(tot, "l_partkey")
      .filter(col("n_supp") >= 2 &&
        col("supp_qty") * 2 * col("n_supp") > col("part_qty") * 3)
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_suppkey"), col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("n_parts_dominated"))
  }

  /** q216: unpivot the lineitem measure columns into (measure, value) rows
    * and profile each — the melt/long-form primitive every EDA pipeline
    * starts with (the reference's describe() equivalent). `stack` expands
    * rows inside the scan projection (no join, no shuffle beyond the final
    * 4-group aggregate), so the wide→long reshape is free at any scale;
    * moments use the standard decimal-snapped power sums.
    */
  def unpivotMeasures(spark: SparkSession, sfDir: String): DataFrame = {
    val long = Tables.lineitem(spark, sfDir)
      .select(expr(
        "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
          + " 'discount', l_discount, 'tax', l_tax) AS (measure, val)"))
    long.groupBy(col("measure"))
      .agg(count(lit(1)).as("n"),
        sum(col("val").cast("decimal(18,6)")).as("s1"),
        sum((col("val") * col("val")).cast("decimal(28,6)")).as("s2"),
        min(col("val")).as("mn"), max(col("val")).as("mx"))
      .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
      .select(col("measure"), col("n"),
        r4(col("mean")).as("mean"),
        r4(sqrt((col("s2").cast("double")
          - col("n").cast("double") * col("mean") * col("mean"))
          / (col("n") - 1).cast("double"))).as("sd"),
        r4(col("mn")).as("min_val"),
        r4(col("mx")).as("max_val"))
  }

  /** q217: 30-day trailing revenue per customer via a RANGE window frame —
    * the event-time sliding aggregate that ROWS frames get wrong whenever
    * activity is irregular (a ROWS 29-preceding frame spans 29 ORDERS, not
    * 29 DAYS). Orders first collapse to per-(customer, day) decimal
    * subtotals, so the range frame slides over exact decimals — sums are
    * order-free — and the window partition is per customer: no global
    * sort, perfectly key-parallel at any scale.
    */
  def rangeFrameRevenue(spark: SparkSession, sfDir: String): DataFrame =
    rangeFrameRevenue(spark, Tables.orders(spark, sfDir))

  def rangeFrameRevenue(spark: SparkSession, orders: DataFrame): DataFrame = {
    val daily = orders
      .select(col("o_custkey"),
        expr("CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)")
          .as("d"),
        col("o_totalprice"))
      .groupBy(col("o_custkey"), col("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("day_rev"))
    val w30 = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-29, 0)
    daily
      .withColumn("rev30", sum(col("day_rev")).over(w30))
      .withColumn("days30", count(lit(1)).over(w30))
      .select(col("o_custkey"), col("d"),
        r4(col("day_rev").cast("double")).as("day_rev"),
        r4(col("rev30").cast("double")).as("rev30"),
        col("days30"))
  }

  /** q218: month-over-month revenue growth per nation with a 3-month
    * moving average — the reporting staple (lag + pct-change + smoothing)
    * over the orders→customer→nation star. Monthly subtotals are exact
    * decimals; lag/moving-average windows are per nation over ~84 month
    * rows, so the window stage is negligible no matter how large the fact
    * table is — all the data motion is in the one monthly groupBy.
    */
  def momGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val monthly = Tables.orders(spark, sfDir)
      .join(broadcast(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .as("ym"),
        col("o_totalprice"))
      .groupBy(col("nation"), col("ym"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
    val ord = Window.partitionBy(col("nation")).orderBy(col("ym"))
    val ma = ord.rowsBetween(-2, 0)
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(ord))
      .withColumn("ma3_s", sum(col("rev")).over(ma))
      .withColumn("ma3_n", count(lit(1)).over(ma))
      .select(col("nation"), col("ym"),
        r4(col("rev").cast("double")).as("revenue"),
        // zero-revenue previous month ⇒ growth undefined: NULL on both
        // engines (Spark ANSI would throw on the 0/0; DuckDB yields NULL)
        when(col("prev").cast("double") === 0.0, lit(null)).otherwise(
          round((col("rev").cast("double") - col("prev").cast("double"))
            / col("prev").cast("double") * lit(1000000))
          / lit(1000000.0)).as("mom_pct"),
        r4(col("ma3_s").cast("double") / col("ma3_n").cast("double"))
          .as("ma3"))
  }

  /** q243: revenue-weighted median unit price per return flag — the
    * weighted-quantile primitive (where does the MONEY sit, not the row
    * count; a plain median over rows is dominated by cheap high-volume
    * lines). Prices snap to decimals, per-price revenue aggregates first,
    * and the median is the first price whose doubled cumulative revenue
    * reaches the total — an EXACT decimal comparison, no float boundary.
    * The cumulative window runs per flag over the price-distinct
    * aggregate, not the fact table.
    */
  def weightedMedianPrice(spark: SparkSession, sfDir: String): DataFrame = {
    // zero-quantity lines have no defined unit price (0-division): both
    // engines exclude them from the price census
    val pp = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") > 0)
      .select(col("l_returnflag"),
        (col("l_extendedprice") / col("l_quantity"))
          .cast("decimal(18,6)").as("price"),
        col("l_extendedprice").cast("decimal(18,2)").as("rev"))
      .groupBy(col("l_returnflag"), col("price"))
      .agg(sum(col("rev")).as("rev"))
    val ord = Window.partitionBy(col("l_returnflag")).orderBy(col("price"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("l_returnflag"))
    val first = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("price"))
    pp
      .withColumn("cum", sum(col("rev")).over(cum))
      .withColumn("tot", sum(col("rev")).over(tot))
      .where(col("cum") * 2 >= col("tot"))
      .withColumn("rn", row_number().over(first))
      .where(col("rn") === 1)
      .select(col("l_returnflag"),
        round(col("price").cast("double"), 4).as("weighted_median_price"),
        round(col("tot").cast("double"), 2).as("total_rev"))
  }

  /** q244: Lorenz curve of customer revenue concentration in deciles —
    * the distributional VIEW behind q121's single Gini number (which
    * decile holds what share; the retention/whale planning table). The
    * decile assignment runs over the per-customer AGGREGATE with the order
    * fully determined by (revenue, custkey) — but through Prefix.over's
    * distributed prefix-count plus the closed-form ntile reconstruction,
    * so no single task ever holds the customer table.
    */
  def lorenzDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val cr = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val n = cr.agg(count(lit(1)).as("n_total"))
    val byDecile = Prefix.over(cr.crossJoin(broadcast(n)),
        Seq(col("rev"), col("o_custkey")), Seq(Prefix.rowNumber("rn")))
      .withColumn("decile",
        Prefix.ntileFromRowNumber(col("rn"), col("n_total"), 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("dec_rev"))
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    byDecile
      .withColumn("cum_rev", sum(col("dec_rev")).over(cum))
      .withColumn("tot_rev", sum(col("dec_rev")).over(tot))
      .select(col("decile"), col("n_cust"),
        round(col("dec_rev").cast("double"), 2).as("decile_rev"),
        (round(col("cum_rev").cast("double")
          / col("tot_rev").cast("double") * lit(1000000))
          / lit(1000000.0)).as("cum_share"))
  }

  /** q236: one-pass column profile of lineitem — null count, distinct
    * count, min/max (canonicalized to strings) per column, the
    * `describe()`-style data-quality audit every ingestion run fronts
    * with. ALL columns profile in ONE aggregate (Catalyst plans the
    * multi-distinct via Expand — still a single scan); the long-format
    * reshape explodes a 6-element struct array AFTER aggregation, so the
    * reshape touches 6 rows, not the data.
    */
  def columnProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
      "l_extendedprice", "l_returnflag", "l_shipdate")
    // canonical min/max rendering per type: integers and strings cast
    // directly; doubles snap to DECIMAL(18,4) first (both engines render
    // fixed-scale decimals identically — raw double→string formatting
    // does NOT agree across engines); timestamps via their string form
    def typed(c: String) = c match {
      case "l_quantity" | "l_extendedprice" => col(c).cast("decimal(18,4)")
      case _ => col(c)
    }
    val aggs = cols.flatMap { c =>
      // min/max on the TYPED value (string min would be lexicographic),
      // string-rendered only at the end
      Seq(count(lit(1)).minus(count(col(c))).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct"),
        min(typed(c)).cast("string").as(s"${c}_min"),
        max(typed(c)).cast("string").as(s"${c}_max"))
    }
    val one = li.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val structs = cols.map { c =>
      s"struct('$c' AS col_name, n_rows, ${c}_nulls AS n_nulls, " +
        s"${c}_distinct AS n_distinct, ${c}_min AS min_s, ${c}_max AS max_s)"
    }.mkString("array(", ", ", ")")
    one.select(explode(expr(structs)).as("p")).select(col("p.*"))
  }

  /** q237: referential-integrity orphan census — child rows whose foreign
    * key has no parent, per relation edge of the star schema. Each check
    * is one left-anti join on the key (the parent side shrinks to its key
    * column before the join, so the whole audit is key-join-bounded); the
    * three relations report in one unioned frame.
    */
  def fkOrphans(spark: SparkSession, sfDir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
              parent: DataFrame, pkey: String): DataFrame = {
      val orphans = child.select(col(key))
        .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(rel).as("relation"), col("n_child"), col("n_orphans"),
          (round(col("n_orphans").cast("double")
            / col("n_child").cast("double") * lit(1000000))
            / lit(1000000.0)).as("orphan_frac"))
    }
    audit("lineitem->orders", Tables.lineitem(spark, sfDir), "l_orderkey",
      Tables.orders(spark, sfDir), "o_orderkey")
      .union(audit("orders->customer", Tables.orders(spark, sfDir),
        "o_custkey", Tables.customer(spark, sfDir), "c_custkey"))
      .union(audit("customer->nation", Tables.customer(spark, sfDir),
        "c_nationkey", Tables.nation(spark, sfDir), "n_nationkey"))
  }

  /** q238: 2-D Pareto frontier (SKYLINE) over per-part (min unit price,
    * max shipped quantity) — the parts no other part beats on BOTH
    * cheapness and volume. After the per-part aggregate the skyline is
    * one prefix pass: sort by price asc (tie: qty desc, partkey), keep
    * rows whose qty strictly exceeds the running max qty of everything
    * cheaper — O(parts log parts), never a dominance self-join. The
    * running max is Prefix.over's distributed exclusive prefix-max over
    * the per-part AGGREGATE, so no single task ever holds the part table.
    */
  def paretoFrontier(spark: SparkSession, sfDir: String): DataFrame = {
    // zero-quantity lines define no unit price — excluded on both engines
    val pp = Tables.lineitem(spark, sfDir)
      .where(col("l_quantity") > 0)
      .groupBy(col("l_partkey"))
      .agg(min((col("l_extendedprice") / col("l_quantity"))
        .cast("decimal(18,6)")).as("unit_price"),
        max(col("l_quantity")).as("max_qty"))
    Prefix.over(pp,
        Seq(col("unit_price"), col("max_qty").desc, col("l_partkey")),
        Seq(Prefix.Agg(col("max_qty"), "best_prior", "max", inclusive = false)))
      .where(col("best_prior").isNull
        || col("max_qty") > col("best_prior"))
      .select(col("l_partkey"),
        round(col("unit_price").cast("double"), 4).as("unit_price"),
        col("max_qty"))
  }

  /** q235: ordered string aggregation — each user's top-3 event types as
    * one pipe-joined string, the "summarize a group as a label" reshape
    * (session descriptors, basket signatures) that needs DETERMINISTIC
    * collect order: collect_list alone is partition-order-dependent, so
    * the list is array_sort'ed on (count desc ⇒ negative count asc, name)
    * struct keys before joining. The per-user type census is bounded by
    * the event-type vocabulary, so the collect is a tiny constant per key.
    */
  def topTypesConcat(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rnk", row_number().over(wTop))
      .where(col("rnk") <= 3)
      .groupBy(col("user_id"))
      .agg(
        sum(col("n")).as("top3_events"),
        concat_ws("|",
          expr("transform(array_sort(collect_list(struct(-n AS negn, " +
            "event_type AS t, n AS n))), s -> concat(s.t, ':', s.n))"))
          .as("top_types"))
  }

  /** q220: explicit GROUPING SETS — the non-lattice aggregate shape that
    * CUBE (q204) and ROLLUP (q35) can't express: exactly the marginals the
    * report needs ((rflag, year), (lstatus, year), (year), ()) in ONE
    * shuffle instead of four union'd scans. gid decodes which set each row
    * came from via the grouping() bits. Executed through Spark SQL so
    * Catalyst's Expand operator plans the multi-set replication.
    */
  def groupingSetsMix(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.lineitem(spark, sfDir)
      .withColumn("l_year", year(col("l_shipdate")))
      .createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT coalesce(l_returnflag, 'ALL') rflag,
        |  coalesce(l_linestatus, 'ALL') lstatus,
        |  coalesce(CAST(l_year AS STRING), 'ALL') yr,
        |  CAST(grouping(l_returnflag)*4 + grouping(l_linestatus)*2
        |    + grouping(l_year) AS INT) gid,
        |  round(CAST(sum(CAST(l_extendedprice*(1 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE)*10000)/10000 AS revenue,
        |  count(*) AS n
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag, l_year),
        |  (l_linestatus, l_year), (l_year), ())""".stripMargin)
  }

  /** q249: audience overlap between the two halves of the observation
    * window through the SQL set operators — users active in both halves
    * (INTERSECT), lost (EXCEPT), gained (reversed EXCEPT), and reach
    * (UNION). Each operand is a distinct user set, so Catalyst plans
    * hash-aggregate set ops on the user key: the same one-shuffle
    * cardinality each a groupBy would cost, with no row-level flags to
    * maintain. At 100 TB the distinct sets are the only shuffles and the
    * four counts are O(1)-row reduces off them.
    */
  def periodSetOps(events: DataFrame): DataFrame = {
    val split = lit("2024-01-16 00:00:00").cast("timestamp")
    val u1 = events.where(col("ts") < split).select(col("user_id")).distinct()
    val u2 = events.where(col("ts") >= split).select(col("user_id")).distinct()
    def seg(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("segment"), col("n_users"))
    seg("both", u1.intersect(u2))
      .unionAll(seg("only_first", u1.except(u2)))
      .unionAll(seg("only_second", u2.except(u1)))
      .unionAll(seg("either", u1.union(u2).distinct()))
  }

  def periodSetOps(spark: SparkSession, sfDir: String): DataFrame =
    periodSetOps(Tables.events(spark, sfDir))

  /** q250: trailing 7-day distinct active users per day — the windowed
    * COUNT(DISTINCT) that plain window frames cannot express (distinct
    * isn't decomposable over sliding frames). The scalable shape: collapse
    * the fact to distinct (day, user) FIRST (the only data-sized shuffle),
    * then fan each row out to the ≤7 windows it feeds — a 7× blowup of
    * the already-tiny distinct table, not of the fact — re-distinct on
    * (window, user) to absorb users active on several days of one window,
    * and count. Early days report partial (shorter) trailing windows;
    * days past the data's end are clipped against the broadcast max-day.
    */
  def rollingDistinctUsers(events: DataFrame): DataFrame = {
    val du = events
      .select((floor(unix_timestamp(col("ts")) / 86400)).cast("bigint").as("day"),
        col("user_id"))
      .distinct()
    val mx = du.agg(max(col("day")).as("max_day"))
    du.select(explode(sequence(col("day"), col("day") + 6)).as("win_day"),
        col("user_id"))
      .crossJoin(broadcast(mx))
      .where(col("win_day") <= col("max_day"))
      .select(col("win_day").as("day_num"), col("user_id"))
      .distinct()
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_users_7d"))
  }

  def rollingDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    rollingDistinctUsers(Tables.events(spark, sfDir))

  /** q260: exact event-dedup census — duplicates defined as identical
    * (user, type, value) tuples landing in the same 5-minute bucket (the
    * at-least-once-delivery signature: a retried producer re-emits the
    * same payload seconds apart). Per series: raw volume, surviving
    * volume under keep-one-per-tuple, and the dup rate — the BATCH ledger
    * of what the streaming dedup (stream_dedup) drops in flight. Two
    * aggregates on the same key prefix, so the second groupBy reuses the
    * first shuffle's partitioning.
    */
  def eventDedupCensus(events: DataFrame): DataFrame = {
    val keyed = events.select(col("event_type"), col("user_id"), col("value"),
      (floor(unix_timestamp(col("ts")) / 300)).cast("bigint").as("bkt"))
    val uniq = keyed
      .groupBy(col("event_type"), col("user_id"), col("value"), col("bkt"))
      .agg(count(lit(1)).as("copies"))
    uniq.groupBy(col("event_type"))
      .agg(sum(col("copies")).as("n_raw"),
        count(lit(1)).as("n_unique"))
      .withColumn("dup_rate",
        round((col("n_raw") - col("n_unique")).cast("double")
          / col("n_raw").cast("double") * lit(10000)) / lit(10000.0))
  }

  def eventDedupCensus(spark: SparkSession, sfDir: String): DataFrame =
    eventDedupCensus(Tables.events(spark, sfDir))

  /** q264: RFM segmentation census — every customer scored into
    * recency/frequency/monetary quintiles (1 = best: most recent, most
    * orders, highest spend), segments = the concatenated code, reported
    * with size and average spend. The classic CRM partition, and a
    * multi-metric window shape: three quintile assignments over the
    * per-customer aggregate, each with a deterministic (metric, custkey)
    * tie-break. Each quintile is a Prefix.over distributed prefix-count
    * on its own total order plus the closed-form ntile reconstruction —
    * three parallel range-bucketed passes over the CUSTOMER aggregate, no
    * single-task window anywhere.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val per = orders.groupBy(col("o_custkey")).agg(
      max(floor(unix_timestamp(col("o_orderdate")) / lit(86400))
        .cast("bigint")).as("last_day"),
      count(lit(1)).as("freq"),
      sum(col("o_totalprice").cast("decimal(18,2)")).as("monetary"))
    val n = per.agg(count(lit(1)).as("n_total"))
    val ranked = Seq(
      (Seq(col("last_day").desc, col("o_custkey")), "r_rn"),
      (Seq(col("freq").desc, col("o_custkey")), "f_rn"),
      (Seq(col("monetary").desc, col("o_custkey")), "m_rn"))
      .foldLeft(per.crossJoin(broadcast(n))) { case (acc, (ord, out)) =>
        Prefix.over(acc, ord, Seq(Prefix.rowNumber(out)))
      }
    ranked
      .withColumn("r_q", Prefix.ntileFromRowNumber(col("r_rn"), col("n_total"), 5))
      .withColumn("f_q", Prefix.ntileFromRowNumber(col("f_rn"), col("n_total"), 5))
      .withColumn("m_q", Prefix.ntileFromRowNumber(col("m_rn"), col("n_total"), 5))
      .withColumn("segment",
        (col("r_q") * 100 + col("f_q") * 10 + col("m_q")).cast("int"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        (round((sum(col("monetary")).cast("double")
          / count(lit(1))) * lit(100)) / lit(100.0)).as("avg_monetary"))
  }

  def rfmSegments(spark: SparkSession, sfDir: String): DataFrame =
    rfmSegments(Tables.orders(spark, sfDir))

  /** q272: exact mode per group — the most frequent l_quantity per return
    * flag with its count and share (the aggregate SQL lacks natively;
    * approximate sketches get it wrong on close ties, and ML feature
    * pipelines need the exact answer for categorical imputation). Shape:
    * value-counts groupBy (map-side combinable, |groups|·|distinct
    * values| rows out) then an argmax window over that bounded table,
    * ties broken on the smaller value.
    */
  def modePerGroup(lineitem: DataFrame): DataFrame = {
    val counts = lineitem
      .groupBy(col("l_returnflag"), col("l_quantity").cast("int").as("q"))
      .agg(count(lit(1)).as("cnt"))
    val tot = lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("cnt").desc, col("q"))
    counts.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(tot, "l_returnflag")
      .select(col("l_returnflag"), col("q").as("mode_qty"),
        col("cnt").as("mode_count"), col("n"),
        (round(col("cnt").cast("double") / col("n").cast("double")
          * lit(1000000)) / lit(1000000.0)).as("mode_share"))
  }

  def modePerGroup(spark: SparkSession, sfDir: String): DataFrame =
    modePerGroup(Tables.lineitem(spark, sfDir))

  /** q274: against-the-tide census — customers whose year-over-year spend
    * moved AGAINST their nation's aggregate (grew while the nation
    * shrank, or the reverse) between two fixed years. The analytical
    * shape: one conditional aggregate per customer (two years side by
    * side), the nation tide re-aggregated from the same rows, and the
    * divergence test is a sign comparison — no self-join, no window over
    * the fact. Flat-to-flat cases count to neither side.
    */
  def againstTide(orders: DataFrame, customer: DataFrame,
                  nation: DataFrame, y1: Int = 1996, y2: Int = 1997): DataFrame = {
    val per = orders
      .withColumn("yr", year(col("o_orderdate")))
      .where(col("yr") === y1 || col("yr") === y2)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(col("yr") === y1, col("o_totalprice").cast("decimal(18,2)")))
          .as("r1"),
        sum(when(col("yr") === y2, col("o_totalprice").cast("decimal(18,2)")))
          .as("r2"))
      .withColumn("d", coalesce(col("r2"), lit(0).cast("decimal(18,2)"))
        - coalesce(col("r1"), lit(0).cast("decimal(18,2)")))
    val withNation = per
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    val tide = withNation.groupBy(col("n_name"))
      .agg(sum(col("d")).as("nation_delta"))
    withNation.join(broadcast(tide), "n_name")
      .groupBy(col("n_name"), col("nation_delta"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("d") > 0 && col("nation_delta") < 0, 1L)
          .otherwise(0L)).as("n_up_against"),
        sum(when(col("d") < 0 && col("nation_delta") > 0, 1L)
          .otherwise(0L)).as("n_down_against"))
      .select(col("n_name").as("nation"),
        col("nation_delta").cast("double").as("nation_delta"),
        col("n_customers"), col("n_up_against"), col("n_down_against"))
  }

  def againstTide(spark: SparkSession, sfDir: String): DataFrame =
    againstTide(Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir))

  /** q276: price–volume–mix revenue bridge per nation, 1996 → 1997 — the
    * finance-classic waterfall: ΔR decomposed EXACTLY into a volume
    * effect (ΔQ at old unit price) and a price effect (new volume ×
    * Δunit-price), with ΔR = volume + price by construction when unit
    * price is revenue/quantity. One scan builds the per-(nation, year)
    * quantity/revenue moments (conditional aggregate, two years side by
    * side); the decomposition is row-local arithmetic over 25 rows.
    */
  def priceVolumeMix(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, nation: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"),
      col("l_quantity"), col("l_extendedprice"))
    val facts = li
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .where(col("yr") === 1996 || col("yr") === 1997)
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
    facts.groupBy(col("n_name"))
      .agg(
        sum(when(col("yr") === 1996, col("l_quantity").cast("decimal(18,2)")))
          .as("q1"),
        sum(when(col("yr") === 1997, col("l_quantity").cast("decimal(18,2)")))
          .as("q2"),
        sum(when(col("yr") === 1996,
          col("l_extendedprice").cast("decimal(18,2)"))).as("r1"),
        sum(when(col("yr") === 1997,
          col("l_extendedprice").cast("decimal(18,2)"))).as("r2"))
      .withColumn("p1", col("r1").cast("double") / col("q1").cast("double"))
      .withColumn("p2", col("r2").cast("double") / col("q2").cast("double"))
      .withColumn("volume_effect",
        (col("q2").cast("double") - col("q1").cast("double")) * col("p1"))
      .withColumn("price_effect",
        col("q2").cast("double") * (col("p2") - col("p1")))
      .select(col("n_name").as("nation"),
        (col("r2") - col("r1")).cast("double").as("delta_rev"),
        (round(col("volume_effect") * lit(100)) / lit(100.0))
          .as("volume_effect"),
        (round(col("price_effect") * lit(100)) / lit(100.0))
          .as("price_effect"))
  }

  def priceVolumeMix(spark: SparkSession, sfDir: String): DataFrame =
    priceVolumeMix(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.nation(spark, sfDir))

  /** q277: foreign-key fan-out profile — the 1:N cardinality histogram of
    * each core join edge (orders→lineitem, customer→orders), in q70's
    * integer-exact power-of-2 buckets. The data-engineering profile that
    * sizes shuffle partitions and flags hidden skew before it burns a
    * production join: a fat tail here is the empirical trigger for the
    * salted-join/AQE paths. Two map-combinable aggregates per edge
    * (per-key counts, then bucket census); output is O(log fan-out) rows.
    */
  def fanoutProfile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def profile(rel: String, df: DataFrame, key: String): DataFrame = {
      val per = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      val tot = per.agg(count(lit(1)).as("n_keys"))
      // floor(log2 n) via binary string length (q70's integer-exact idiom
      // — a ln-ratio log2 can land at 2.9999…96 on exact powers of two)
      per.withColumn("bucket",
          expr("CAST(power(2, length(bin(n)) - 1) AS BIGINT)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("keys_in_bucket"), max(col("n")).as("max_fanout"))
        .crossJoin(broadcast(tot))
        .select(lit(rel).as("relation"), col("bucket"),
          col("keys_in_bucket"),
          (round(col("keys_in_bucket").cast("double")
            / col("n_keys").cast("double") * lit(10000)) / lit(10000.0))
            .as("share"),
          col("max_fanout"))
    }
    profile("orders->lineitem", lineitem, "l_orderkey")
      .unionAll(profile("customer->orders", orders, "o_custkey"))
  }

  def fanoutProfile(spark: SparkSession, sfDir: String): DataFrame =
    fanoutProfile(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))

  /** q280: rollup-consistency proof — monthly revenue computed BOTH ways:
    * direct from the fact, and merged from precomputed per-day subtotals
    * (the incremental-pipeline pattern: daily partitions aggregate once,
    * months are merges of day rows, backfills touch one day). Because
    * every per-day subtotal is an exact decimal, merge-then-report equals
    * direct-report bit-for-bit, and the emitted `consistent` flag proves
    * it IN the result — the property that makes incremental aggregation
    * safe to ship. Double sums would break this silently; that's the
    * point of the decimal contract.
    */
  def rollupConsistency(orders: DataFrame): DataFrame = {
    val base = orders.select(
      year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dom"),
      col("o_totalprice").cast("decimal(18,2)").as("p"))
    val daily = base.groupBy(col("yr"), col("mo"), col("dom"))
      .agg(sum(col("p")).as("day_rev"), count(lit(1)).as("day_n"))
    val merged = daily.groupBy(col("yr"), col("mo"))
      .agg(sum(col("day_rev")).as("rev_merged"),
        sum(col("day_n")).as("n_merged"),
        count(lit(1)).as("n_days"))
    val direct = base.groupBy(col("yr"), col("mo"))
      .agg(sum(col("p")).as("rev_direct"), count(lit(1)).as("n_direct"))
    merged.join(direct, Seq("yr", "mo"))
      .select(col("yr"), col("mo"), col("n_days"),
        col("rev_merged").cast("double").as("rev_merged"),
        col("rev_direct").cast("double").as("rev_direct"),
        (col("rev_merged") === col("rev_direct")
          && col("n_merged") === col("n_direct")).as("consistent"))
  }

  def rollupConsistency(spark: SparkSession, sfDir: String): DataFrame =
    rollupConsistency(Tables.orders(spark, sfDir))

  /** q285: association-rule confidence over order baskets — for the
    * support≥2 co-purchased part pairs (the graph family threshold), the DIRECTED rule strength
    * conf(a→b) = supp(ab)/supp(a) (q99's session lift is symmetric;
    * recommendations need the asymmetric number — "of the orders with a,
    * how many also had b"). Same bounded per-order pair fan-out as the
    * co-purchase graph; per-part supports broadcast back; top-10 rules by
    * (confidence, pair) over the support-thresholded pair table.
    */
  def basketConfidence(lineitem: DataFrame, minSupport: Long = 2,
                       topN: Int = 10): DataFrame = {
    val li = lineitem.select("l_orderkey", "l_partkey").distinct()
    val supp1 = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("s"))
    val pairs = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("ante"), col("b.l_partkey").as("cons"))
      .agg(count(lit(1)).as("s_ab"))
      .where(col("s_ab") >= minSupport)
    val w = Window.orderBy(col("conf").desc, col("ante"), col("cons"))
    pairs
      .join(supp1.select(col("l_partkey").as("ante"), col("s").as("s_a")),
        "ante")
      .withColumn("conf",
        round(col("s_ab").cast("double") / col("s_a").cast("double")
          * lit(10000)) / lit(10000.0))
      // topN window runs over the support-thresholded RULE table (tiny);
      // at larger scale it becomes a TakeOrderedAndProject
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= topN)
      .select(col("rnk"), col("ante"), col("cons"), col("s_ab"),
        col("s_a"), col("conf"))
  }

  def basketConfidence(spark: SparkSession, sfDir: String): DataFrame =
    basketConfidence(Tables.lineitem(spark, sfDir))

  /** q345: weekday return-rate profile with Wilson 95% score intervals —
    * does merchandise shipped on a weekend really come back more often, or
    * is the lift inside the interval? The Wilson form (unlike the naive
    * Wald ±z√(p(1-p)/n)) stays inside [0,1] and behaves at small n, so the
    * seven rows remain honest even on a thin slice of the fact table.
    *
    * Scale shape: ONE map-side-combinable aggregate over the fact scan
    * projecting two columns (ship day, return flag) to 7 rows; every
    * interval is closed-form arithmetic on the two integer counts, so the
    * output is deterministic at any partitioning. z is pinned 1.96 and
    * enters both engines as the same double-constant expression tree.
    */
  def wilsonReturns(lineitem: DataFrame): DataFrame = {
    val z2 = 1.96 * 1.96
    val g = lineitem
      .select(
        pmod(floor(unix_timestamp(col("l_shipdate")) / 86400L) + 4, lit(7))
          .cast("int").as("ship_dow"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
      .groupBy(col("ship_dow"))
      .agg(count(lit(1)).as("n_lines"), sum(col("r")).as("n_returns"))
    g.withColumn("nn", col("n_lines").cast("double"))
      .withColumn("p", col("n_returns").cast("double") / col("nn"))
      .withColumn("den", lit(1.0) + lit(z2) / col("nn"))
      .withColumn("center",
        (col("p") + lit(z2) / (lit(2.0) * col("nn"))) / col("den"))
      .withColumn("half",
        lit(1.96) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nn")
          + lit(z2) / (lit(4.0) * col("nn") * col("nn"))) / col("den"))
      .select(col("ship_dow"), col("n_lines"), col("n_returns"),
        (round(col("p") * 1000000) / 1000000.0).as("return_rate"),
        (round((col("center") - col("half")) * 1000000) / 1000000.0)
          .as("wilson_lo"),
        (round((col("center") + col("half")) * 1000000) / 1000000.0)
          .as("wilson_hi"))
  }

  def wilsonReturns(spark: SparkSession, sfDir: String): DataFrame =
    wilsonReturns(Tables.lineitem(spark, sfDir))

  /** q349: purchase-diversity census — per-customer Shannon entropy of the
    * brand mix, rolled up to market segment as average entropy, average
    * ln(k)-normalized entropy, and average brand breadth. The assortment
    * question ("are BUILDING customers brand-loyal or brand-promiscuous?")
    * that raw brand share tables (q66) can't answer, because entropy is a
    * per-CUSTOMER property that averages destroy unless computed before
    * the rollup.
    *
    * Scale shape: two key-partitioned shuffle joins (orderkey, partkey —
    * no broadcast of the 100 TB part side), one (customer, brand)
    * map-combinable count, a customer-PARTITIONED window for the totals
    * (never global), and a segment rollup via the customer join. Entropy
    * terms are 1e-12-snapped before their exact decimal sum, so the
    * per-customer H is partition-order-free.
    */
  def purchaseEntropy(lineitem: DataFrame, orders: DataFrame,
                      part: DataFrame, customer: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val cb = lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey"), col("p_brand"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("o_custkey"))
    val h = cb
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("p", col("c").cast("double") / col("n"))
      .withColumn("t", s12(col("p") * log(col("p"))))
      .groupBy(col("o_custkey"), col("k"))
      .agg((-sum(col("t").cast("decimal(38,12)")).cast("double")).as("h"))
      .withColumn("hn",
        when(col("k") > 1, col("h") / log(col("k").cast("double")))
          .otherwise(lit(0.0)))
    h.join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("h").cast("decimal(38,12)")).cast("double").as("sh"),
        sum(col("hn").cast("decimal(38,12)")).cast("double").as("shn"),
        sum(col("k")).as("sk"))
      .select(col("c_mktsegment"), col("n_customers"),
        (round(col("sh") / col("n_customers") * 1000000) / 1000000.0)
          .as("avg_entropy"),
        (round(col("shn") / col("n_customers") * 1000000) / 1000000.0)
          .as("avg_norm_entropy"),
        (round(col("sk").cast("double") / col("n_customers") * 10000)
          / 10000.0).as("avg_brands"))
  }

  def purchaseEntropy(spark: SparkSession, sfDir: String): DataFrame =
    purchaseEntropy(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.part(spark, sfDir),
      Tables.customer(spark, sfDir))

  /** q350: inter-purchase clumpiness per market segment — the
    * entropy-of-gaps measure C = 1 + Σ zᵢ ln zᵢ / ln(n+1) over each
    * customer's normalized order-day gaps (boundary gaps included, so
    * Σzᵢ = 1; Zhang–Bradlow–Small's Hp form). C≈0 is metronomic
    * reordering, C≈1 is one burst then silence — the CRM dimension RFM
    * (q264) provably misses, since frequency ignores WHEN the orders
    * clustered. Reported as segment-average C and the share of customers
    * past 0.5.
    *
    * Scale shape: distinct (customer, day) table, one customer-PARTITIONED
    * lag window for the gaps, the global span as a broadcast scalar, and
    * exact decimal sums of 1e-12-snapped z·ln z terms — no global window,
    * every shuffle keyed on customer. Gaps are ≥1 day by construction
    * (distinct days), so ln never sees 0.
    */
  def clumpiness(orders: DataFrame, customer: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val od = orders.select(col("o_custkey"),
        floor(unix_timestamp(col("o_orderdate")) / 86400L)
          .cast("long").as("d"))
      .distinct()
    val span = od.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
    val gaps = od.crossJoin(broadcast(span))
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn("tt", (col("d1") - col("d0") + 2).cast("double"))
      .withColumn("z",
        when(col("prev").isNull, col("d") - col("d0") + 1)
          .otherwise(col("d") - col("prev")).cast("double") / col("tt"))
      .withColumn("term", s12(col("z") * log(col("z"))))
    val perCust = gaps
      .groupBy(col("o_custkey"), col("tt"), col("d1"))
      .agg(count(lit(1)).as("n"), max(col("d")).as("dmax"),
        sum(col("term").cast("decimal(38,12)")).as("sterm"))
      .where(col("n") >= 2)
      .withColumn("ztail",
        (col("d1") - col("dmax") + 1).cast("double") / col("tt"))
      .withColumn("s",
        col("sterm").cast("double") + s12(col("ztail") * log(col("ztail"))))
      .withColumn("cl",
        lit(1.0) + col("s") / log((col("n") + 1).cast("double")))
    perCust.join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cl").cast("decimal(38,12)")).cast("double").as("scl"),
        sum(when(col("cl") > 0.5, 1L).otherwise(0L)).as("nclumpy"))
      .select(col("c_mktsegment"), col("n_customers"),
        (round(col("scl") / col("n_customers") * 1000000) / 1000000.0)
          .as("avg_clumpiness"),
        (round(col("nclumpy").cast("double") / col("n_customers") * 1000000)
          / 1000000.0).as("clumpy_share"))
  }

  def clumpiness(spark: SparkSession, sfDir: String): DataFrame =
    clumpiness(Tables.orders(spark, sfDir), Tables.customer(spark, sfDir))

  /** q352: order-priority Markov matrix — transition census of each
    * customer's consecutive order priorities with row-normalized
    * probabilities. The service-mix persistence question q120's static
    * priority mix can't see: a 20% URGENT share reads very differently if
    * it's the same fifth of customers every time (high diagonal) vs
    * uniformly churned urgency. The q67 lag-census idiom moved from the
    * event stream to the order book.
    *
    * Scale shape: one customer-PARTITIONED lag window (deterministic
    * (date, orderkey) order), a 25-key pair census (map-combinable), and
    * a 5-row row-total broadcast join. Nothing global anywhere.
    */
  def priorityTransitions(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val pairs = orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("from_priority", lag(col("o_orderpriority"), 1).over(w))
      .where(col("from_priority").isNotNull)
      .groupBy(col("from_priority"),
        col("o_orderpriority").as("to_priority"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_priority"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), "from_priority")
      .select(col("from_priority"), col("to_priority"), col("n"),
        (round(col("n").cast("double") / col("row_total") * 10000)
          / 10000.0).as("p"),
        (col("from_priority") === col("to_priority")).as("is_sticky"))
  }

  def priorityTransitions(spark: SparkSession, sfDir: String): DataFrame =
    priorityTransitions(Tables.orders(spark, sfDir))

  /** q353: psychological price-point census — distribution of retail-price
    * cent endings (…,99 ,95 ,49 ,00) across the part catalog, with each
    * ending's average price. The pricing-integrity profile a catalog audit
    * runs before any elasticity work (q331-style regressions bias when
    * price mass sits on charm points), and a data-quality screen: a
    * synthetic price generator shows up instantly as a uniform ending
    * histogram. Complements q154 (Benford, LEADING digits) with the
    * trailing-digit lens.
    *
    * Scale shape: one map-combinable 100-key aggregate over a two-column
    * projection of part; the total broadcasts back. Endings come from
    * integer arithmetic on round(price·100), so no float-mod hazards.
    */
  def priceEndings(part: DataFrame): DataFrame = {
    val e = part.select(
      pmod(round(col("p_retailprice") * 100).cast("long"), lit(100L))
        .cast("int").as("cents_ending"),
      col("p_retailprice"))
    val g = e.groupBy(col("cents_ending"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p_retailprice").cast("decimal(18,6)")).as("sp"))
    val tot = g.agg(sum(col("n_parts")).as("n_total"))
    g.crossJoin(broadcast(tot))
      .select(col("cents_ending"), col("n_parts"),
        (round(col("n_parts").cast("double") / col("n_total") * 1000000)
          / 1000000.0).as("share"),
        (round(col("sp").cast("double") / col("n_parts") * 100) / 100.0)
          .as("avg_price"))
  }

  def priceEndings(spark: SparkSession, sfDir: String): DataFrame =
    priceEndings(Tables.part(spark, sfDir))

  /** q354: weighted reciprocity of the nation trade digraph — Σ min(f_ab,
    * f_ba) / Σ f_ab over directed supplier-nation → customer-nation
    * revenue flows (Squartini et al. 2013's weighted form). One scalar
    * that says whether trade is bilateral exchange or hub-and-spoke
    * extraction — the DIRECTIONAL digest of the q133 flow table, which
    * lists volumes but never nets the two directions against each other.
    *
    * Scale shape: the q133 join pipeline (all keyed shuffles, no
    * broadcast of the big sides) down to a ≤ nations² flow table; the
    * reversed-pair match and the final scalar run on that bounded table.
    * Flow sums stay DECIMAL through the min/total arithmetic — exact on
    * any partitioning.
    */
  def flowReciprocity(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame): DataFrame = {
    // cent-unit integer snap (round(x·1e2) is an engine-identical double,
    // exact as an integer) — a direct CAST(double AS DECIMAL) can differ
    // by 1 unit in the last place between engines (q180's sf1 lesson), and
    // at sf1 even a micro-unit (1e6) snap flapped: DuckDB's aggregate tail
    // over >2^53-magnitude decimals returned nondeterministic doubles
    // across identical runs. At cents, the corpus-wide flow total stays
    // ~1e13 — below 2^53 — so EVERY internal representation (hugeint,
    // int64, double) is exact and the pipeline is deterministic by
    // construction. Flows rounded to cents is also the honest business
    // spec for currency.
    val rev = round(col("l_extendedprice") * (lit(1) - col("l_discount"))
      * lit(1e2)).cast("decimal(38,0)")
    val flows = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), rev.as("rev"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey").as("sn")),
        col("l_suppkey") === col("s_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey").as("cn")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("sn"), col("cn"))
      .agg(sum(col("rev")).as("f"))
      .where(col("sn") =!= col("cn"))
    val back = flows.select(col("cn").as("sn"), col("sn").as("cn"),
      col("f").as("fr"))
    flows.join(back, Seq("sn", "cn"), "left")
      .withColumn("fr0", coalesce(col("fr"), lit(0).cast("decimal(38,0)")))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("f")).as("tot"), sum(least(col("f"), col("fr0"))).as("rec"))
      .select(col("n_pairs"),
        (round(col("tot").cast("double") / lit(1e2) * 10000) / 10000.0)
          .as("total_flow"),
        (round(col("rec").cast("double") / lit(1e2) * 10000) / 10000.0)
          .as("reciprocal_flow"),
        (round(col("rec").cast("double") / col("tot").cast("double")
          * 1000000) / 1000000.0).as("reciprocity"))
  }

  def flowReciprocity(spark: SparkSession, sfDir: String): DataFrame =
    flowReciprocity(Tables.lineitem(spark, sfDir),
      Tables.orders(spark, sfDir), Tables.customer(spark, sfDir),
      Tables.supplier(spark, sfDir))

  /** q361: discrete-time churn hazard over the order book — per tenure
    * week k (last-order week − first-order week), hazard(k) = churned-at-k
    * / at-risk(k), where "churned" means the last order sits ≥
    * `churnGapWeeks` before the observation horizon (later customers are
    * right-CENSORED, not counted as churn — the correction a naive
    * "inactive = churned" cut gets wrong, and the WHEN-in-tenure view that
    * q271's weekly state ledger doesn't give). The at-risk denominator
    * counts everyone with tenure ≥ k, censored included.
    *
    * Scale shape: one per-customer min/max aggregate (map-combinable),
    * horizon as a broadcast scalar, then the suffix-sum window runs on
    * the BOUNDED tenure table (≤ observed-weeks rows at any data scale).
    */
  def churnHazard(orders: DataFrame, churnGapWeeks: Int = 4): DataFrame = {
    val ow = orders.select(col("o_custkey"),
      floor(floor(unix_timestamp(col("o_orderdate")) / 86400L) / 7L)
        .cast("long").as("wk"))
    val span = ow.agg(max(col("wk")).as("wmax"))
    val per = ow.groupBy(col("o_custkey"))
      .agg(min(col("wk")).as("w0"), max(col("wk")).as("wl"))
      .crossJoin(broadcast(span))
      .withColumn("t", col("wl") - col("w0"))
      .withColumn("event", col("wmax") - col("wl") >= churnGapWeeks)
    val byT = per.groupBy(col("t"))
      .agg(count(lit(1)).as("n_t"),
        sum(when(col("event"), 1L).otherwise(0L)).as("d_t"))
    val w = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byT.withColumn("at_risk", sum(col("n_t")).over(w))
      .select(col("t").as("tenure_weeks"), col("at_risk"),
        col("d_t").as("n_churned"),
        (round(col("d_t").cast("double") / col("at_risk") * 1000000)
          / 1000000.0).as("hazard"))
  }

  def churnHazard(spark: SparkSession, sfDir: String): DataFrame =
    churnHazard(Tables.orders(spark, sfDir))

  /** q362: fulfillment fragmentation by order size — for multi-line
    * orders, the ship-date SPREAD (max−min days), exact P50/P90 of the
    * spread per size bucket, the share fulfilled in a single day, and the
    * fragmentation ratio (distinct ship days ÷ lines). The
    * shipping-consolidation question q69's order→ship latency hides: two
    * orders with identical median latency can differ wildly in how many
    * separate shipments the customer received.
    *
    * Scale shape: one per-order aggregate (map-combinable), a 3-bucket
    * rollup, and spread percentiles through the distributed
    * count-and-locate engine ([[Percentiles.exactQuantiles]]) — no
    * global sort anywhere.
    */
  def fulfillmentSpread(lineitem: DataFrame): DataFrame = {
    val per = lineitem.select(col("l_orderkey"),
        floor(unix_timestamp(col("l_shipdate")) / 86400L)
          .cast("long").as("sd"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        (max(col("sd")) - min(col("sd"))).as("span_days"),
        countDistinct(col("sd")).as("n_ship_days"))
      .where(col("n_lines") >= 2)
      .withColumn("size_bucket",
        when(col("n_lines") <= 3, "2-3")
          .when(col("n_lines") <= 5, "4-5").otherwise("6-7"))
    val qs = Percentiles.exactQuantiles(
        per.withColumn("spand", col("span_days").cast("double")),
        "size_bucket", "spand", Seq("p50" -> 0.5, "p90" -> 0.9))
      .groupBy(col("size_bucket"))
      .agg(min(when(col("qname") === "p50", col("qv"))).as("p50r"),
        min(when(col("qname") === "p90", col("qv"))).as("p90r"))
    per.groupBy(col("size_bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("n_ship_days")).as("ssd"), sum(col("n_lines")).as("sl"),
        sum(when(col("span_days") === 0, 1L).otherwise(0L)).as("sd0"))
      .join(broadcast(qs), "size_bucket")
      .select(col("size_bucket"), col("n_orders"),
        (round(col("p50r") * 10000) / 10000.0).as("p50_span"),
        (round(col("p90r") * 10000) / 10000.0).as("p90_span"),
        (round(col("sd0").cast("double") / col("n_orders") * 1000000)
          / 1000000.0).as("single_day_share"),
        (round(col("ssd").cast("double") / col("sl") * 1000000)
          / 1000000.0).as("frag_ratio"))
  }

  def fulfillmentSpread(spark: SparkSession, sfDir: String): DataFrame =
    fulfillmentSpread(Tables.lineitem(spark, sfDir))

  /** q366: supplier market-churn index — for each consecutive ship-year
    * pair, the total-variation distance ½·Σ|share_{y+1} − share_y| of the
    * supplier revenue-share distribution, with entrant/exit counts.
    * One number per year-pair for "how much did the supplier landscape
    * reshuffle" — q117's HHI tracks CONCENTRATION (a perfectly stable
    * oligopoly scores high) while TV distance tracks MOVEMENT (the same
    * oligopoly scores 0), and the pair separates consolidation from
    * churn.
    *
    * Scale shape: one (supplier, year) map-combinable revenue aggregate,
    * year totals broadcast, a supplier-keyed self-join onto year+1, and
    * 1e-12-snapped |Δshare| terms in exact decimal sums per bounded
    * year-pair row.
    */
  def marketChurn(lineitem: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val sy = lineitem.select(col("l_suppkey"),
        year(col("l_shipdate")).as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)").as("rev"))
      .groupBy(col("l_suppkey"), col("yr"))
      .agg(sum(col("rev")).as("r"))
    val yt = sy.groupBy(col("yr")).agg(sum(col("r")).as("tot"))
    val sh = sy.join(broadcast(yt), "yr")
      .select(col("l_suppkey"), col("yr"),
        (col("r").cast("double") / col("tot").cast("double")).as("share"))
    val nxt = sh.select(col("l_suppkey"), (col("yr") - 1).as("yr"),
      col("share").as("share_next"))
    val validYears = yt.select(col("yr"))
      .join(yt.select((col("yr") - 1).as("yr")), "yr")
    sh.join(nxt, Seq("l_suppkey", "yr"), "full")
      .join(broadcast(validYears), "yr")
      .withColumn("d",
        s12(abs(coalesce(col("share_next"), lit(0.0))
          - coalesce(col("share"), lit(0.0)))))
      .groupBy(col("yr"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(when(col("share").isNull, 1L).otherwise(0L)).as("n_entrants"),
        sum(when(col("share_next").isNull, 1L).otherwise(0L)).as("n_exits"),
        sum(col("d").cast("decimal(38,12)")).cast("double").as("sd"))
      .select(col("yr").as("from_year"), col("n_suppliers"),
        col("n_entrants"), col("n_exits"),
        (round(col("sd") * lit(0.5) * 1000000) / 1000000.0)
          .as("tv_distance"))
  }

  def marketChurn(spark: SparkSession, sfDir: String): DataFrame =
    marketChurn(Tables.lineitem(spark, sfDir))

  /** q372: catalog dynamics — monthly active-part census with birth/
    * retirement counts and a turnover rate, where a part is "active" in
    * every month of its [first sale, last sale] interval. Interval
    * counting WITHOUT expanding part×months: actives(m) = cumulative
    * births(≤m) − cumulative deaths(<m), so the expensive thing (the
    * per-part interval) reduces to two integer marginals. q308 profiles
    * individual cohort ramps; this is the assortment-level breathing the
    * merchandising team actually charts.
    *
    * Scale shape: one per-part min/max aggregate (map-combinable), two
    * ≤months-key marginals, and a cumulative window over the BOUNDED
    * month spine (≤ span months at any data scale).
    */
  def catalogDynamics(lineitem: DataFrame): DataFrame = {
    val pm = lineitem.select(col("l_partkey"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1)
          .cast("long").as("mi"))
      .groupBy(col("l_partkey"))
      .agg(min(col("mi")).as("fm"), max(col("mi")).as("lm"))
    val births = pm.groupBy(col("fm").as("mi"))
      .agg(count(lit(1)).as("births"))
    val deaths = pm.groupBy(col("lm").as("mi"))
      .agg(count(lit(1)).as("deaths"))
    val spine = pm.agg(min(col("fm")).as("lo"), max(col("lm")).as("hi"))
      .withColumn("mi", explode(sequence(col("lo"), col("hi"))))
      .select(col("mi"))
    val w = Window.orderBy(col("mi"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(broadcast(births), Seq("mi"), "left")
      .join(broadcast(deaths), Seq("mi"), "left")
      .withColumn("b", coalesce(col("births"), lit(0L)))
      .withColumn("d", coalesce(col("deaths"), lit(0L)))
      .withColumn("cb", sum(col("b")).over(w))
      .withColumn("cd", sum(col("d")).over(w))
      .withColumn("n_active", col("cb") - col("cd") + col("d"))
      .select(
        (floor(col("mi") / 12) * 100 + pmod(col("mi"), lit(12)) + 1)
          .cast("int").as("ym"),
        col("b").as("n_new"), col("d").as("n_retired"), col("n_active"),
        when(col("n_active") > 0,
          round((col("b") + col("d")).cast("double") / col("n_active")
            * 1000000) / 1000000.0).otherwise(0.0).as("turnover"))
  }

  def catalogDynamics(spark: SparkSession, sfDir: String): DataFrame =
    catalogDynamics(Tables.lineitem(spark, sfDir))

  /** q373: does the first order predict the customer? Pearson correlation
    * between first-order value and TOTAL lifetime revenue per market
    * segment, with the average LTV multiple (total ÷ first). The
    * acquisition-quality question behind every "high-value first basket"
    * targeting rule — q108's cohort LTV gives the time dimension, this
    * gives the screening dimension, and a near-zero r says first-basket
    * targeting is noise.
    *
    * Scale shape: one customer-PARTITIONED row_number window picks the
    * deterministic first order ((date, orderkey) order), one per-customer
    * revenue aggregate, then per-segment exact decimal moment sums —
    * every stage keyed on customer or segment.
    */
  def firstValueLtv(orders: DataFrame, customer: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val first = orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("o_custkey"), col("o_totalprice").as("fv"))
    val tot = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("ltv"), count(lit(1)).as("n_orders"))
    val j = first.join(tot, "o_custkey")
      .join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
    j.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("fv").cast("decimal(28,6)")).cast("double").as("sx"),
        sum(col("ltv").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("fv") * col("fv")).cast("decimal(38,6)"))
          .cast("double").as("sxx"),
        sum((col("fv") * col("ltv")).cast("decimal(38,6)"))
          .cast("double").as("sxy"),
        sum((col("ltv") * col("ltv")).cast("decimal(38,6)"))
          .cast("double").as("syy"))
      .withColumn("nn", col("n_customers").cast("double"))
      .withColumn("dx", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", col("nn") * col("syy") - col("sy") * col("sy"))
      .withColumn("cv", col("nn") * col("sxy") - col("sx") * col("sy"))
      .select(col("c_mktsegment"), col("n_customers"),
        when(col("dx") > 0 && col("dy") > 0,
          round(col("cv") / sqrt(col("dx") * col("dy")) * 1000000)
            / 1000000.0).as("pearson_r"),
        (round(col("sy") / col("sx") * 10000) / 10000.0)
          .as("ltv_multiple"))
  }

  def firstValueLtv(spark: SparkSession, sfDir: String): DataFrame =
    firstValueLtv(Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir))

  /** q374: mean residual life of reorder gaps — for thresholds u ∈ {7,
    * 14, 30, 60, 90} days, E[gap − u | gap > u] with survivor counts.
    * THE principled way to pick a churn window (q361 hard-codes 4 weeks;
    * the MRL curve says where waiting longer stops buying information —
    * the u where MRL flattens), and the standard GPD threshold-selection
    * plot from EVT applied to behavior instead of extremes: an MRL rising
    * in u means heavy-tailed gaps (dormant ≠ dead), falling means a real
    * wall.
    *
    * Scale shape: one customer-PARTITIONED lag window for the gaps, an
    * exploded 5-row threshold spine, and a (threshold)-key map-combinable
    * aggregate of exact integer gap sums. No quantile machinery needed —
    * the thresholds are the OUTPUT grid.
    */
  def meanResidualLife(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(datediff(col("o_orderdate"), col("prev")).cast("long")
        .as("gap"))
    val tot = gaps.agg(count(lit(1)).as("n_gaps"))
    gaps.withColumn("u", explode(array(Seq(7, 14, 30, 60, 90)
        .map(u => lit(u.toLong)): _*)))
      .where(col("gap") > col("u"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n_exceed"), sum(col("gap")).as("sg"))
      .crossJoin(broadcast(tot))
      .select(col("u").as("threshold_days"), col("n_exceed"),
        (round((col("sg") - col("n_exceed") * col("u")).cast("double")
          / col("n_exceed") * 10000) / 10000.0).as("mrl_days"),
        (round(col("n_exceed").cast("double") / col("n_gaps") * 1000000)
          / 1000000.0).as("survivor_share"))
  }

  def meanResidualLife(spark: SparkSession, sfDir: String): DataFrame =
    meanResidualLife(Tables.orders(spark, sfDir))

  /** q375: order-timing regularity — per-customer Shannon entropy of the
    * order day-of-week mix (ln-7-normalized), rolled to segment as the
    * average plus the share of "routine" customers (normalized entropy
    * < 0.75, i.e. concentrated on 1-2 weekdays). The habit-strength
    * lens: q350's clumpiness measures WHEN bursts happen in calendar
    * time, this measures whether a customer has a WEEKLY ritual — the
    * two disagree exactly for the "every other Monday" shopper
    * (clumpy-irregular vs ritual-regular), and replenishment campaigns
    * target the ritual ones.
    *
    * Scale shape: q349's entropy pipeline on a (customer, dow) key —
    * customer-PARTITIONED windows, 1e-12-snapped p·ln p terms in exact
    * decimal sums, segment rollup via the customer join.
    */
  def weekdayEntropy(orders: DataFrame, customer: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val cd = orders.select(col("o_custkey"),
        pmod(floor(unix_timestamp(col("o_orderdate")) / 86400L) + 4, lit(7))
          .cast("int").as("dow"))
      .groupBy(col("o_custkey"), col("dow"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("o_custkey"))
    val h = cd
      .withColumn("n", sum(col("c")).over(w))
      .withColumn("p", col("c").cast("double") / col("n"))
      .withColumn("t", s12(col("p") * log(col("p"))))
      .groupBy(col("o_custkey"))
      .agg((-sum(col("t").cast("decimal(38,12)")).cast("double")).as("h"),
        max(col("n")).as("n_orders"))
      .where(col("n_orders") >= 3)
      .withColumn("hn", col("h") / log(lit(7.0)))
    h.join(customer.select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("hn").cast("decimal(38,12)")).cast("double").as("shn"),
        sum(when(col("hn") < 0.75, 1L).otherwise(0L)).as("n_routine"))
      .select(col("c_mktsegment"), col("n_customers"),
        (round(col("shn") / col("n_customers") * 1000000) / 1000000.0)
          .as("avg_norm_entropy"),
        (round(col("n_routine").cast("double") / col("n_customers")
          * 1000000) / 1000000.0).as("routine_share"))
  }

  def weekdayEntropy(spark: SparkSession, sfDir: String): DataFrame =
    weekdayEntropy(Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir))

  /** q376: discount-depth monotonicity audit — mean quantity per discount
    * level (11 integer levels) with the adjacent-pair violation count and
    * the net uplift from 0% to max. The pricing-policy sanity check
    * BEFORE fitting q331's elasticity: a clean elasticity number on a
    * non-monotone response curve is a modeling artifact, and the
    * violation count (computed on the bounded 11-row level table) says
    * exactly where the curve breaks.
    *
    * Scale shape: one 11-key map-combinable aggregate over a two-column
    * fact projection; the lag comparison runs on the bounded level
    * table.
    */
  def discountMonotonicity(lineitem: DataFrame): DataFrame = {
    val g = lineitem.select(
        round(col("l_discount") * 100).cast("int").as("disc_pct"),
        col("l_quantity"))
      .groupBy(col("disc_pct"))
      .agg(count(lit(1)).as("n_lines"),
        (sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
          / count(lit(1))).as("mq"))
    val w = Window.orderBy(col("disc_pct"))
    g.withColumn("prev_mq", lag(col("mq"), 1).over(w))
      .select(col("disc_pct"), col("n_lines"),
        (round(col("mq") * 10000) / 10000.0).as("mean_qty"),
        when(col("prev_mq").isNotNull, col("mq") < col("prev_mq"))
          .as("is_violation"))
  }

  def discountMonotonicity(spark: SparkSession, sfDir: String): DataFrame =
    discountMonotonicity(Tables.lineitem(spark, sfDir))

  /** q419: zero-inflated-Poisson fit of daily per-user activity — the
    * companion count model to q332's NBD: user-day event counts are
    * mostly zero not because a Poisson rate is low but because a user is
    * INACTIVE that day (a structural-zero class), and the ZIP
    * method-of-moments split (Lambert 1992) separates the two:
    * λ̂ = μ + σ²/μ − 1 (the rate among active days) and
    * π̂ = 1 − μ/λ̂ (the structural-zero share). The fleet-health readout
    * ("are errors getting rarer, or are devices going quiet?") that a
    * bare mean conflates.
    *
    * Scale posture is the operator's point: the user×day cell grid is
    * NEVER materialized — nonzero cells come from one grouped pass, the
    * zero mass enters as n_users·span − nnz computed from two scalars,
    * so cost is O(observed events), not O(users·days) (which at 1e9
    * users × 365 days would be 3.6e11 mostly-zero rows).
    */
  def zipFit(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("user_id"),
      expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"))
    val span = ev.agg(((max(col("d")) - min(col("d"))) + 1).as("n_days"))
    val nz = ev.groupBy(col("event_type"), col("user_id"), col("d"))
      .agg(count(lit(1)).as("k"))
    nz.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("nnz"),
        sum(col("k")).as("s1"),
        sum(col("k") * col("k")).as("s2"))
      .crossJoin(broadcast(span))
      .withColumn("n_cells", col("n_users") * col("n_days"))
      .withColumn("m", col("s1").cast("double") / col("n_cells"))
      .withColumn("v",
        (col("s2").cast("double") - col("n_cells") * col("m") * col("m"))
          / (col("n_cells") - 1))
      .withColumn("lam", col("m") + col("v") / col("m") - lit(1.0))
      .select(col("event_type"), col("n_users"), col("n_days"),
        col("n_cells"), col("nnz"),
        (round((col("n_cells") - col("nnz")).cast("double")
          / col("n_cells").cast("double") * 1000000) / 1000000.0)
          .as("p0"),
        (round(col("m") * 1000000) / 1000000.0).as("mean"),
        (round(col("v") * 1000000) / 1000000.0).as("variance"),
        (round(when(col("m") > 0 && col("lam") > 0, col("lam"))
          * 1000000) / 1000000.0).as("lambda_hat"),
        (round(when(col("m") > 0 && col("lam") > 0,
          lit(1.0) - col("m") / col("lam")) * 1000000) / 1000000.0)
          .as("pi_hat"))
  }

  def zipFit(spark: SparkSession, sfDir: String): DataFrame =
    zipFit(Tables.events(spark, sfDir))

  /** q426: Laspeyres/Paasche/Fisher price indices by ship year — the
    * index-number construction every pricing dashboard eventually needs
    * (Laspeyres weights by BASE-year quantities and overstates inflation,
    * Paasche weights by current quantities and understates it, Fisher is
    * their geometric mean — Diewert's "ideal" index). Per-part unit
    * prices are exact decimal revenue/quantity ratios per part-year; only
    * parts traded in BOTH the base year and the comparison year enter a
    * year's index (the standard matched-model rule).
    *
    * One grouped pass to part-year cells, a broadcast-joined base-year
    * slice, numerator/denominator products snapped to decimal(28,10)
    * pre-sum — index values are partition-order-free.
    */
  def priceIndex(lineitem: DataFrame, baseYear: Int = 1995): DataFrame = {
    val py = lineitem
      .select(col("l_partkey").as("part"),
        year(col("l_shipdate")).as("y"),
        col("l_quantity"), col("l_extendedprice"))
      .groupBy(col("part"), col("y"))
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("q"),
        sum(col("l_extendedprice").cast("decimal(18,6)")).as("r"))
      .withColumn("p", col("r").cast("double") / col("q").cast("double"))
      .withColumn("qd", col("q").cast("double"))
      .select(col("part"), col("y"), col("p"), col("qd"))
    val base = py.where(col("y") === baseYear)
      .select(col("part"), col("p").as("p0"), col("qd").as("q0"))
    py.join(base, "part")
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_parts"),
        sum((col("p") * col("q0")).cast("decimal(28,10)"))
          .cast("double").as("lnum"),
        sum((col("p0") * col("q0")).cast("decimal(28,10)"))
          .cast("double").as("lden"),
        sum((col("p") * col("qd")).cast("decimal(28,10)"))
          .cast("double").as("pnum"),
        sum((col("p0") * col("qd")).cast("decimal(28,10)"))
          .cast("double").as("pden"))
      .withColumn("laspeyres", col("lnum") / col("lden"))
      .withColumn("paasche", col("pnum") / col("pden"))
      .select(col("y"), col("n_parts"),
        (round(col("laspeyres") * 1000000) / 1000000.0).as("laspeyres"),
        (round(col("paasche") * 1000000) / 1000000.0).as("paasche"),
        (round(sqrt(col("laspeyres") * col("paasche")) * 1000000)
          / 1000000.0).as("fisher"))
  }

  def priceIndex(spark: SparkSession, sfDir: String): DataFrame =
    priceIndex(Tables.lineitem(spark, sfDir))

  /** q429: Simpson's-paradox reversal audit — per nation, the OLS slope of
    * quantity on discount computed two ways: pooled over all the nation's
    * line items, and within-brand (summed per-brand covariances over
    * summed per-brand variances — the stratified estimate). A sign flip
    * between the two is the aggregation reversal that turns a dashboard
    * conclusion upside down (the discount "works" overall because premium
    * brands discount more, not because discounts move quantity). The
    * audit every metric rollup should run before a pooled slope ships.
    *
    * Both slopes come from ONE pass of per-(nation, brand) power sums
    * (decimal-snapped); the pooled slope re-aggregates the same sums via
    * the total-covariance decomposition, so no second scan exists.
    */
  def simpsonsReversal(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_partkey"),
        col("l_discount").as("x"), col("l_quantity").as("y"))
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"))
    val prt = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"))
    val cells = li
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("n_name").as("nation"), col("p_brand"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,12)")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast("decimal(28,10)"))
          .cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(28,10)"))
          .cast("double").as("sxx"))
    cells.groupBy(col("nation"))
      .agg(sum(col("n")).as("n_items"),
        count(lit(1)).as("n_brands"),
        // pooled: total sums re-aggregated from the same cells
        sum(col("sx").cast("decimal(38,12)")).cast("double").as("tx"),
        sum(col("sy").cast("decimal(38,12)")).cast("double").as("ty"),
        sum(col("sxy").cast("decimal(38,10)")).cast("double").as("txy"),
        sum(col("sxx").cast("decimal(38,10)")).cast("double").as("txx"),
        // within-brand: per-cell centered moments, summed
        sum((col("sxy") - col("sx") * col("sy") / col("n"))
          .cast("decimal(38,10)")).cast("double").as("wxy"),
        sum((col("sxx") - col("sx") * col("sx") / col("n"))
          .cast("decimal(38,10)")).cast("double").as("wxx"))
      .withColumn("slope_pooled",
        when(col("txx") - col("tx") * col("tx") / col("n_items") > 0,
          (col("txy") - col("tx") * col("ty") / col("n_items"))
            / (col("txx") - col("tx") * col("tx") / col("n_items"))))
      .withColumn("slope_within",
        when(col("wxx") > 0, col("wxy") / col("wxx")))
      .select(col("nation"), col("n_items"), col("n_brands"),
        (round(col("slope_pooled") * 1000000) / 1000000.0)
          .as("slope_pooled"),
        (round(col("slope_within") * 1000000) / 1000000.0)
          .as("slope_within"),
        (col("slope_pooled") * col("slope_within") < 0).as("reversed"))
  }
}

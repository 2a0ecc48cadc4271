package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Classical statistical tests as one-scan distributed aggregations.
  *
  * The reference's evaluation surface (evaluation.py:189-313) reports
  * anomaly scores without asking "is the difference real?" — this module
  * supplies the missing inferential layer: normality (is a z-score
  * meaningful?), independence (are two categoricals related?), equality of
  * means (ANOVA) and variances (Bartlett), effect size (Cohen's d — the
  * magnitude the t-test's p-value hides), and partial correlation (does a
  * pair co-move beyond what a confounder explains?).
  *
  * Scale posture: every test reduces the raw table to per-group power sums
  * in ONE aggregation (map-side partial, no self-join), then finishes the
  * algebra on the handful of group rows. At 100 TB the scan dominates and
  * parallelizes perfectly; the final arithmetic is O(groups). Per-row terms
  * are snapped to exact decimals before summation so every statistic is
  * bit-deterministic under any partition order — double accumulation would
  * make the oracle hash a coin flip.
  */
object StatTests {

  private def r6(c: org.apache.spark.sql.Column) =
    round(c * lit(1000000)) / lit(1000000.0)
  private def epochS(c: org.apache.spark.sql.Column) = unix_timestamp(c)

  /** q206: Jarque–Bera normality screen per series — skewness, excess
    * kurtosis, and the JB statistic n/6·(S² + K²/4) from one pass of raw
    * power sums (Σv..Σv⁴ as exact decimals; v ≤ ~560 so Σv⁴ fits
    * decimal(38,6) with 15 digits of headroom at sf100). Central moments
    * come from the binomial expansion of the raw sums; S uses m₂·√m₂
    * rather than pow(m₂,1.5) so both engines hit the IEEE-exact sqrt path.
    */
  def jarqueBera(events: DataFrame): DataFrame = {
    val agg = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2"),
      sum((col("value") * col("value") * col("value"))
        .cast("decimal(38,6)")).as("s3"),
      sum((col("value") * col("value") * col("value") * col("value"))
        .cast("decimal(38,6)")).as("s4"))
    agg
      .withColumn("nn", col("n").cast("double"))
      .withColumn("mean", col("s1").cast("double") / col("nn"))
      .withColumn("m2",
        col("s2").cast("double") / col("nn") - col("mean") * col("mean"))
      .withColumn("m3",
        col("s3").cast("double") / col("nn")
          - lit(3.0) * col("mean") * (col("s2").cast("double") / col("nn"))
          + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4",
        col("s4").cast("double") / col("nn")
          - lit(4.0) * col("mean") * (col("s3").cast("double") / col("nn"))
          + lit(6.0) * col("mean") * col("mean")
            * (col("s2").cast("double") / col("nn"))
          - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
      // zero-variance guard: ANSI double division by zero throws
      .withColumn("skew",
        when(col("m2") > 0, col("m3") / (col("m2") * sqrt(col("m2"))))
          .otherwise(lit(0.0)))
      .withColumn("exkurt",
        when(col("m2") > 0, col("m4") / (col("m2") * col("m2")) - lit(3.0))
          .otherwise(lit(0.0)))
      .select(col("event_type"), col("n"),
        r6(col("skew")).as("skewness"),
        r6(col("exkurt")).as("ex_kurtosis"),
        r6(col("nn") / lit(6.0)
          * (col("skew") * col("skew")
            + col("exkurt") * col("exkurt") / lit(4.0))).as("jb_stat"))
  }

  def jarqueBera(spark: SparkSession, sfDir: String): DataFrame =
    jarqueBera(Tables.events(spark, sfDir))

  /** q207: chi-square independence test on the order-priority × status
    * contingency table, with per-cell observed/expected/contribution and
    * the table-level χ², dof, and Cramér's V on every row. Marginals are
    * two tiny re-aggregations of the 15-cell table (broadcast-joined back);
    * the unpartitioned window summing χ² runs over the CELL table (≤
    * |priorities|·|statuses| rows at any scale), not the data — per-cell
    * contributions are decimal-snapped so the window total is order-free.
    */
  def chiSquare(orders: DataFrame): DataFrame = {
    val cells = orders.groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("o_orderpriority"))
      .agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("o_orderstatus"))
      .agg(sum(col("obs")).as("ct"))
    val dims = orders.agg(count(lit(1)).as("n_tot"),
      countDistinct(col("o_orderpriority")).as("n_rows"),
      countDistinct(col("o_orderstatus")).as("n_cols"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    cells
      .join(broadcast(rowTot), Seq("o_orderpriority"))
      .join(broadcast(colTot), Seq("o_orderstatus"))
      .crossJoin(broadcast(dims))
      .withColumn("exp",
        col("rt").cast("double") * col("ct").cast("double")
          / col("n_tot").cast("double"))
      .withColumn("contrib",
        ((col("obs").cast("double") - col("exp"))
          * (col("obs").cast("double") - col("exp")) / col("exp"))
          .cast("decimal(28,12)"))
      .withColumn("chi2", sum(col("contrib")).over(w).cast("double"))
      .withColumn("dof",
        ((col("n_rows") - 1) * (col("n_cols") - 1)).cast("int"))
      .select(
        col("o_orderpriority"), col("o_orderstatus"), col("obs"),
        r6(col("exp")).as("expected"),
        r6(col("contrib").cast("double")).as("contrib"),
        r6(col("chi2")).as("chi2"),
        col("dof"),
        r6(sqrt(col("chi2") / (col("n_tot").cast("double")
          * least(col("n_rows") - 1, col("n_cols") - 1).cast("double"))))
          .as("cramers_v"))
  }

  def chiSquare(spark: SparkSession, sfDir: String): DataFrame =
    chiSquare(Tables.orders(spark, sfDir))

  /** q208: one-way ANOVA of `value` across series — between/within sums of
    * squares, the F statistic, and η² (variance explained by the series
    * label). One conditional-free aggregation to per-group (n, Σv, Σv²),
    * then each group's SSB/SSW term is decimal-snapped and summed in a
    * second 5-row aggregate — the grand mean comes from the exact decimal
    * group sums, so no second data scan and no accumulation-order noise.
    */
  def anovaF(events: DataFrame): DataFrame = {
    val g = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("ng"),
      sum(col("value").cast("decimal(18,6)")).as("sg"),
      sum((col("value") * col("value")).cast("decimal(28,6)")).as("qg"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val terms = g
      .withColumn("n_tot", sum(col("ng")).over(w))
      .withColumn("s_tot", sum(col("sg")).over(w))
      .withColumn("gm",
        col("s_tot").cast("double") / col("n_tot").cast("double"))
      .withColumn("mg", col("sg").cast("double") / col("ng").cast("double"))
      .withColumn("ssb_t",
        (col("ng").cast("double") * (col("mg") - col("gm"))
          * (col("mg") - col("gm"))).cast("decimal(28,12)"))
      .withColumn("ssw_t",
        (col("qg").cast("double")
          - col("ng").cast("double") * col("mg") * col("mg"))
          .cast("decimal(28,12)"))
    terms.groupBy(col("n_tot"))
      .agg(count(lit(1)).as("k"),
        sum(col("ssb_t")).cast("double").as("ssb"),
        sum(col("ssw_t")).cast("double").as("ssw"))
      .select(col("k"), col("n_tot").as("n"),
        r6(col("ssb")).as("ss_between"),
        r6(col("ssw")).as("ss_within"),
        // zero-variance guards: ANSI errors on double /0
        when(col("ssw") > 0,
          r6((col("ssb") / (col("k") - 1).cast("double"))
            / (col("ssw") / (col("n_tot") - col("k")).cast("double"))))
          .otherwise(lit(0.0)).as("f_stat"),
        when(col("ssb") + col("ssw") > 0,
          r6(col("ssb") / (col("ssb") + col("ssw"))))
          .otherwise(lit(0.0)).as("eta_sq"))
  }

  def anovaF(spark: SparkSession, sfDir: String): DataFrame =
    anovaF(Tables.events(spark, sfDir))

  /** q209: Bartlett's test for variance homogeneity across series — the
    * precondition check for q208's ANOVA (the F test assumes equal group
    * variances; Bartlett quantifies how violated that is). Same one-pass
    * group moments as q208; ln() of each group variance is weighted,
    * snapped to decimal, and summed over the 5 group rows. The statistic is
    * ((N−k)·ln Sp² − Σ(nᵢ−1)·ln Sᵢ²) / (1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1))).
    */
  def bartlett(events: DataFrame): DataFrame = {
    val g = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("ng"),
      sum(col("value").cast("decimal(18,6)")).as("sg"),
      sum((col("value") * col("value")).cast("decimal(28,6)")).as("qg"))
    val terms = g
      .withColumn("mg", col("sg").cast("double") / col("ng").cast("double"))
      .withColumn("vg",
        (col("qg").cast("double")
          - col("ng").cast("double") * col("mg") * col("mg"))
          / (col("ng") - 1).cast("double"))
      .withColumn("ssw_t",
        (col("qg").cast("double")
          - col("ng").cast("double") * col("mg") * col("mg"))
          .cast("decimal(28,12)"))
      .withColumn("ln_t",
        ((col("ng") - 1).cast("double") * log(col("vg")))
          .cast("decimal(28,12)"))
      .withColumn("inv_t",
        (lit(1.0) / (col("ng") - 1).cast("double")).cast("decimal(28,18)"))
    terms.groupBy(lit(1).as("one"))
      .agg(count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("ssw_t")).cast("double").as("ssw"),
        sum(col("ln_t")).cast("double").as("sum_ln"),
        sum(col("inv_t")).cast("double").as("sum_inv"))
      .withColumn("pooled_var",
        col("ssw") / (col("n") - col("k")).cast("double"))
      .select(col("k"), col("n"),
        r6(col("pooled_var")).as("pooled_var"),
        r6(((col("n") - col("k")).cast("double") * log(col("pooled_var"))
          - col("sum_ln"))
          / (lit(1.0)
            + (col("sum_inv")
              - lit(1.0) / (col("n") - col("k")).cast("double"))
              / (lit(3.0) * (col("k") - 1).cast("double"))))
          .as("bartlett_stat"))
  }

  def bartlett(spark: SparkSession, sfDir: String): DataFrame =
    bartlett(Tables.events(spark, sfDir))

  /** q210: Cohen's d weekday-vs-weekend effect size per series — the
    * MAGNITUDE companion to q125's Welch t (at 100 TB every difference is
    * "significant"; d says whether it is big enough to matter). Pooled-sd
    * standardization: d = (μ_wd − μ_we)/√(((n₁−1)s₁² + (n₂−1)s₂²)/(n₁+n₂−2)).
    * Identical one-scan conditional-moment shape as q125 — both groups'
    * sums from one aggregation, weekday from the epoch-day mod-7 (day 0 =
    * Thursday, so +4 makes 0=Sunday/6=Saturday the weekend residues).
    */
  def cohensD(events: DataFrame): DataFrame = {
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
    m.withColumn("m_wd",
        when(col("n_wd") > 0, col("s_wd").cast("double") / col("n_wd")))
      .withColumn("m_we",
        when(col("n_we") > 0, col("s_we").cast("double") / col("n_we")))
      .withColumn("ss_wd",
        col("q_wd").cast("double") - col("n_wd") * col("m_wd") * col("m_wd"))
      .withColumn("ss_we",
        col("q_we").cast("double") - col("n_we") * col("m_we") * col("m_we"))
      .withColumn("pooled_sd",
        when(col("n_wd") + col("n_we") > 2,
          sqrt((col("ss_wd") + col("ss_we"))
            / (col("n_wd") + col("n_we") - 2).cast("double"))))
      .select(col("event_type"), col("n_wd"), col("n_we"),
        r6(col("m_wd")).as("mean_wd"),
        r6(col("m_we")).as("mean_we"),
        r6(col("pooled_sd")).as("pooled_sd"),
        when(col("pooled_sd") > 0,
          r6((col("m_wd") - col("m_we")) / col("pooled_sd")))
          .otherwise(lit(0.0)).as("cohens_d"))
  }

  def cohensD(spark: SparkSession, sfDir: String): DataFrame =
    cohensD(Tables.events(spark, sfDir))

  /** q211: first-order partial correlation between every series pair given
    * each third series as the control — does click/purchase co-movement
    * survive conditioning on view volume, or was it all one traffic tide?
    * pcor = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the full pairwise
    * Pearson matrix. The panel keeps only days where EVERY series has a
    * mean (the formula assumes one common sample), so all pairwise r share
    * n. Everything after the per-day aggregation runs on |types|·|days|
    * rows; the pair/triple joins are over the |types|² correlation matrix —
    * a broadcast-sized table at any data scale.
    */
  def partialCorr(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"),
        col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("d"))
    val panel = daily
      .withColumn("k_day", count(lit(1)).over(wDay))
      .withColumn("k_all", size(collect_set(col("event_type")).over(wAll)))
      .where(col("k_day") === col("k_all"))
      .select(col("event_type"), col("d"), col("m"))
    val a = panel.select(col("event_type").as("ta"), col("d"), col("m").as("ma"))
    val b = panel.select(col("event_type").as("tb"), col("d"), col("m").as("mb"))
    val r = a.join(b, Seq("d")).where(col("ta") < col("tb"))
      .groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(col("ma").cast("decimal(28,12)")).cast("double").as("sa"),
        sum(col("mb").cast("decimal(28,12)")).cast("double").as("sb"),
        sum((col("ma") * col("mb")).cast("decimal(28,12)")).cast("double").as("sab"),
        sum((col("ma") * col("ma")).cast("decimal(28,12)")).cast("double").as("saa"),
        sum((col("mb") * col("mb")).cast("decimal(28,12)")).cast("double").as("sbb"))
      .select(col("ta"), col("tb"), col("n"),
        when((col("saa") - col("sa") * col("sa") / col("n"))
          * (col("sbb") - col("sb") * col("sb") / col("n")) > 0,
          (col("sab") - col("sa") * col("sb") / col("n"))
            / sqrt((col("saa") - col("sa") * col("sa") / col("n"))
              * (col("sbb") - col("sb") * col("sb") / col("n"))))
          .otherwise(lit(0.0)).as("r"))
    // symmetric closure so lookups need no min/max gymnastics
    val rSym = r.select(col("ta"), col("tb"), col("n"), col("r"))
      .union(r.select(col("tb").as("ta"), col("ta").as("tb"), col("n"), col("r")))
    val rxy = rSym.select(col("ta").as("x"), col("tb").as("y"),
      col("n"), col("r").as("r_xy"))
    val rxz = rSym.select(col("ta").as("x"), col("tb").as("z"), col("r").as("r_xz"))
    val ryz = rSym.select(col("ta").as("y"), col("tb").as("z2"), col("r").as("r_yz"))
    rxy.where(col("x") < col("y"))
      .join(rxz, Seq("x")).where(col("z") =!= col("y"))
      .join(ryz.withColumnRenamed("z2", "z"), Seq("y", "z"))
      .select(col("x"), col("y"), col("z"), col("n"),
        r6(col("r_xy")).as("r_xy"),
        when((lit(1.0) - col("r_xz") * col("r_xz"))
          * (lit(1.0) - col("r_yz") * col("r_yz")) > 0,
          r6((col("r_xy") - col("r_xz") * col("r_yz"))
            / sqrt((lit(1.0) - col("r_xz") * col("r_xz"))
              * (lit(1.0) - col("r_yz") * col("r_yz")))))
          .otherwise(lit(0.0)).as("partial_r"))
  }

  def partialCorr(spark: SparkSession, sfDir: String): DataFrame =
    partialCorr(Tables.events(spark, sfDir))

  /** q224: seasonal Mann–Kendall trend test per series — the significance
    * companion to q152's Theil–Sen slope (MK says WHETHER the monotone
    * trend is real; Theil–Sen says how steep). Day-pair sign counting runs
    * WITHIN each weekday season so the weekly cycle can't masquerade as
    * trend; S sums over seasons, Var(S) uses the exact
    * Σ n(n−1)(2n+5)/18 formula with the tied-value correction, and the
    * z-score applies the ±1 continuity correction. Everything before the
    * final two divisions is exact integer arithmetic — no float
    * accumulation anywhere. The pair join is per (series, weekday) over
    * per-day means, so its size is bounded by (days/7)² per season — a
    * fixed-size table once the calendar is fixed, independent of row
    * count.
    */
  def seasonalMannKendall(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"),
        col("value"))
      .groupBy(col("event_type"), col("d"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))
      .withColumn("season", pmod(col("d") + 4, lit(7)))
    val a = daily.select(col("event_type"), col("season"),
      col("d").as("d1"), col("m").as("m1"))
    val b = daily.select(col("event_type"), col("season"),
      col("d").as("d2"), col("m").as("m2"))
    val s = a.join(b, Seq("event_type", "season"))
      .where(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("m2") > col("m1"), 1L)
        .when(col("m2") < col("m1"), -1L).otherwise(0L)).as("s_stat"))
    val ng = daily.groupBy(col("event_type"), col("season"))
      .agg(count(lit(1)).as("n_g"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_g") * (col("n_g") - 1) * (col("n_g") * 2 + 5))
        .as("raw"))
    val ties = daily.groupBy(col("event_type"), col("season"), col("m"))
      .agg(count(lit(1)).as("t"))
      .where(col("t") > 1)
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
        .as("tie_raw"))
    val nDays = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    nDays
      .join(s, Seq("event_type"))
      .join(ng, Seq("event_type"))
      .join(ties, Seq("event_type"), "left")
      .na.fill(0L, Seq("tie_raw"))
      .withColumn("var_s",
        (col("raw") - col("tie_raw")).cast("double") / lit(18.0))
      .withColumn("sgn",
        when(col("s_stat") > 0, 1L).when(col("s_stat") < 0, -1L)
          .otherwise(0L))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        r6(col("var_s")).as("var_s"),
        // all-tied seasons give Var(S)=0; define z=0 there (no evidence)
        when(col("var_s") > 0,
          r6((col("s_stat") - col("sgn")).cast("double")
            / sqrt(col("var_s")))).otherwise(lit(0.0)).as("z_score"))
  }

  def seasonalMannKendall(spark: SparkSession, sfDir: String): DataFrame =
    seasonalMannKendall(Tables.events(spark, sfDir))

  /** q233: rolling 24-hour correlation between the click and purchase
    * series — the time-LOCAL co-movement monitor (q44's corr is one number
    * for all history; this shows when the coupling strengthens or breaks,
    * which is what an incident review actually asks). Hourly means align
    * the two series; all five sufficient statistics ride ONE 24-hour
    * RANGE frame as exact decimal sums, so each output hour is
    * deterministic. The unpartitioned window runs over the per-hour pair
    * table — calendar-bounded (rows = hours observed), independent of raw
    * data volume; the data-sized work is the one hourly groupBy.
    */
  def rollingCorr(events: DataFrame, typeA: String = "click",
                  typeB: String = "purchase", hours: Int = 24): DataFrame = {
    val hourly = events
      .where(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("h"),
        col("value"))
      .groupBy(col("h"), col("event_type"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))
    val joined = hourly.where(col("event_type") === typeA)
      .select(col("h"), col("m").as("x"))
      .join(hourly.where(col("event_type") === typeB)
        .select(col("h"), col("m").as("y")), Seq("h"))
    val w = Window.orderBy(col("h")).rangeBetween(-(hours - 1), 0)
    joined
      .withColumn("n24", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x").cast("decimal(28,12)")).over(w)
        .cast("double"))
      .withColumn("sy", sum(col("y").cast("decimal(28,12)")).over(w)
        .cast("double"))
      .withColumn("sxy", sum((col("x") * col("y")).cast("decimal(28,12)"))
        .over(w).cast("double"))
      .withColumn("sxx", sum((col("x") * col("x")).cast("decimal(28,12)"))
        .over(w).cast("double"))
      .withColumn("syy", sum((col("y") * col("y")).cast("decimal(28,12)"))
        .over(w).cast("double"))
      .where(col("n24") >= 12)
      .withColumn("den",
        (col("n24") * col("sxx") - col("sx") * col("sx"))
          * (col("n24") * col("syy") - col("sy") * col("sy")))
      .select(col("h"), col("n24"),
        when(col("den") > 0,
          r6((col("n24") * col("sxy") - col("sx") * col("sy"))
            / sqrt(col("den")))).otherwise(lit(0.0)).as("corr24"))
  }

  def rollingCorr(spark: SparkSession, sfDir: String): DataFrame =
    rollingCorr(Tables.events(spark, sfDir))

  /** q239: Ljung–Box portmanteau whiteness test per series — Q = n(n+2)·
    * Σₖ rₖ²/(n−k) over the first 6 autocorrelations of demeaned hourly
    * means. The "is there ANY serial structure left" gate: q42 reads one
    * lag, LB pools six with the right small-sample weights, and a large Q
    * on squared residuals is the standard ARCH/volatility-clustering
    * screen. All six numerators ride one lag window pass (observed-hour
    * adjacency, as q228); every product is decimal-snapped pre-sum.
    */
  def ljungBox(events: DataFrame, maxLag: Int = 6): DataFrame = {
    val hourly = events
      .select(col("event_type"),
        expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT)").as("h"),
        col("value"))
      .groupBy(col("event_type"), col("h"))
      .agg((round((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("m"))
    val mu = hourly.groupBy(col("event_type"))
      .agg((sum(col("m").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("mu"))
    val ord = Window.partitionBy(col("event_type")).orderBy(col("h"))
    var d = hourly.join(broadcast(mu), Seq("event_type"))
      .withColumn("d", col("m") - col("mu"))
    (1 to maxLag).foreach { k =>
      d = d.withColumn(s"p$k",
        (col("d") * lag(col("d"), k).over(ord)).cast("decimal(28,12)"))
    }
    val aggs: Seq[org.apache.spark.sql.Column] =
      sum((col("d") * col("d")).cast("decimal(28,12)"))
        .cast("double").as("den") +:
        (1 to maxLag).map(k => sum(col(s"p$k")).cast("double").as(s"num$k"))
    val g = d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), aggs: _*)
      .withColumn("nn", col("n_hours").cast("double"))
    val qTerms = (1 to maxLag).map { k =>
      val r = col(s"num$k") / col("den")
      r * r / (col("nn") - lit(k.toDouble))
    }.reduce(_ + _)
    g.select(col("event_type"), col("n_hours"),
      when(col("den") > 0, r6(col("num1") / col("den")))
        .otherwise(lit(0.0)).as("r1"),
      when(col("den") > 0,
        r6(col("nn") * (col("nn") + lit(2.0)) * qTerms))
        .otherwise(lit(0.0)).as("q_lb"))
  }

  def ljungBox(spark: SparkSession, sfDir: String): DataFrame =
    ljungBox(Tables.events(spark, sfDir))

  /** q240: Grubbs' outlier statistic per series — G = max|x−x̄|/s with the
    * attaining observation, the single-most-extreme-point screen that
    * complements q41's all-points z census. Two aggregates (moments, then
    * a struct-max argmax with ties to the smallest event id — no sort, no
    * window) around one broadcast-back of the 5-row moment table.
    */
  def grubbs(events: DataFrame): DataFrame = {
    val m = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,6)")).as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2"))
      .withColumn("mean", col("s1").cast("double") / col("n").cast("double"))
      // 1-row series: no sample sd -> NULL; the g_stat CASE below then
      // lands in its 0.0 branch exactly as the oracle's NULL does
      .withColumn("sd", when(col("n") > 1,
        sqrt((col("s2").cast("double")
          - col("n").cast("double") * col("mean") * col("mean"))
          / (col("n") - 1).cast("double"))))
      .select(col("event_type"), col("n"), col("mean"), col("sd"))
    events.join(broadcast(m), Seq("event_type"))
      .withColumn("absdev", abs(col("value") - col("mean")))
      .groupBy(col("event_type"), col("n"), col("mean"), col("sd"))
      .agg(max(struct(col("absdev"), (-col("event_id")).as("nid"),
        col("value"))).as("w"))
      .select(col("event_type"), col("n"),
        r6(col("mean")).as("mean"), r6(col("sd")).as("sd"),
        // ANSI mode errors on /0 even for doubles: a zero-variance series
        // has no outlier by definition — report G = 0, don't crash
        when(col("sd") > 0, r6(col("w.absdev") / col("sd")))
          .otherwise(lit(0.0)).as("g_stat"),
        (-col("w.nid")).as("worst_event_id"),
        r6(col("w.value")).as("worst_value"))
  }

  def grubbs(spark: SparkSession, sfDir: String): DataFrame =
    grubbs(Tables.events(spark, sfDir))

  /** q241: two-proportion z-test of each series' weekend share against the
    * pooled rest-of-traffic weekend share — "does THIS event type shift
    * its weekly mix significantly". Pure integer counting until the final
    * z; complements q125/q210 (which test the VALUE, not the mix).
    */
  def proportionZ(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
    val per = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n1"),
      sum(when(col("we"), 1L).otherwise(0L)).as("x1"))
    val tot = ev.agg(count(lit(1)).as("nt"),
      sum(when(col("we"), 1L).otherwise(0L)).as("xt"))
    per.crossJoin(broadcast(tot))
      .withColumn("n2", col("nt") - col("n1"))
      .withColumn("x2", col("xt") - col("x1"))
      .withColumn("p1", col("x1").cast("double") / col("n1").cast("double"))
      .withColumn("p2", when(col("n2") > 0,
        col("x2").cast("double") / col("n2").cast("double")))
      .withColumn("pp", col("xt").cast("double") / col("nt").cast("double"))
      .select(col("event_type"), col("n1").as("n_type"),
        r6(col("p1")).as("weekend_share"),
        r6(col("p2")).as("rest_share"),
        when(col("pp") > 0 && col("pp") < 1 && col("n2") > 0,
          r6((col("p1") - col("p2"))
            / sqrt(col("pp") * (lit(1.0) - col("pp"))
              * (lit(1.0) / col("n1").cast("double")
                + lit(1.0) / col("n2").cast("double")))))
          .otherwise(lit(0.0)).as("z_score"))
  }

  def proportionZ(spark: SparkSession, sfDir: String): DataFrame =
    proportionZ(Tables.events(spark, sfDir))

  /** q242: odds ratio of the weekend × error 2×2 table with the Woolf
    * log-interval — the effect-size complement to q207's χ² (association
    * strength with a CI, not just "is there association"). One conditional
    * aggregate; everything exact until OR and the interval exp/ln.
    */
  def oddsRatio(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
      .withColumn("err", col("event_type") === "error")
    ev.agg(
      sum(when(col("we") && col("err"), 1L).otherwise(0L)).as("a"),
      sum(when(col("we") && !col("err"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("we") && col("err"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("we") && !col("err"), 1L).otherwise(0L)).as("d"))
      // guard BEFORE the divisions: ANSI raises on /0, and a withColumn
      // division would evaluate regardless of any later when()
      .withColumn("ok",
        col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0)
      .withColumn("or0",
        when(col("ok"),
          col("a").cast("double") * col("d").cast("double")
            / (col("b").cast("double") * col("c").cast("double"))))
      .withColumn("se",
        when(col("ok"),
          sqrt(lit(1.0) / col("a").cast("double")
            + lit(1.0) / col("b").cast("double")
            + lit(1.0) / col("c").cast("double")
            + lit(1.0) / col("d").cast("double"))))
      .select(col("a"), col("b"), col("c"), col("d"),
        when(col("ok"), r6(col("or0"))).as("odds_ratio"),
        when(col("ok"), r6(exp(log(col("or0")) - lit(1.96) * col("se"))))
          .as("ci_lo"),
        when(col("ok"), r6(exp(log(col("or0")) + lit(1.96) * col("se"))))
          .as("ci_hi"))
  }

  def oddsRatio(spark: SparkSession, sfDir: String): DataFrame =
    oddsRatio(Tables.events(spark, sfDir))

  /** q258: Brown–Forsythe (median-centered Levene) test per series —
    * weekday-vs-weekend equality of VARIANCE. Completes the weekend
    * inference triad: q125 Welch compares centers, q130 Mann–Whitney
    * compares distributions rank-wise, this compares spreads — and unlike
    * Bartlett (q209) it doesn't collapse under non-normal tails, because
    * it's just an ANOVA on absolute deviations from each group's MEDIAN.
    * Two scans (the repo's exact-quantile engine needs one for the
    * medians), then the deviation ANOVA is ONE conditional aggregate;
    * per-term decimal snaps keep the F statistic partition-order-free.
    */
  def brownForsythe(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
    val keyed = ev.withColumn("grp", concat_ws("|", col("event_type"),
      when(col("we"), lit("we")).otherwise(lit("wd"))))
    val med = graft.ops.Percentiles.exactQuantiles(
        keyed.select(col("grp"), col("value")), "grp", "value",
        Seq("m" -> 0.5))
      .select(col("grp"),
        (round(col("qv") * lit(1000000)) / lit(1000000.0)).as("m"))
    val z = keyed.join(broadcast(med), "grp")
      .withColumn("z", abs(col("value") - col("m")))
    val agg = z.groupBy(col("event_type")).agg(
      sum(when(!col("we"), 1L).otherwise(0L)).as("n_wd"),
      sum(when(col("we"), 1L).otherwise(0L)).as("n_we"),
      max(when(!col("we"), col("m"))).as("med_wd"),
      max(when(col("we"), col("m"))).as("med_we"),
      sum(when(!col("we"), col("z").cast("decimal(28,12)"))).as("sz_wd"),
      sum(when(col("we"), col("z").cast("decimal(28,12)"))).as("sz_we"),
      sum(when(!col("we"), (col("z") * col("z")).cast("decimal(28,12)")))
        .as("zz_wd"),
      sum(when(col("we"), (col("z") * col("z")).cast("decimal(28,12)")))
        .as("zz_we"))
    agg
      .withColumn("zb_wd", col("sz_wd").cast("double") / col("n_wd"))
      .withColumn("zb_we", col("sz_we").cast("double") / col("n_we"))
      .withColumn("zb",
        (col("sz_wd") + col("sz_we")).cast("double")
          / (col("n_wd") + col("n_we")))
      .withColumn("num",
        (col("n_wd") + col("n_we") - 2).cast("double")
          * (col("n_wd") * (col("zb_wd") - col("zb")) * (col("zb_wd") - col("zb"))
            + col("n_we") * (col("zb_we") - col("zb")) * (col("zb_we") - col("zb"))))
      .withColumn("den",
        (col("zz_wd").cast("double") - col("n_wd") * col("zb_wd") * col("zb_wd"))
          + (col("zz_we").cast("double") - col("n_we") * col("zb_we") * col("zb_we")))
      .select(col("event_type"), col("n_wd"), col("n_we"),
        col("med_wd"), col("med_we"),
        r6(when(col("den") > 0, col("num") / col("den"))
          .otherwise(lit(0.0))).as("f_stat"))
  }

  def brownForsythe(spark: SparkSession, sfDir: String): DataFrame =
    brownForsythe(Tables.events(spark, sfDir))

  /** q321: mutual information between series identity and value quartile —
    * the DEPENDENCE number behind q207's chi-square test (chi² says
    * "associated or not"; MI says how many nats of information the value
    * level carries about which sensor produced it — the feature-selection
    * ranking criterion). Global exact quartile boundaries from the
    * count-and-locate engine broadcast back as three literals-per-row;
    * the MI sum runs over the |types|×4 contingency cells with each
    * p·ln(p/(pq)) term 1e-12-snapped. H(type) and H(bucket) emitted so
    * the normalized MI is one division away.
    */
  def mutualInformation(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ev = events.select(col("event_type"), col("value"),
      lit(1).as("g"))
    val qs = Percentiles.exactQuantiles(ev, "g", "value",
      Seq("q1" -> 0.25, "q2" -> 0.5, "q3" -> 0.75))
      .groupBy(col("g"))
      .agg(min(when(col("qname") === "q1", col("qv"))).as("b1"),
        min(when(col("qname") === "q2", col("qv"))).as("b2"),
        min(when(col("qname") === "q3", col("qv"))).as("b3"))
    // the |types|×4 contingency table is pinned: marginals (rows, cols,
    // total) and the MI sum all re-read it, and a lazy chain re-runs the
    // corpus bucketing pass once per consumer
    val cells = ev.join(broadcast(qs), "g")
      .withColumn("bkt",
        when(col("value") <= col("b1"), 0)
          .when(col("value") <= col("b2"), 1)
          .when(col("value") <= col("b3"), 2).otherwise(3))
      .groupBy(col("event_type"), col("bkt"))
      .agg(count(lit(1)).as("nij"))
      .transform(Materialize.state(_))
    val rows = cells.groupBy(col("event_type")).agg(sum(col("nij")).as("ni"))
    val cols_ = cells.groupBy(col("bkt")).agg(sum(col("nij")).as("nj"))
    val tot = cells.agg(sum(col("nij")).as("n"))
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val mi = cells.join(broadcast(rows), "event_type")
      .join(broadcast(cols_), "bkt")
      .crossJoin(broadcast(tot))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("mi_t", s12(col("nij") / col("nn")
        * log(col("nij").cast("double") * col("nn")
          / (col("ni").cast("double") * col("nj").cast("double")))))
      .agg(max(col("n")).as("n_events"),
        r6(sum(col("mi_t").cast("decimal(38,12)")).cast("double"))
          .as("mi_nats"))
    def entropy(marg: DataFrame, c: String) = marg.crossJoin(broadcast(tot))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("h_t", s12(-(col(c) / col("nn"))
        * log(col(c) / col("nn"))))
      .agg(r6(sum(col("h_t").cast("decimal(38,12)")).cast("double")).as("h"))
    mi.crossJoin(entropy(rows, "ni").toDF("h_type"))
      .crossJoin(entropy(cols_, "nj").toDF("h_bucket"))
  }

  def mutualInformation(spark: SparkSession, sfDir: String): DataFrame =
    mutualInformation(Tables.events(spark, sfDir))

  /** q326: post-hoc pairwise mean contrasts after q208's one-way ANOVA —
    * Tukey-style |Δmean| / SE tables for every series pair with the
    * pooled within-group variance (ANOVA's F says "some group differs";
    * this says WHICH pairs, the answer people actually act on). Everything
    * after the one moment aggregate is |types|²-bounded; the pooled MSE
    * and each SE are closed-form from exact decimal sums; flag at the
    * Bonferroni-ish |t| > 3 line on the rounded statistic.
    */
  def pairwiseContrasts(events: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val m = events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(28,12)")).cast("double").as("s1"),
      sum((col("value") * col("value")).cast("decimal(28,8)"))
        .cast("double").as("s2"))
      .withColumn("mu", s12(col("s1") / col("n")))
      .withColumn("ssw", col("s2") - col("s1") * col("s1") / col("n"))
    val pooled = m.agg(
      sum(col("n")).as("nt"), count(lit(1)).as("k"),
      s12(sum(s12(col("ssw")).cast("decimal(38,10)")).cast("double"))
        .as("ssw_tot"))
      .withColumn("mse", s12(col("ssw_tot") / (col("nt") - col("k"))))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
      col("mu").as("mua"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("mu").as("mub"))
    a.crossJoin(b).where(col("type_a") < col("type_b"))
      .crossJoin(broadcast(pooled))
      .withColumn("se", sqrt(col("mse")
        * (lit(1.0) / col("na") + lit(1.0) / col("nb"))))
      .withColumn("t", (col("mua") - col("mub")) / col("se"))
      .select(col("type_a"), col("type_b"),
        r6(col("mua") - col("mub")).as("mean_diff"),
        r6(col("t")).as("t_stat"),
        (abs(round(col("t") * lit(1000000)) / lit(1000000.0)) > 3.0)
          .as("significant"))
  }

  def pairwiseContrasts(spark: SparkSession, sfDir: String): DataFrame =
    pairwiseContrasts(Tables.events(spark, sfDir))

  /** q347: intraclass correlation of order→ship latency within suppliers —
    * one-way random-effects ICC(1) from the ANOVA mean squares, with the
    * unbalanced-design group-size correction k₀ = (N − Σnᵢ²/N)/(a−1)
    * (Searle). Answers the supply-chain attribution question q208's F test
    * (on series) does not: what SHARE of delay variance is a stable
    * supplier trait vs per-shipment noise — i.e. whether supplier-level
    * intervention can move the needle at all.
    *
    * Scale shape: unlike q208's |groups|-row global window (fine for 5
    * series, wrong for |supplier| groups), the grand totals here come from
    * a second tiny aggregate broadcast BACK onto the group rows — two
    * map-side-combinable aggregates and one broadcast, no single-task
    * window over an unbounded key space. The lineitem⋈orders equi-join is
    * q69's shuffle shape (both sides key-partitioned on orderkey). Group
    * moments are exact decimal sums (delay is integer days, so d² is
    * exact pre-cast); each group's SSB/SSW term is decimal-snapped before
    * the final sum, so the statistic is partition-order-free.
    */
  def iccShipDelay(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val g = lineitem.select(col("l_orderkey"), col("l_suppkey"),
        col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(col("l_shipdate"), col("o_orderdate"))
          .cast("double").as("d"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("ng"),
        sum(col("d").cast("decimal(18,6)")).as("sg"),
        sum((col("d") * col("d")).cast("decimal(28,6)")).as("qg"))
    val tot = g.agg(count(lit(1)).as("a"),
      sum(col("ng")).as("n_tot"),
      sum(col("sg")).as("s_tot"),
      sum((col("ng") * col("ng")).cast("decimal(38,0)")).as("nsq"))
    val terms = g.crossJoin(broadcast(tot))
      .withColumn("gm",
        col("s_tot").cast("double") / col("n_tot").cast("double"))
      .withColumn("mg", col("sg").cast("double") / col("ng").cast("double"))
      .withColumn("ssb_t",
        (col("ng").cast("double") * (col("mg") - col("gm"))
          * (col("mg") - col("gm"))).cast("decimal(28,12)"))
      .withColumn("ssw_t",
        (col("qg").cast("double")
          - col("ng").cast("double") * col("mg") * col("mg"))
          .cast("decimal(28,12)"))
    terms.groupBy(col("a"), col("n_tot"), col("nsq"))
      .agg(sum(col("ssb_t")).cast("double").as("ssb"),
        sum(col("ssw_t")).cast("double").as("ssw"))
      .withColumn("aa", col("a").cast("double"))
      .withColumn("nn", col("n_tot").cast("double"))
      .withColumn("msb", col("ssb") / (col("aa") - 1.0))
      .withColumn("msw", col("ssw") / (col("nn") - col("aa")))
      .withColumn("k0",
        (col("nn") - col("nsq").cast("double") / col("nn"))
          / (col("aa") - 1.0))
      .select(col("a").as("n_suppliers"), col("n_tot").as("n_obs"),
        r6(col("msb")).as("ms_between"),
        r6(col("msw")).as("ms_within"),
        r6(col("k0")).as("k0"),
        when(col("msb") + (col("k0") - 1.0) * col("msw") > 0,
          r6((col("msb") - col("msw"))
            / (col("msb") + (col("k0") - 1.0) * col("msw"))))
          .otherwise(lit(0.0)).as("icc"),
        when(col("msw") > 0, r6(col("msb") / col("msw")))
          .otherwise(lit(0.0)).as("f_stat"))
  }

  def iccShipDelay(spark: SparkSession, sfDir: String): DataFrame =
    iccShipDelay(Tables.lineitem(spark, sfDir), Tables.orders(spark, sfDir))

  /** q369: Cramér's V association between quantity band and discount level
    * — the normalized-χ² effect size on the 5×11 contingency grid, the
    * number that says whether "bigger orders get deeper discounts" is a
    * real pricing policy or noise (q207's χ² alone grows with n, so at
    * 100 TB EVERYTHING is "significant"; V is sample-size-free). Expected
    * counts come from the broadcast margins; the per-cell (o−e)²/e terms
    * are 1e-12-snapped into an exact decimal sum.
    *
    * Scale shape: one map-combinable ≤55-cell census over a two-column
    * fact projection; margins and the grand total broadcast back onto
    * the bounded cell table. Integer bucketing only (discount·100
    * rounded) — no float-equality hazards.
    */
  def cramersV(lineitem: DataFrame): DataFrame = {
    def s12(c: org.apache.spark.sql.Column) = round(c * lit(1e12)) / lit(1e12)
    val cells = lineitem.select(
        floor((col("l_quantity") - 1) / 10).cast("int").as("qty_band"),
        round(col("l_discount") * 100).cast("int").as("disc_pct"))
      .groupBy(col("qty_band"), col("disc_pct"))
      .agg(count(lit(1)).as("o"))
    val rowT = cells.groupBy(col("qty_band")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("disc_pct")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("qty_band")).as("r"),
      countDistinct(col("disc_pct")).as("c"))
    val terms = cells
      .join(broadcast(rowT), "qty_band")
      .join(broadcast(colT), "disc_pct")
      .crossJoin(broadcast(tot))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") / col("n"))
      .withColumn("t",
        s12((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
    terms.groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("t").cast("decimal(38,12)")).cast("double").as("chi2"))
      .select(col("n").as("n_lines"), col("r").as("n_qty_bands"),
        col("c").as("n_disc_levels"),
        (round(col("chi2") * 10000) / 10000.0).as("chi2"),
        // ANSI-safe: a 1-level factor has no association dof — NULL V
        // (vacuous on the real 5×11 grid, so oracle parity is untouched)
        when(least(col("r"), col("c")) > 1,
          round(sqrt(col("chi2")
            / (col("n") * (least(col("r"), col("c")) - 1).cast("double")))
            * 1000000) / 1000000.0).as("cramers_v"))
  }

  def cramersV(spark: SparkSession, sfDir: String): DataFrame =
    cramersV(Tables.lineitem(spark, sfDir))

  /** q378: Kruskal–Wallis H across ALL event types on value — the K-group
    * generalization of q130's two-group rank test, completing the
    * nonparametric row of the inference triad (q208 ANOVA assumes
    * normal-ish groups; KW sees any location shift). Ranks are tie-aware
    * midranks from per-value counts; the GLOBAL rank pool's cumulative
    * count runs through [[Prefix.over]]'s distributed prefix sum (an
    * unpartitioned window here would serialize the whole distinct-value
    * table through one task — the anti-pattern the repo retired). Rank
    * sums are decimal-snapped; H gets the standard tie correction
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Output: one row per group (n, rank sum, mean rank) with the shared
    * H / H_adj / df repeated — the per-group view says WHICH group sits
    * high or low, which the scalar H alone cannot.
    */
  def kruskalWallis(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val byTv = ev.groupBy(col("value"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val byV = byTv.groupBy(col("value")).agg(sum(col("c")).as("t"))
    val ranked = Prefix.over(byV, Seq(col("value")),
      Seq(Prefix.Agg(col("t"), "cumb", "sum", inclusive = false)))
      .withColumn("avgRank",
        coalesce(col("cumb"), lit(0L)).cast("double")
          + (col("t") + 1).cast("double") / 2)
    val perGroup = byTv.join(ranked.select(col("value"), col("avgRank")), "value")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * col("avgRank")).cast("decimal(38,6)"))
          .cast("double").as("rsum"))
    // Cast BEFORE cubing: t*t*t in LongType overflows 64-bit once a tie
    // group exceeds ~2.1M rows — real at 100 TB. decimal(38,0)*t*t is exact.
    val ties = byV.agg(
      sum(col("t")).as("bigN"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .as("tieSum"))
    val h = perGroup.crossJoin(broadcast(ties))
      .withColumn("term",
        round(col("rsum") * col("rsum") / col("n").cast("double") * lit(1e6))
          / lit(1e6))
      .agg(max(col("bigN")).as("bigN"), max(col("tieSum")).as("tieSum"),
        sum(col("term").cast("decimal(38,6)")).cast("double").as("sumTerm"))
      .withColumn("h_raw",
        lit(12.0) / (col("bigN").cast("double") * (col("bigN") + 1))
          * col("sumTerm") - lit(3.0) * (col("bigN") + 1).cast("double"))
      .withColumn("cf",
        lit(1.0) - col("tieSum").cast("double")
          / (col("bigN").cast("double") * col("bigN") * col("bigN")
            - col("bigN")))
      .select(col("h_raw"), col("cf"))
    val k = perGroup.agg(count(lit(1)).as("k"))
    perGroup.crossJoin(broadcast(h)).crossJoin(broadcast(k))
      .select(col("event_type"), col("n"),
        (round(col("rsum") * 10000) / 10000.0).as("rank_sum"),
        (round(col("rsum") / col("n") * 10000) / 10000.0).as("mean_rank"),
        r6(col("h_raw")).as("h"),
        // cf = 0 when every row shares one value (tieSum = N³−N): emit NULL
        // rather than engine-dependent Inf/NaN division semantics.
        when(col("cf") === 0, lit(null).cast("double"))
          .otherwise(r6(col("h_raw") / col("cf"))).as("h_adj"),
        (col("k") - 1).cast("int").as("df"))
  }

  def kruskalWallis(spark: SparkSession, sfDir: String): DataFrame =
    kruskalWallis(Tables.events(spark, sfDir))

  /** q379: Cliff's delta weekday-vs-weekend per series — the ordinal effect
    * size behind q130's Mann–Whitney z: δ = (#(x>y) − #(x<y))/(n₁n₂) says
    * HOW OFTEN a weekday reading beats a weekend one, sample-size-free
    * (the z statistic grows with n even for trivial shifts — same reason
    * q369 exists beside q207). Computed from the same per-value phase
    * counts as q130: with CB<(v) the weekend count strictly below v and
    * CB≤(v) at-or-below, #(x>y) = Σ ca(v)·CB<(v) and #(x<y) =
    * Σ ca(v)·(n₂ − CB≤(v)) — one bounded per-series window pass, never a
    * pair join. Magnitude classes at the conventional |δ| fences
    * .147/.33/.474.
    */
  def cliffsDelta(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("we",
        pmod(floor(col("e") / 86400L) + 4, lit(7)).isin(0, 6))
    val cnts = ev.groupBy(col("event_type"), col("value"))
      .agg(
        sum(when(!col("we"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("we"), 1L).otherwise(0L)).as("cb"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val whole = Window.partitionBy(col("event_type"))
    cnts
      .withColumn("cbBelow",
        coalesce(sum(col("cb")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cbAtOrBelow",
        sum(col("cb")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("na", sum(col("ca")).over(whole))
      .withColumn("nb", sum(col("cb")).over(whole))
      .groupBy(col("event_type"))
      .agg(max(col("na")).as("n_wd"), max(col("nb")).as("n_we"),
        sum((col("ca") * col("cbBelow")).cast("decimal(38,0)")).as("gt"),
        sum((col("ca") * (col("nb") - col("cbAtOrBelow")))
          .cast("decimal(38,0)")).as("lt"))
      // ANSI-safe: an empty phase has no pairs to compare — NULL delta
      // (ANSI decimal division would otherwise raise DIVIDE_BY_ZERO)
      .withColumn("delta",
        when(col("n_wd") === 0 || col("n_we") === 0, lit(null))
          .otherwise((col("gt") - col("lt")).cast("double")
            / (col("n_wd").cast("double") * col("n_we"))))
      .select(col("event_type"), col("n_wd"), col("n_we"),
        r6(col("delta")).as("delta"),
        when(col("delta").isNull, lit(null))
          .when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
  }

  def cliffsDelta(spark: SparkSession, sfDir: String): DataFrame =
    cliffsDelta(Tables.events(spark, sfDir))

  /** Per-day treatment midranks over COMPLETE blocks — the shared stage of
    * the Friedman (q383) and Page (q384) tests: daily means per
    * (event_type, day), days missing any treatment dropped (both tests
    * require complete blocks), within-day midranks (min-rank + (t−1)/2 over
    * the tie group) so exact ties stay deterministic. Bounded: the grid is
    * days × types.
    */
  private def dailyMidranks(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("event_type"), epochS(col("ts")).as("e"), col("value"))
      .withColumn("day", floor(col("e") / 86400L))
      .groupBy(col("event_type"), col("day"))
      .agg((sum(col("value").cast("decimal(18,6)")).cast("double")
        / count(lit(1))).as("x"))
    val k = daily.agg(countDistinct(col("event_type")).as("k"))
    val complete = daily
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("day"))))
      .crossJoin(broadcast(k))
      .where(col("nd") === col("k"))
    complete
      .withColumn("minRnk",
        rank().over(Window.partitionBy(col("day")).orderBy(col("x"))))
      .withColumn("tie",
        count(lit(1)).over(Window.partitionBy(col("day"), col("x"))))
      .withColumn("midrank",
        col("minRnk").cast("double") + (col("tie") - 1).cast("double") / 2)
      .select(col("event_type"), col("day"), col("midrank"), col("k"), col("x"))
  }

  /** q383: Friedman test across event types on per-day daily means — the
    * repeated-measures rank test: each DAY is a block, so day-level level
    * shifts (weekends, global traffic swings) cancel out and only the
    * BETWEEN-TYPE ordering within each day is scored; q378's
    * Kruskal–Wallis pools all readings and would confound those. Classic
    * Q = 12/(nk(k+1))·ΣR²ⱼ − 3n(k+1) on midranks (ties broken by
    * averaging, the standard practical treatment). Per-type rank sums +
    * shared Q/df.
    */
  def friedman(events: DataFrame): DataFrame = {
    val ranks = dailyMidranks(events)
    val per = ranks.groupBy(col("event_type"))
      .agg(max(col("k")).as("k"), count(lit(1)).as("n_days"),
        sum(col("midrank").cast("decimal(38,6)")).cast("double").as("rj"))
    val q = per
      .withColumn("term", round(col("rj") * col("rj") * lit(1e6)) / lit(1e6))
      .agg(max(col("k")).as("k"), max(col("n_days")).as("n"),
        sum(col("term").cast("decimal(38,6)")).cast("double").as("srj2"))
      .withColumn("q_raw",
        lit(12.0) / (col("n").cast("double") * col("k")
          * (col("k") + 1)) * col("srj2")
          - lit(3.0) * col("n").cast("double") * (col("k") + 1))
      .select(col("q_raw"), (col("k") - 1).cast("int").as("df"))
    per.crossJoin(broadcast(q))
      .select(col("event_type"), col("n_days"),
        (round(col("rj") * 10000) / 10000.0).as("rank_sum"),
        (round(col("rj") / col("n_days") * 10000) / 10000.0).as("mean_rank"),
        r6(col("q_raw")).as("q"), col("df"))
  }

  def friedman(spark: SparkSession, sfDir: String): DataFrame =
    friedman(Tables.events(spark, sfDir))

  /** q384: Page's L trend test — the ORDERED-alternative sibling of q383:
    * Friedman asks "do the treatments differ at all", Page asks "do they
    * trend MONOTONICALLY along a declared order" and buys power when they
    * do. The declared order here is alphabetical event_type (a fixed,
    * reproducible convention — callers with a domain ordering relabel).
    * L = Σⱼ j·Rⱼ; z = (L − μ)/σ with μ = nk(k+1)²/4 and
    * σ² = nk²(k+1)(k²−1)/144. Per-type (position, rank sum) + shared L/z.
    */
  def pageTrend(events: DataFrame): DataFrame = {
    val ranks = dailyMidranks(events)
    val per = ranks.groupBy(col("event_type"))
      .agg(max(col("k")).as("k"), count(lit(1)).as("n_days"),
        sum(col("midrank").cast("decimal(38,6)")).cast("double").as("rj"))
      .withColumn("j",
        row_number().over(Window.orderBy(col("event_type"))).cast("long"))
    val l = per
      .withColumn("term", round(col("j") * col("rj") * lit(1e6)) / lit(1e6))
      .agg(max(col("k")).as("k"), max(col("n_days")).as("n"),
        sum(col("term").cast("decimal(38,6)")).cast("double").as("lsum"))
      .withColumn("kk", col("k").cast("double"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("mu", col("nn") * col("kk") * (col("kk") + 1)
        * (col("kk") + 1) / 4)
      .withColumn("sigma", sqrt(col("nn") * col("kk") * col("kk")
        * (col("kk") + 1) * (col("kk") * col("kk") - 1) / 144))
      .select(col("lsum"), col("mu"), col("sigma"))
    per.crossJoin(broadcast(l))
      .select(col("event_type"), col("j").cast("int").as("position"),
        col("n_days"),
        (round(col("rj") * 10000) / 10000.0).as("rank_sum"),
        (round(col("lsum") * 10000) / 10000.0).as("l"),
        r6((col("lsum") - col("mu")) / col("sigma")).as("z"))
  }

  def pageTrend(spark: SparkSession, sfDir: String): DataFrame =
    pageTrend(Tables.events(spark, sfDir))

  /** q385: Dunn's post-hoc pairwise comparisons on q378's global rank
    * pool — the follow-up that says WHICH groups differ once
    * Kruskal–Wallis rejects: zₐᵦ = (m̄ₐ − m̄ᵦ)/√[(N(N+1)/12 −
    * Σ(t³−t)/(12(N−1)))·(1/nₐ + 1/nᵦ)], tie-corrected, flagged at the
    * Bonferroni fence for k(k−1)/2 two-sided comparisons at α=0.05
    * (z₀.₀₅/₂₀ = 2.807 for k=5). The rank pool reuses the KW machinery
    * (Prefix.over distributed prefix sum); the pair join runs on the
    * k-row per-group table.
    */
  def dunnPosthoc(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val byTv = ev.groupBy(col("value"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val byV = byTv.groupBy(col("value")).agg(sum(col("c")).as("t"))
    val ranked = Prefix.over(byV, Seq(col("value")),
      Seq(Prefix.Agg(col("t"), "cumb", "sum", inclusive = false)))
      .withColumn("avgRank",
        coalesce(col("cumb"), lit(0L)).cast("double")
          + (col("t") + 1).cast("double") / 2)
    val perGroup = byTv.join(ranked.select(col("value"), col("avgRank")), "value")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum((col("c") * col("avgRank")).cast("decimal(38,6)"))
          .cast("double").as("rsum"))
    val ties = byV.agg(
      sum(col("t")).as("bigN"),
      // decimal cast before the cube — same 64-bit overflow fence as q378
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .cast("double").as("tieSum"))
    val a = perGroup.select(col("event_type").as("type_a"),
      col("n").as("na"), (col("rsum") / col("n")).as("ma"))
    val b = perGroup.select(col("event_type").as("type_b"),
      col("n").as("nb"), (col("rsum") / col("n")).as("mb"))
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .crossJoin(broadcast(ties))
      .withColumn("s2",
        (col("bigN").cast("double") * (col("bigN") + 1) / 12
          - col("tieSum") / (lit(12.0) * (col("bigN") - 1).cast("double")))
          * (lit(1.0) / col("na") + lit(1.0) / col("nb")))
      .withColumn("z", (col("ma") - col("mb")) / sqrt(col("s2")))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        (round((col("ma") - col("mb")) * 10000) / 10000.0).as("mean_rank_diff"),
        (round(col("z") * 1000000) / 1000000.0).as("z"),
        (abs(col("z")) > 2.807).as("significant"))
  }

  def dunnPosthoc(spark: SparkSession, sfDir: String): DataFrame =
    dunnPosthoc(Tables.events(spark, sfDir))

  /** q387: Jonckheere–Terpstra ordered-alternative test across event types
    * (alphabetical order as the declared convention, q384's rule) — the
    * independent-groups sibling of Page's L: Page needs day blocks, JT
    * pools each group and asks whether the groups trend monotonically.
    * J = Σ_{a<b} U_ab with U_ab = #(x_a < x_b) + ½#(x_a = x_b), computed
    * per ordered pair from value-level counts: every group's CDF steps are
    * cumulated over the SHARED value spine (one bounded per-type window —
    * q130's shape), so U_ab = Σ_v c_b(v)·[cumA_below(v) + c_a(v)/2] is a
    * value-level equi-join, never a row-pair join. z uses the standard
    * no-tie normalization μ = (N²−Σn²)/4, σ² = [N²(2N+3) −
    * Σn²(2n+3)]/72 (ties enter U via the ½ term; the variance tie
    * correction is omitted, as in the classic test — documented choice).
    */
  def jonckheere(events: DataFrame): DataFrame = {
    val cnts = events.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val spine = cnts.select(col("value")).distinct()
    val types = cnts.select(col("event_type")).distinct()
    val grid = spine.crossJoin(broadcast(types))
      .join(cnts, Seq("event_type", "value"), "left_outer")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    val wt = Window.partitionBy(col("event_type")).orderBy(col("value"))
    val f = grid
      .withColumn("cumBelow",
        coalesce(sum(col("c0")).over(wt.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("fa",
        col("cumBelow").cast("double") + col("c0").cast("double") / 2)
      .select(col("event_type").as("type_a"), col("value"), col("fa"))
    val b = cnts.select(col("event_type").as("type_b"), col("value"),
      col("c").as("cb"))
    val perPair = f.join(b, "value")
      .where(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum((round(col("cb") * col("fa") * lit(1e6)) / lit(1e6))
        .cast("decimal(38,6)")).cast("double").as("u"))
    val sizes = cnts.groupBy(col("event_type")).agg(sum(col("c")).as("n"))
    val norm = sizes.agg(
      sum(col("n")).as("bigN"),
      // decimal cast before multiplying: n*n*(2n+3) in LongType overflows
      // 64-bit once one group passes ~2.1M rows
      sum(col("n").cast("decimal(38,0)") * col("n")).cast("double").as("sn2"),
      sum(col("n").cast("decimal(38,0)") * col("n") * (lit(2L) * col("n") + 3))
        .cast("double").as("sn23"))
      .withColumn("nn", col("bigN").cast("double"))
      .withColumn("mu", (col("nn") * col("nn") - col("sn2")) / 4)
      .withColumn("sigma", sqrt((col("nn") * col("nn")
        * (lit(2.0) * col("nn") + 3) - col("sn23")) / 72))
      .select(col("mu"), col("sigma"))
    val j = perPair.agg(
      sum((round(col("u") * lit(1e6)) / lit(1e6)).cast("decimal(38,6)"))
        .cast("double").as("jstat"))
    perPair.crossJoin(broadcast(j)).crossJoin(broadcast(norm))
      .select(col("type_a"), col("type_b"),
        (round(col("u") * 10000) / 10000.0).as("u"),
        (round(col("jstat") * 10000) / 10000.0).as("j"),
        r6((col("jstat") - col("mu")) / col("sigma")).as("z"))
  }

  def jonckheere(spark: SparkSession, sfDir: String): DataFrame =
    jonckheere(Tables.events(spark, sfDir))

  /** q388: Quade test — the weighted member of the blocked-design family
    * (q383 Friedman treats every day equally, q384 Page adds an order;
    * Quade weights each day by how INFORMATIVE it is): blocks are ranked
    * by their within-day value RANGE, and each within-day rank deviation
    * is scaled by that block weight, S_ij = Q_i·(R_ij − (k+1)/2), so a day
    * where the types differ wildly counts more than a near-tie day.
    * F = (n−1)·B/(A−B) with A = ΣS²ᵢⱼ, B = ΣS²ⱼ/n, on (k−1, (n−1)(k−1))
    * degrees of freedom; a perfectly consistent design has A = B and an
    * infinite F — emitted as NULL with the df columns still meaningful.
    * All ranks are midranks; the block-range ranking runs on the bounded
    * per-day table (one row per day).
    */
  def quade(events: DataFrame): DataFrame = {
    def s6(c: org.apache.spark.sql.Column) = round(c * lit(1e6)) / lit(1e6)
    val ranks = dailyMidranks(events)
    val rng = ranks.groupBy(col("day"))
      .agg((max(col("x")) - min(col("x"))).as("rg"), max(col("k")).as("k"))
      .withColumn("minR", rank().over(Window.orderBy(col("rg"))))
      .withColumn("tie", count(lit(1)).over(Window.partitionBy(col("rg"))))
      .withColumn("q",
        col("minR").cast("double") + (col("tie") - 1).cast("double") / 2)
    val sij = ranks.join(rng.select(col("day"), col("q"), col("k").as("k2")), "day")
      .withColumn("sij",
        s6(col("q") * (col("midrank") - (col("k") + 1).cast("double") / 2)))
    val per = sij.groupBy(col("event_type"))
      .agg(max(col("k")).as("k"), count(lit(1)).as("n_days"),
        sum(col("sij").cast("decimal(38,6)")).cast("double").as("sj"),
        sum(s6(col("sij") * col("sij")).cast("decimal(38,6)"))
          .cast("double").as("aj"))
    val f = per
      .withColumn("sj2", s6(col("sj") * col("sj")))
      .agg(max(col("k")).as("k"), max(col("n_days")).as("n"),
        sum(col("aj").cast("decimal(38,6)")).cast("double").as("a"),
        sum(col("sj2").cast("decimal(38,6)")).cast("double").as("sb"))
      .withColumn("b", col("sb") / col("n"))
      .withColumn("fstat",
        when(col("a") - col("b") <= 0, lit(null))
          .otherwise((col("n") - 1).cast("double") * col("b")
            / (col("a") - col("b"))))
      .select(col("fstat"),
        (col("k") - 1).cast("int").as("df1"),
        ((col("n") - 1) * (col("k") - 1)).cast("int").as("df2"))
    per.crossJoin(broadcast(f))
      .select(col("event_type"), col("n_days"),
        (round(col("sj") * 10000) / 10000.0).as("s_j"),
        r6(col("fstat")).as("f"), col("df1"), col("df2"))
  }

  def quade(spark: SparkSession, sfDir: String): DataFrame =
    quade(Tables.events(spark, sfDir))

  /** Shared detector panel for the paired-detector tests (q409/q410): the
    * 3σ z-rule and Tukey-fence rule of q283 plus an empirical-tail rule
    * (outside [p0.5%, p99.5%]). Each threshold comes from ONE grouped pass
    * (moments) or the shared exact-quantile kernel, is snapped to 6
    * decimals exactly like q261/q283 so both engines draw identical
    * boundaries, and rides back over the scan as a broadcast — the flags
    * themselves never shuffle row-level data.
    */
  private def detectorFlags(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("value"))
    val mom = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).as("s1"),
        sum((col("value") * col("value")).cast("decimal(28,6)")).as("s2"))
      // a single-reading series has no sample sd — no 3σ detector exists,
      // so the series is excluded from the panel rather than crashing the
      // job on the (n−1) divide (round-10 fuzz finding)
      .where(col("n") >= 2)
      .withColumn("m", col("s1").cast("double") / col("n"))
      .withColumn("sd", sqrt(
        (col("s2").cast("double") - col("n") * col("m") * col("m"))
          / (col("n") - 1)))
      .select(col("event_type"), col("m"), col("sd"))
    val qs = Percentiles.exactQuantiles(ev, "event_type", "value",
        Seq("q1" -> 0.25, "q3" -> 0.75, "p005" -> 0.005, "p995" -> 0.995))
      .groupBy(col("event_type"))
      .agg(
        (round(max(when(col("qname") === "q1", col("qv"))) * lit(1000000))
          / lit(1000000.0)).as("q1"),
        (round(max(when(col("qname") === "q3", col("qv"))) * lit(1000000))
          / lit(1000000.0)).as("q3"),
        (round(max(when(col("qname") === "p005", col("qv"))) * lit(1000000))
          / lit(1000000.0)).as("p005"),
        (round(max(when(col("qname") === "p995", col("qv"))) * lit(1000000))
          / lit(1000000.0)).as("p995"))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .select(col("event_type"), col("lo"), col("hi"),
        col("p005"), col("p995"))
    ev.join(broadcast(mom), "event_type")
      .join(broadcast(qs), "event_type")
      .withColumn("fa", abs(col("value") - col("m")) > lit(3.0) * col("sd"))
      .withColumn("fb", col("value") < col("lo") || col("value") > col("hi"))
      .withColumn("fc",
        col("value") < col("p005") || col("value") > col("p995"))
      .select(col("event_type"), col("fa"), col("fb"), col("fc"))
  }

  /** q409: McNemar's test per series — q283 reports how OFTEN the z-rule
    * and Tukey-rule detectors agree; McNemar asks whether their
    * disagreement is one-sided (does one detector systematically flag
    * points the other misses?), the paired test that justifies replacing
    * one production detector with another. Discordant counts n10 (z-only)
    * and n01 (fence-only) come from the same single conditional aggregate;
    * χ² uses Edwards' continuity correction (|n10−n01|−1)²/(n10+n01), NULL
    * when the detectors never disagree (no evidence either way). Integer
    * arithmetic until the one final divide, so partition order is moot;
    * the discordant-difference square goes through decimal(38,0) (HUGEINT
    * on the oracle side) so a 100 TB-scale |n10−n01| ≫ 3e9 cannot wrap
    * the BIGINT multiply — the same q378 lesson cochranQ applies.
    */
  def mcnemar(events: DataFrame): DataFrame = {
    detectorFlags(events)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("fa") && !col("fb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("fa") && col("fb"), 1L).otherwise(0L)).as("n01"))
      .withColumn("d",
        (abs(col("n10") - col("n01")) - lit(1L)).cast("decimal(38,0)"))
      .select(col("event_type"), col("n"), col("n10"), col("n01"),
        (round(when(col("n10") + col("n01") === 0, lit(null))
          .otherwise((col("d") * col("d")).cast("double")
            / (col("n10") + col("n01")).cast("double")) * 10000)
          / 10000.0).as("chi2"))
  }

  def mcnemar(spark: SparkSession, sfDir: String): DataFrame =
    mcnemar(Tables.events(spark, sfDir))

  /** q410: Cochran's Q per series — the k-detector generalization of q409:
    * do the 3σ, Tukey-fence, and empirical-tail rules flag at the SAME
    * rate, or is one of the ensemble systematically trigger-happy? Uses
    * the algebraically expanded form Q = (k−1)(k·ΣGⱼ² − T²)/(k·T − ΣLᵢ²)
    * (column totals Gⱼ, row sums Lᵢ, grand total T) so the whole statistic
    * is exact integer arithmetic from one conditional aggregate until the
    * final divide; the squares go through decimal(38,0) first so a
    * 100 TB-scale Gⱼ (≫2³²) cannot overflow the multiply (the q378 lesson).
    * Denominator 0 (all rows flagged by all or no detectors) → NULL.
    */
  def cochranQ(events: DataFrame): DataFrame = {
    val d38 = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    detectorFlags(events)
      .withColumn("l",
        when(col("fa"), 1L).otherwise(0L) + when(col("fb"), 1L).otherwise(0L)
          + when(col("fc"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("fa"), 1L).otherwise(0L)).as("g_sigma"),
        sum(when(col("fb"), 1L).otherwise(0L)).as("g_tukey"),
        sum(when(col("fc"), 1L).otherwise(0L)).as("g_tail"),
        sum(col("l") * col("l")).as("sum_l2"))
      .withColumn("t", col("g_sigma") + col("g_tukey") + col("g_tail"))
      .withColumn("num",
        lit(2) * (lit(3) * (d38(col("g_sigma")) * col("g_sigma")
            + d38(col("g_tukey")) * col("g_tukey")
            + d38(col("g_tail")) * col("g_tail"))
          - d38(col("t")) * col("t")))
      .withColumn("den", lit(3) * col("t") - col("sum_l2"))
      .select(col("event_type"), col("n"),
        col("g_sigma"), col("g_tukey"), col("g_tail"),
        (round(when(col("den") <= 0, lit(null))
          .otherwise(col("num").cast("double")
            / col("den").cast("double")) * 10000) / 10000.0).as("q_stat"),
        lit(2).cast("int").as("df"))
  }

  def cochranQ(spark: SparkSession, sfDir: String): DataFrame =
    cochranQ(Tables.events(spark, sfDir))

  /** q435: adjusted standardized Pearson residuals of the customer-nation ×
    * order-priority contingency table — q207's chi-square says WHETHER the
    * two factors are associated; the per-cell residual (O−E)/√(E(1−r/N)
    * (1−c/N)) (Agresti's adjusted form, asymptotically N(0,1)) says
    * WHERE: which nation over-files which priority. The drill-down every
    * significant chi-square demands, and the mosaic-plot data without the
    * plot.
    *
    * One grouped pass to cells, margins re-aggregated from the cells
    * (never a second scan), all counts exact integers into one IEEE
    * expression per cell.
    */
  def pearsonResiduals(orders: DataFrame, customer: DataFrame,
                       nation: DataFrame): DataFrame = {
    val cells = orders
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy(col("nation")).agg(sum(col("o")).as("rt"))
    val cols = cells.groupBy(col("priority")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"))
    cells.join(rows, "nation").join(broadcast(cols), "priority")
      .crossJoin(broadcast(tot))
      .withColumn("e", col("rt").cast("double") * col("ct").cast("double")
        / col("n").cast("double"))
      .withColumn("resid",
        (col("o").cast("double") - col("e"))
          / sqrt(col("e")
            * (lit(1.0) - col("rt").cast("double") / col("n").cast("double"))
            * (lit(1.0) - col("ct").cast("double") / col("n").cast("double"))))
      .select(col("nation"), col("priority"), col("o"),
        (round(col("e") * 10000) / 10000.0).as("e"),
        (round(col("resid") * 10000) / 10000.0).as("std_resid"),
        (abs(col("resid")) > 2.0).as("significant"))
  }

  def pearsonResiduals(spark: SparkSession, sfDir: String): DataFrame =
    pearsonResiduals(Tables.orders(spark, sfDir),
      Tables.customer(spark, sfDir), Tables.nation(spark, sfDir))

  /** q443: CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the experimentation-platform primitive beside q307's
    * diff-in-diff: each user's PRE-period mean (before the frozen q87
    * 75% split) is the control covariate, θ = cov(x,y)/var(x) over
    * users, and the adjusted metric y − θ(x − x̄) keeps the mean but
    * sheds the covariate-explained variance. Output per series: θ and
    * the achieved variance-reduction ratio cov²/(var_x·var_y) = ρ² —
    * the factor by which an A/B test's required sample size shrinks.
    *
    * Scale: one grouped pass to per-(series, user) phase means, one to
    * per-series moments — both map-side combinable, nothing beyond
    * |series|×|users| ever shuffles; per-user means snap to 1e-6 so the
    * second-pass products are bit-identical cross-engine. Users lacking
    * either phase are excluded (no covariate / no metric); series need
    * n ≥ 2 users and positive variances, the q180 guard discipline.
    */
  def cuped(events: DataFrame): DataFrame = {
    val ev = events.select(col("event_type"), col("user_id"),
      epochS(col("ts")).as("e"), col("value"))
    val split = ev.agg(floor(min(col("e"))
      + (max(col("e")) - min(col("e"))) * 0.75).cast("long").as("split_e"))
    val um = ev.crossJoin(broadcast(split))
      .withColumn("pre", col("e") < col("split_e"))
      .groupBy(col("event_type"), col("user_id"))
      // counts gate on value NOT NULL exactly like the sums do — a NULL
      // reading must not inflate a phase denominator (and a user whose
      // phase is ALL-NULL has no phase mean at all)
      .agg(
        sum(when(col("pre"), col("value").cast("decimal(18,6)"))).as("sx"),
        sum(when(col("pre") && col("value").isNotNull, 1L).otherwise(0L))
          .as("nx"),
        sum(when(!col("pre"), col("value").cast("decimal(18,6)"))).as("sy"),
        sum(when(!col("pre") && col("value").isNotNull, 1L).otherwise(0L))
          .as("ny"))
      .where(col("nx") > 0 && col("ny") > 0)
      .select(col("event_type"),
        (round(col("sx").cast("double") / col("nx") * 1000000) / 1000000)
          .as("x"),
        (round(col("sy").cast("double") / col("ny") * 1000000) / 1000000)
          .as("y"))
    um.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x").cast("decimal(28,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,12)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(28,12)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(28,12)")).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(28,12)")).cast("double").as("syy"))
      .where(col("n_users") >= 2)
      .withColumn("nn", col("n_users").cast("double"))
      .withColumn("varx", (col("sxx") - col("sx") * col("sx") / col("nn"))
        / (col("nn") - 1))
      .withColumn("vary", (col("syy") - col("sy") * col("sy") / col("nn"))
        / (col("nn") - 1))
      .withColumn("covxy", (col("sxy") - col("sx") * col("sy") / col("nn"))
        / (col("nn") - 1))
      .where(col("varx") > 0 && col("vary") > 0)
      .select(col("event_type"), col("n_users"),
        (round(col("covxy") / col("varx") * 1000000) / 1000000.0).as("theta"),
        (round(col("vary") * 1000000) / 1000000.0).as("var_y"),
        (round((col("vary") - col("covxy") * col("covxy") / col("varx"))
          * 1000000) / 1000000.0).as("var_cuped"),
        (round(col("covxy") * col("covxy") / col("varx") / col("vary")
          * 1000000) / 1000000.0).as("var_reduction"))
  }

  def cuped(spark: SparkSession, sfDir: String): DataFrame =
    cuped(Tables.events(spark, sfDir))

  /** q445: stratified treatment-effect estimate — the observational-
    * causal rung beside q307's diff-in-diff: "treatment" is a deep
    * discount (l_discount > 0.05), outcome is line quantity, and
    * stratifying by brand blocks the brand-level confounding a raw mean
    * difference absorbs (cheap brands discount more AND ship more). Per
    * stratum the arm-mean difference; the ALL_STRATIFIED row is the
    * stratum-size-weighted average (Cochran 1968) — with the per-brand
    * rows kept so Simpson-style sign flips (q429's phenomenon) stay
    * visible next to the adjusted estimate.
    *
    * Scale: one broadcast dim join + one grouped pass to (brand, arm)
    * decimal moments; everything after runs on |brands|×2 rows. Brands
    * missing an arm are excluded from both grains.
    */
  def stratifiedAte(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.join(broadcast(part.select(col("p_partkey"),
        col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_discount") > 0.05).as("treated"),
        col("l_quantity").cast("decimal(18,6)").as("y"))
    val arms = li.groupBy(col("brand"), col("treated"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val piv = arms.groupBy(col("brand"))
      .agg(max(when(col("treated"), col("n"))).as("n_t"),
        max(when(col("treated"), col("sy"))).as("sy_t"),
        max(when(!col("treated"), col("n"))).as("n_c"),
        max(when(!col("treated"), col("sy"))).as("sy_c"))
      .where(col("n_t").isNotNull && col("n_c").isNotNull)
      .select(col("brand"), col("n_t"), col("n_c"),
        (round(col("sy_t").cast("double") / col("n_t") * 1000000) / 1000000)
          .as("mean_t"),
        (round(col("sy_c").cast("double") / col("n_c") * 1000000) / 1000000)
          .as("mean_c"))
      .withColumn("diff", round((col("mean_t") - col("mean_c")) * 1000000)
        / 1000000)
    def wavg(c: org.apache.spark.sql.Column) =
      round(sum((c * (col("n_t") + col("n_c")).cast("double"))
          .cast("decimal(28,8)")).cast("double")
        / sum(col("n_t") + col("n_c")).cast("double") * 1000000) / 1000000
    val overall = piv.agg(
        sum(col("n_t")).as("n_t"), sum(col("n_c")).as("n_c"),
        wavg(col("mean_t")).as("mean_t"), wavg(col("mean_c")).as("mean_c"),
        wavg(col("diff")).as("diff"))
      .select(lit("ALL_STRATIFIED").as("brand"), col("n_t"), col("n_c"),
        col("mean_t"), col("mean_c"), col("diff"))
    piv.select(col("brand"), col("n_t"), col("n_c"), col("mean_t"),
      col("mean_c"), col("diff")).unionByName(overall)
  }

  def stratifiedAte(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedAte(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir))

  /** q448: group-sequential A/B monitoring boundary audit — O'Brien &
    * Fleming (1979) via the z-scale boundary z_k = C·√(K/k) (equivalently
    * C/√t_k at information fraction t_k = k/K), the design every
    * experimentation platform runs so peeking at interim results doesn't
    * inflate false positives. C = 2.04 is the tabulated OBF critical
    * value for K = 5 looks at two-sided α = 0.05 (a design constant, like
    * q345's Wilson z) — kept a literal so both engines share it exactly;
    * the normal-CDF alpha-spending form is deliberately avoided (Φ is the
    * transcendental class SURVEY §3 bans from the parity surface; √ is
    * IEEE-exact).
    *
    * Per series: deterministic arms (user_id % 2 — the q443/q83 no-RNG
    * assignment), five equal calendar looks over the series' time span,
    * and at each CUMULATIVE look the Welch z of the arm-mean difference
    * against the shrinking boundary; `crossed` marks looks where |z|
    * exceeds it, `first_cross` the earliest such look — "when could this
    * experiment have stopped". Degenerate looks (an arm with < 2 values
    * or zero variance) keep their row with a NULL z (the q125 guard
    * discipline); NULL readings count toward neither n nor moments (the
    * q443 advice-fix discipline).
    *
    * Scale: ONE scan to (series, look, arm) decimal moments — map-side
    * combinable; the cumulative prefix runs on the ≤ 5·|series|·2
    * aggregate rows inside a per-series window, and everything after is
    * per-row algebra on 5·|series| rows. The boundary-crossing audit of a
    * 100 TB event log costs exactly one aggregation pass.
    */
  def sequentialBoundary(events: DataFrame, looks: Int = 5,
                         c: Double = 2.04): DataFrame = {
    val ev = events
      .select(col("event_type"), col("user_id"), epochS(col("ts")).as("e"),
        col("value"))
      .where(col("value").isNotNull)
    val span = ev.groupBy(col("event_type"))
      .agg(min(col("e")).as("e0"), (max(col("e")) - min(col("e")) + 1)
        .as("w"))
    // look index by pure BIGINT arithmetic: Spark `div` ≡ DuckDB `//`
    // (integral division, exact) — float division + floor can round a
    // just-below-integer quotient up across engines
    val looked = ev.join(broadcast(span), "event_type")
      .withColumn("look",
        expr(s"(e - e0) * $looks div w") + 1)
      .withColumn("t", (col("user_id") % 2 === 0))
    val cell = looked.groupBy(col("event_type"), col("look"))
      .agg(
        sum(when(col("t"), 1L).otherwise(0L)).as("dn_t"),
        sum(when(!col("t"), 1L).otherwise(0L)).as("dn_c"),
        sum(when(col("t"), col("value").cast("decimal(18,6)"))).as("ds_t"),
        sum(when(!col("t"), col("value").cast("decimal(18,6)"))).as("ds_c"),
        sum(when(col("t"), (col("value") * col("value"))
          .cast("decimal(28,6)"))).as("dq_t"),
        sum(when(!col("t"), (col("value") * col("value"))
          .cast("decimal(28,6)"))).as("dq_c"))
    // every series reports all `looks` rows, including empty looks — the
    // grid join keeps the look axis dense so cumulative stats carry over
    val grid = span.select(col("event_type"))
      .crossJoin(broadcast(events.sparkSession.range(1, looks + 1)
        .select(col("id").as("look"))))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("look"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.join(cell, Seq("event_type", "look"), "left")
      .withColumn("n_t", sum(coalesce(col("dn_t"), lit(0L))).over(wCum))
      .withColumn("n_c", sum(coalesce(col("dn_c"), lit(0L))).over(wCum))
      .withColumn("s_t", sum(coalesce(col("ds_t"),
        lit(0).cast("decimal(18,6)"))).over(wCum))
      .withColumn("s_c", sum(coalesce(col("ds_c"),
        lit(0).cast("decimal(18,6)"))).over(wCum))
      .withColumn("q_t", sum(coalesce(col("dq_t"),
        lit(0).cast("decimal(28,6)"))).over(wCum))
      .withColumn("q_c", sum(coalesce(col("dq_c"),
        lit(0).cast("decimal(28,6)"))).over(wCum))
    val z = cum
      .withColumn("m_t", when(col("n_t") > 0,
        col("s_t").cast("double") / col("n_t")))
      .withColumn("m_c", when(col("n_c") > 0,
        col("s_c").cast("double") / col("n_c")))
      .withColumn("v_t", when(col("n_t") > 1,
        (col("q_t").cast("double") - col("n_t") * col("m_t") * col("m_t"))
          / (col("n_t") - 1)))
      .withColumn("v_c", when(col("n_c") > 1,
        (col("q_c").cast("double") - col("n_c") * col("m_c") * col("m_c"))
          / (col("n_c") - 1)))
      .withColumn("den", when(col("n_t") > 1 && col("n_c") > 1
          && (col("v_t") > 0 || col("v_c") > 0),
        sqrt(col("v_t") / col("n_t") + col("v_c") / col("n_c"))))
      .withColumn("z", when(col("den") > 0, round((col("m_t") - col("m_c"))
        / col("den") * 1000000) / 1000000.0))
      .withColumn("boundary", round(lit(c)
        * sqrt(lit(looks.toDouble) / col("look")) * 1000000) / 1000000.0)
      .withColumn("crossed",
        coalesce(abs(col("z")) > col("boundary"), lit(false)))
    val wS = Window.partitionBy(col("event_type"))
    z.withColumn("first_cross",
        min(when(col("crossed"), col("look"))).over(wS))
      .select(col("event_type"), col("look"), col("n_t"), col("n_c"),
        (round(col("m_t") * 1000000) / 1000000.0).as("mean_t"),
        (round(col("m_c") * 1000000) / 1000000.0).as("mean_c"),
        col("z"), col("boundary"), col("crossed"), col("first_cross"))
  }

  def sequentialBoundary(spark: SparkSession, sfDir: String): DataFrame =
    sequentialBoundary(Tables.events(spark, sfDir))

  /** q449: power / minimum-detectable-effect calculator off q443's CUPED
    * variance reduction — the "what can this experiment actually see"
    * table (Deng et al. 2013 §5; standard two-sample power algebra): with
    * per-arm size n = n_users/2, MDE = (z_{α/2} + z_β)·√(2σ²/n) at
    * α = 0.05, power 0.8 — z constants are the tabulated literals
    * 1.959964 + 0.841621 (the q345 discipline; no Φ⁻¹ on the parity
    * surface). Reported for the RAW metric variance and the CUPED-
    * adjusted variance, plus `n_ratio` = var_cuped/var_y — the factor by
    * which the covariate shrinks the required sample size at fixed MDE —
    * and `mde_shrink` = √(n_ratio), the detectable-effect shrink at fixed
    * n. Runs entirely on [[cuped]]'s |series|-row output: the corpus
    * passes are q443's two grouped scans, nothing new shuffles.
    */
  def powerMde(events: DataFrame): DataFrame = {
    val zsum = 1.959964 + 0.841621
    cuped(events)
      .withColumn("n_arm", (col("n_users").cast("double") / 2.0))
      .withColumn("mde_raw", when(col("n_arm") > 0,
        round(lit(zsum) * sqrt(lit(2.0) * col("var_y") / col("n_arm"))
          * 1000000) / 1000000.0))
      .withColumn("mde_cuped", when(col("n_arm") > 0,
        round(lit(zsum) * sqrt(lit(2.0) * col("var_cuped") / col("n_arm"))
          * 1000000) / 1000000.0))
      .select(col("event_type"), col("n_users"), col("var_y"),
        col("var_cuped"), col("mde_raw"), col("mde_cuped"),
        (round(col("var_cuped") / col("var_y") * 1000000) / 1000000.0)
          .as("n_ratio"),
        (round(sqrt(col("var_cuped") / col("var_y")) * 1000000)
          / 1000000.0).as("mde_shrink"))
  }

  def powerMde(spark: SparkSession, sfDir: String): DataFrame =
    powerMde(Tables.events(spark, sfDir))
}

package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** In-engine logistic regression by distributed Newton–Raphson.
  *
  * The canonical "ML training as aggregation" pattern: each Newton step is
  * ONE map-side-combinable aggregate over the data (gradient + Hessian
  * sufficient statistics), followed by an O(1) closed-form 2×2 solve — no
  * parameter server, no per-row state, and the data never moves. At 100 TB
  * each iteration costs exactly one scan+reduce; four iterations of a
  * well-conditioned 2-parameter model reach |Δβ| ~ 1e-8.
  *
  * Determinism contract (what makes the unrolled-SQL oracle replayable):
  * every per-row term is snapped to DECIMAL(28,12) before the sum, and the
  * coefficient pair is re-snapped to 1e-12 after each solve, so both
  * engines walk bit-identical (β₀, β₁) states; exp() noise is swallowed by
  * the per-term snap.
  */
object Regression {

  private def snap12(c: org.apache.spark.sql.Column) =
    round(c * lit(1e12)) / lit(1e12)
  private def r6(c: org.apache.spark.sql.Column) =
    round(c * lit(1000000)) / lit(1000000.0)

  /** q227: P(event_type = 'error' | value) by Newton-iterated logistic
    * regression — value is scaled by 1/100 so the logit stays in exp()'s
    * comfortable range. Returns the fitted intercept/slope, the positive
    * rate, and training accuracy of the β₀+β₁x > 0 rule (a pure sign
    * comparison — no float boundary).
    */
  def logisticNewton(events: DataFrame, iters: Int = 4): DataFrame = {
    val xy = logisticXy(events)
    logisticNewtonFrom(xy, fitLogistic(xy, iters))
  }

  private def logisticNewtonFrom(xy: DataFrame, beta: DataFrame): DataFrame =
    xy.crossJoin(broadcast(beta))
      .withColumn("pred",
        when(col("b0") + col("b1") * col("x") > 0, 1.0).otherwise(0.0))
      .groupBy(col("b0"), col("b1"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n"), col("n_pos"),
        // + 0.0 folds a rounded -0.0 coefficient onto +0.0 (hash parity)
        (r6(col("b0")) + lit(0.0)).as("beta0"),
        (r6(col("b1")) + lit(0.0)).as("beta1"),
        r6(col("n_correct").cast("double") / col("n").cast("double"))
          .as("accuracy"))

  private def logisticXy(events: DataFrame): DataFrame =
    events.select(
      (col("value") / lit(100.0)).as("x"),
      when(col("event_type") === "error", lit(1.0)).otherwise(lit(0.0))
        .as("y"))

  /** One Newton fit per (session, sfDir, iters): q227 (accuracy) and q270
    * (calibration) walk the identical betas over the identical (x, y)
    * table — fit once per pass, and pin the projected xy spread across
    * the session's shuffle width so each round's decimal-heavy scan isn't
    * one unsplittable-parquet task (guide §2.4, §2.5). The decimal sums
    * are exact and order-free, so the spread changes no state.
    */
  private def fitLogisticFor(spark: SparkSession, sfDir: String,
                             iters: Int): (DataFrame, DataFrame) =
    graft.ops.SharedState.getOrBuild(spark, sfDir, s"logitFit:$iters") {
      val xy = logisticXy(graft.Tables.events(spark, sfDir))
        .repartition(spark.sessionState.conf.numShufflePartitions, col("x"))
        .transform(Materialize.state(_))
      (xy, fitLogistic(xy, iters))
    }

  /** The distributed Newton loop shared by q227 and q270 — returns the
    * one-row (b0, b1) table after `iters` steps, every state snapped to
    * 1e-12 so both consumers (and their oracles) walk identical betas.
    */
  private def fitLogistic(xy: DataFrame, iters: Int): DataFrame = {
    val spark = xy.sparkSession
    import spark.implicits._
    Rounds.fixed(iters, Seq((0.0, 0.0)).toDF("b0", "b1")) { (beta, _) =>
      val stats = xy.crossJoin(broadcast(beta))
        .withColumn("t", col("b0") + col("b1") * col("x"))
        .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("t"))))
        .withColumn("w", col("p") * (lit(1.0) - col("p")))
        .agg(
          max(col("b0")).as("b0"), max(col("b1")).as("b1"),
          sum((col("y") - col("p")).cast("decimal(28,12)"))
            .cast("double").as("g0"),
          sum(((col("y") - col("p")) * col("x")).cast("decimal(28,12)"))
            .cast("double").as("g1"),
          sum(col("w").cast("decimal(28,12)")).cast("double").as("h00"),
          sum((col("w") * col("x")).cast("decimal(28,12)"))
            .cast("double").as("h01"),
          sum((col("w") * col("x") * col("x")).cast("decimal(28,12)"))
            .cast("double").as("h11"))
        .withColumn("det",
          col("h00") * col("h11") - col("h01") * col("h01"))
      stats.select(
        snap12(col("b0")
          + (col("h11") * col("g0") - col("h01") * col("g1")) / col("det"))
          .as("b0"),
        snap12(col("b1")
          + (col("h00") * col("g1") - col("h01") * col("g0")) / col("det"))
          .as("b1"))
    }
  }

  def logisticNewton(spark: SparkSession, sfDir: String): DataFrame = {
    val (xy, beta) = fitLogisticFor(spark, sfDir, 4)
    logisticNewtonFrom(xy, beta)
  }

  /** q270: calibration (reliability) bins for the q227 logistic model —
    * predicted P(error|value) in ten equal-width probability bins vs the
    * OBSERVED positive rate per bin. The model-eval step every deployed
    * scorer needs: accuracy says how often the sign is right, calibration
    * says whether 0.7 means 70%. One extra scan after the Newton fit;
    * predicted p is snapped to 1e-12 BEFORE both the bin floor and the
    * per-bin mean sum, so bin membership and means are engine-identical
    * despite exp().
    */
  def calibrationBins(events: DataFrame, iters: Int = 4): DataFrame = {
    val xy = logisticXy(events)
    calibrationBinsFrom(xy, fitLogistic(xy, iters))
  }

  private def calibrationBinsFrom(xy: DataFrame, beta: DataFrame): DataFrame =
    xy.crossJoin(broadcast(beta))
      .withColumn("p", snap12(lit(1.0)
        / (lit(1.0) + exp(-(col("b0") + col("b1") * col("x"))))))
      .withColumn("bin",
        least(floor(col("p") * 10), lit(9.0)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
        sum(col("p").cast("decimal(28,12)")).as("sp"))
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("sp").cast("double") / col("n").cast("double"))
          .as("mean_pred"),
        r6(col("n_pos").cast("double") / col("n").cast("double"))
          .as("obs_rate"),
        (r6(col("n_pos").cast("double") / col("n").cast("double")
          - col("sp").cast("double") / col("n").cast("double"))
          + lit(0.0)).as("gap"))

  def calibrationBins(spark: SparkSession, sfDir: String): DataFrame = {
    val (xy, beta) = fitLogisticFor(spark, sfDir, 4)
    calibrationBinsFrom(xy, beta)
  }

  /** q247: two-feature OLS by the normal equations — o_totalprice regressed
    * on an order's line count and total quantity. The closed-form
    * counterpart of q227's iterated Newton: ALL nine sufficient moments
    * (Σx, Σx², cross products, Σy terms) come from ONE map-side-combinable
    * aggregate over the order-level feature table, then a 3×3 Cramer solve
    * runs on the single moment row. At 100 TB this is one scan + one
    * O(1)-row reduce — the textbook "training as aggregation" shape; no
    * gradient loop, no parameter state.
    *
    * Determinism: features are integers and cent-valued doubles, so every
    * per-row product is IEEE-exact; each is still snapped to decimal
    * before summation so the moment totals are partition-order-free, and
    * the Cramer determinants are written as ONE fixed expression both
    * engines evaluate identically in doubles.
    */
  def olsNormalEq(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val feats = lineitem.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).cast("double").as("x1"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("x2"))
    val xy = orders.select(col("o_orderkey"), col("o_totalprice").as("y"))
      .join(feats, col("o_orderkey") === col("l_orderkey"))
    val m = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x1").cast("decimal(28,6)")).cast("double").as("s1"),
      sum(col("x2").cast("decimal(28,6)")).cast("double").as("s2"),
      sum((col("x1") * col("x1")).cast("decimal(28,6)")).cast("double").as("s11"),
      sum((col("x1") * col("x2")).cast("decimal(28,6)")).cast("double").as("s12"),
      sum((col("x2") * col("x2")).cast("decimal(28,6)")).cast("double").as("s22"),
      sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
      sum((col("x1") * col("y")).cast("decimal(38,6)")).cast("double").as("s1y"),
      sum((col("x2") * col("y")).cast("decimal(38,6)")).cast("double").as("s2y"),
      sum((col("y") * col("y")).cast("decimal(38,4)")).cast("double").as("syy"))
    // Cramer's rule on [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]]·β = [sy,s1y,s2y];
    // cofactor expansion along the first row, one fixed expression per det
    m.withColumn("nn", col("n").cast("double"))
      .withColumn("det",
        col("nn") * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("det0",
        col("sy") * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
          + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
      .withColumn("det1",
        col("nn") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
          - col("sy") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
      .withColumn("det2",
        col("nn") * (col("s11") * col("s2y") - col("s1y") * col("s12"))
          - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
          + col("sy") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("b0", col("det0") / col("det"))
      .withColumn("b1", col("det1") / col("det"))
      .withColumn("b2", col("det2") / col("det"))
      .withColumn("sse",
        col("syy") - col("b0") * col("sy") - col("b1") * col("s1y")
          - col("b2") * col("s2y"))
      .withColumn("sst", col("syy") - col("sy") * col("sy") / col("nn"))
      .select(col("n"),
        r6(col("b0")).as("beta0"), r6(col("b1")).as("beta1"),
        r6(col("b2")).as("beta2"),
        r6(lit(1.0) - col("sse") / col("sst")).as("r2"))
  }

  def olsNormalEq(spark: SparkSession, sfDir: String): DataFrame =
    olsNormalEq(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))

  /** q248: one-level decision tree (stump) — the best l_quantity threshold
    * for predicting l_returnflag = 'R' by information gain. Quantities are
    * the 50 TPC-H integer values, so the search space collapses to a
    * 50-row per-quantity count table: ONE aggregate over the fact, then
    * cumulative sums give every candidate's left/right class counts and
    * the argmax runs on 49 rows. The 100 TB shape: scan → 50-row state →
    * O(candidates) finish; continuous features would bin to quantiles
    * first (q34's engine) and reuse the same cumulative idiom.
    *
    * Entropy terms use ln on count ratios; each child's weighted entropy
    * contribution is snapped to 1e-12 before the gain subtraction and the
    * argmax compares gains rounded at that resolution (ties broken on the
    * smaller threshold), so a last-ulp libm divergence between engines
    * cannot flip the winner.
    */
  def decisionStump(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perQ = lineitem.groupBy(col("l_quantity").cast("int").as("q"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("pos"))
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = perQ.agg(sum(col("n")).as("nt"), sum(col("pos")).as("pt"))
    // plogp(c, n): c·ln(c/n) with the 0·ln0 = 0 convention, in doubles
    def plogp(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      when(c > 0, c.cast("double") * log(c.cast("double") / n.cast("double")))
        .otherwise(lit(0.0))
    // H(node) · n = −Σ_c c·ln(c/n); weighted child entropy is then a plain
    // sum of the two children's n·H, divided by the parent n
    def nH(p: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      -(plogp(p, n) + plogp(n - p, n))
    val cand = perQ
      .withColumn("nl", sum(col("n")).over(w))
      .withColumn("pl", sum(col("pos")).over(w))
      .crossJoin(broadcast(tot))
      .where(col("nl") < col("nt")) // right child must be non-empty
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("pr", col("pt") - col("pl"))
      .withColumn("gain", snap12(
        (nH(col("pt"), col("nt"))
          - nH(col("pl"), col("nl")) - nH(col("pr"), col("nr")))
          / col("nt").cast("double")))
    val best = Window.orderBy(col("gain").desc, col("q"))
    cand.withColumn("rnk", row_number().over(best)).where(col("rnk") === 1)
      .select(col("q").as("threshold"), r6(col("gain")).as("gain"),
        col("nl").as("n_left"), col("pl").as("pos_left"),
        col("nr").as("n_right"), col("pr").as("pos_right"))
  }

  def decisionStump(spark: SparkSession, sfDir: String): DataFrame =
    decisionStump(Tables.lineitem(spark, sfDir))

  /** q263: grouped simple OLS — extended price regressed on quantity PER
    * part brand, the "thousands of small models in one shuffle" pattern
    * (per-segment elasticities, per-device calibration curves): all five
    * sufficient moments land in ONE map-side-combinable aggregate keyed
    * by brand, and every brand's closed-form solve is a row-local
    * expression. The reduction is |brands|-sized regardless of fact
    * volume — at 100 TB this is exactly one scan plus one tiny shuffle.
    * The slope answers "what does one more unit cost in this brand?";
    * R² flags brands whose pricing isn't quantity-driven.
    */
  def groupedOls(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val xy = lineitem.select(col("l_partkey"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
    xy.groupBy(col("p_brand")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(28,6)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,6)")).cast("double").as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,4)")).cast("double").as("syy"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("vx", col("nn") * col("sxx") - col("sx") * col("sx"))
      .withColumn("slope",
        (col("nn") * col("sxy") - col("sx") * col("sy")) / col("vx"))
      .withColumn("intercept",
        (col("sy") - col("slope") * col("sx")) / col("nn"))
      .withColumn("vy", col("nn") * col("syy") - col("sy") * col("sy"))
      .withColumn("r2",
        (col("nn") * col("sxy") - col("sx") * col("sy"))
          * (col("nn") * col("sxy") - col("sx") * col("sy"))
          / (col("vx") * col("vy")))
      .select(col("p_brand"), col("n"), r6(col("slope")).as("slope"),
        r6(col("intercept")).as("intercept"), r6(col("r2")).as("r2"))
  }

  def groupedOls(spark: SparkSession, sfDir: String): DataFrame =
    groupedOls(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir))

  /** q296: two-round gradient-boosted regression stumps — l_extendedprice
    * predicted from l_quantity, squared loss, shrinkage ν=0.5. The GBM
    * primitive as pure aggregation: quantities are ~50 integers, so ONE
    * fact scan produces the per-quantity (n, Σy, Σy²) table and EVERYTHING
    * else — both rounds' candidate searches AND the residual statistics —
    * runs on those 50 rows. Round 2 never rescans: with a constant
    * prediction per side, Σr = Σy − n·pred and Σr² = Σy² − 2·pred·Σy +
    * n·pred² per quantity, algebra on the same aggregate. Split scores are
    * SSE reductions from cumulative decimal sums; child means and gains
    * 1e-12-snapped with ties to the smaller threshold, so the unrolled
    * oracle walks the identical pair of splits. Output: one row per round
    * with its split, child predictions (post-shrinkage increments), and
    * the running total SSE after the round.
    */
  def boostedStumps(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nu = 0.5
    val perQ = lineitem
      .select(col("l_quantity").cast("int").as("q"),
        col("l_extendedprice").cast("decimal(18,2)").as("y"))
      .groupBy(col("q"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).as("sy"),
        sum((col("y") * col("y")).cast("decimal(38,6)")).as("syy"))
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // one boosting round over a (q, n, sy, syy) table: best SSE split,
    // returning ONE row (t, mean_l, mean_r, sse_after)
    def bestSplit(tab: DataFrame): DataFrame = {
      val tot = tab.agg(sum(col("n")).as("nt"),
        sum(col("sy")).as("syt"), sum(col("syy")).as("syyt"))
      tab
        .withColumn("nl", sum(col("n")).over(w))
        .withColumn("syl", sum(col("sy")).over(w))
        .crossJoin(broadcast(tot))
        .where(col("nl") < col("nt"))
        .withColumn("ml", snap12(col("syl").cast("double")
          / col("nl").cast("double")))
        .withColumn("mr", snap12((col("syt") - col("syl")).cast("double")
          / (col("nt") - col("nl")).cast("double")))
        .withColumn("sse", snap12(col("syyt").cast("double")
          - col("nl").cast("double") * col("ml") * col("ml")
          - (col("nt") - col("nl")).cast("double") * col("mr") * col("mr")))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("sse"), col("q"))))
        .where(col("rnk") === 1)
        .select(col("q").as("t"), col("ml"), col("mr"), col("sse"))
    }

    val r1 = bestSplit(perQ)
    // residual sufficient statistics after applying nu * round-1 stump
    val perQ2 = perQ.crossJoin(broadcast(r1))
      .withColumn("pred", snap12(
        when(col("q") <= col("t"), col("ml")).otherwise(col("mr"))
          * lit(nu)))
      .select(col("q"), col("n"),
        (col("sy") - (col("n") * col("pred")).cast("decimal(28,6)"))
          .as("sy"),
        (col("syy").cast("double")
          - lit(2.0) * col("pred") * col("sy").cast("double")
          + col("n").cast("double") * col("pred") * col("pred"))
          .cast("decimal(38,6)").as("syy"))
    val r2 = bestSplit(perQ2)
    // sse ~ 1e13: the exact-decimal total exceeds double precision, so the
    // decimal->double conversion differs between engines in the last ulp
    // (~0.01) - report in MILLIONS at 1 dp, far coarser than that noise
    def sseM(c: org.apache.spark.sql.Column) =
      round(c / lit(1e6) * lit(10)) / lit(10.0)
    r1.select(lit(1).as("round"), col("t").as("threshold"),
        r6(snap12(col("ml") * lit(nu))).as("incr_left"),
        r6(snap12(col("mr") * lit(nu))).as("incr_right"),
        sseM(col("sse")).as("split_sse_m"))
      .unionAll(r2.select(lit(2).as("round"), col("t").as("threshold"),
        r6(snap12(col("ml") * lit(nu))).as("incr_left"),
        r6(snap12(col("mr") * lit(nu))).as("incr_right"),
        sseM(col("sse")).as("split_sse_m")))
  }

  def boostedStumps(spark: SparkSession, sfDir: String): DataFrame =
    boostedStumps(Tables.lineitem(spark, sfDir))

  /** q297: leakage-safe out-of-fold target encoding — the categorical
    * feature trick (replace category by the target mean of OTHER folds,
    * smoothed toward the global mean) that naive in-fold means corrupt
    * with target leakage. Folds are o_orderkey % 3 (deterministic, no
    * RNG); encoding(cat, fold) = (Σ_target(cat) − Σ_target(cat, fold) +
    * α·global_mean) / (n(cat) − n(cat, fold) + α), α=10. ONE aggregate to
    * the (cat, fold) cell table (|cats|·3 rows); per-cat and global
    * totals are rollups of the cells, so the fact is scanned once. All
    * sums exact decimal; the global mean is 1e-12-snapped before
    * smoothing.
    */
  def targetEncoding(orders: DataFrame, folds: Int = 3,
                     alpha: Double = 10.0): DataFrame = {
    val cells = orders
      .select(col("o_orderpriority").as("cat"),
        (col("o_orderkey") % folds).cast("int").as("fold"),
        col("o_totalprice").cast("decimal(18,2)").as("y"))
      .groupBy(col("cat"), col("fold"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val perCat = cells.groupBy(col("cat"))
      .agg(sum(col("n")).as("cn"), sum(col("sy")).as("csy"))
    val global = cells.agg(
      snap12(sum(col("sy")).cast("double")
        / sum(col("n")).cast("double")).as("gmean"))
    cells.join(perCat, "cat").crossJoin(broadcast(global))
      .select(col("cat"), col("fold"), col("n").as("n_in_fold"),
        (col("cn") - col("n")).as("n_oof"),
        r6(snap12(((col("csy") - col("sy")).cast("double")
          + lit(alpha) * col("gmean"))
          / ((col("cn") - col("n")).cast("double") + lit(alpha))))
          .as("encoding"))
  }

  def targetEncoding(spark: SparkSession, sfDir: String): DataFrame =
    targetEncoding(Tables.orders(spark, sfDir))

  /** q343: Bass diffusion fit of the customer adoption curve — the classic
    * n(t) = a + b·N(t−1) + c·N(t−1)² discrete regression (Bass 1969) over
    * daily first-order counts, solved closed-form and inverted to the
    * market-size / innovation / imitation triple M = root of cM²+bM+a,
    * p̂ = a/M, q̂ = −c·M. The growth-curve question a corpus or customer
    * base planner asks ("when does acquisition peak, and at what size?")
    * answered without an optimizer loop.
    *
    * Scale shape: first-order dates are ONE map-side-combinable min per
    * customer (the |customer|-key shuffle is the cost and parallelizes
    * perfectly); everything after runs on the bounded day-level table
    * (≤ timespan rows at any data scale — the cumulative window is over
    * days, never customers), and the 3×3 Cramer solve mirrors
    * [[olsNormalEq]]: nine decimal-snapped moments, one fixed expression.
    * Adoption counts and their cumulative prefix are integer-valued, so
    * every per-row product is IEEE-deterministic before its decimal snap.
    * The peak time ln(q̂/p̂)/(p̂+q̂) only exists for an S-curve (p̂,q̂ > 0);
    * on a flat adoption stream it is NULL by construction — both engines
    * agree via the same guard.
    */
  def bassDiffusion(orders: DataFrame): DataFrame = {
    val fo = orders.groupBy(col("o_custkey"))
      .agg(floor(min(unix_timestamp(col("o_orderdate"))) / 86400L)
        .cast("long").as("d"))
    val daily = fo.groupBy(col("d")).agg(count(lit(1)).cast("double").as("y"))
    val wDay = org.apache.spark.sql.expressions.Window.orderBy(col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cm = daily
      .withColumn("x1", coalesce(sum(col("y")).over(wDay), lit(0.0)))
      .withColumn("x2", col("x1") * col("x1"))
    val m = cm.agg(
      count(lit(1)).as("n"),
      sum(col("x1").cast("decimal(28,6)")).cast("double").as("s1"),
      sum(col("x2").cast("decimal(38,6)")).cast("double").as("s2"),
      sum((col("x1") * col("x1")).cast("decimal(38,6)")).cast("double").as("s11"),
      sum((col("x1") * col("x2")).cast("decimal(38,6)")).cast("double").as("s12"),
      sum((col("x2") * col("x2")).cast("decimal(38,6)")).cast("double").as("s22"),
      sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
      sum((col("x1") * col("y")).cast("decimal(38,6)")).cast("double").as("s1y"),
      sum((col("x2") * col("y")).cast("decimal(38,6)")).cast("double").as("s2y"))
    val beta = m.withColumn("nn", col("n").cast("double"))
      .withColumn("det",
        col("nn") * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("det0",
        col("sy") * (col("s11") * col("s22") - col("s12") * col("s12"))
          - col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
          + col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y")))
      .withColumn("det1",
        col("nn") * (col("s1y") * col("s22") - col("s12") * col("s2y"))
          - col("sy") * (col("s1") * col("s22") - col("s12") * col("s2"))
          + col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2")))
      .withColumn("det2",
        col("nn") * (col("s11") * col("s2y") - col("s1y") * col("s12"))
          - col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
          + col("sy") * (col("s1") * col("s12") - col("s11") * col("s2")))
      .withColumn("a", snap12(col("det0") / col("det")))
      .withColumn("b", snap12(col("det1") / col("det")))
      .withColumn("c", snap12(col("det2") / col("det")))
    beta
      .withColumn("disc", col("b") * col("b") - lit(4.0) * col("c") * col("a"))
      .withColumn("mHat",
        when(col("disc") >= 0 && col("c") =!= 0.0,
          greatest(
            (-col("b") + sqrt(col("disc"))) / (lit(2.0) * col("c")),
            (-col("b") - sqrt(col("disc"))) / (lit(2.0) * col("c")))))
      .withColumn("pHat", snap12(col("a") / col("mHat")))
      .withColumn("qHat", snap12(-col("c") * col("mHat")))
      .select(col("n").as("n_days"),
        snap12(col("a")).as("beta0"), snap12(col("b")).as("beta1"),
        snap12(col("c")).as("beta2"),
        (round(col("mHat") * 100) / 100.0).as("m_hat"),
        col("pHat").as("p_hat"), col("qHat").as("q_hat"),
        when(col("pHat") > 0 && col("qHat") > 0,
          round(log(col("qHat") / col("pHat")) / (col("pHat") + col("qHat"))
            * 100) / 100.0).as("peak_day"))
  }

  def bassDiffusion(spark: SparkSession, sfDir: String): DataFrame =
    bassDiffusion(Tables.orders(spark, sfDir))

  /** q442: split-conformal prediction intervals (Vovk et al.; Lei et al.,
    * "Distribution-Free Predictive Inference for Regression") over a
    * per-flag linear price model. The orderkey residue mod 3 splits
    * lineitem deterministically: fold 0 fits price ~ quantity per return
    * flag by exact-decimal normal equations; fold 1 calibrates — qhat is
    * the ceil((n+1)·(1−α))-th order statistic of the snapped |residual|s,
    * the distribution-free 90% radius; fold 2 audits the guarantee
    * (empirical coverage of ŷ ± qhat, ≥ 1−α in expectation). The
    * uncertainty layer every point model in the suite lacks: no
    * distributional assumption, only exchangeability.
    *
    * Scale: three disjoint scans, each collapsing map-side to per-flag
    * decimal moments; the calibration order statistic runs on per-flag
    * DISTINCT snapped-residual counts (the ksFromCounts cost class — a
    * sort within each flag's distinct residuals) and locates ONE rank —
    * never a per-row sort; coverage is a conditional aggregate.
    * Coefficients snap to 1e-9 before residuals so both engines walk the
    * same float path; a flag with a degenerate train fold (constant x) is
    * excluded, not a 0-division crash.
    */
  def conformalInterval(lineitem: DataFrame, alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r9 = (c: org.apache.spark.sql.Column) =>
      round(c * 1000000000L) / 1000000000L
    // % (dividend-sign remainder), NOT pmod: the oracle's l_orderkey % 3
    // has DuckDB %-semantics, and the two diverge on negative keys
    // hash-spread the projected slice before the three fold passes (fit,
    // calibration residuals, eval residuals): the single-row-group scan
    // otherwise runs each pass's decimal-heavy partial aggregate in ONE
    // task (guide §2.5); no pin — re-scanning the 4-column projection is
    // cheaper than a checkpoint write (measured on the q49 twin)
    val li = lineitem.select(col("l_returnflag").as("flag"),
      (col("l_orderkey") % 3).cast("int").as("fold"),
      col("l_quantity").cast("double").as("x"),
      col("l_extendedprice").cast("double").as("y"),
      col("l_orderkey"))
      .repartition(lineitem.sparkSession.sessionState.conf.numShufflePartitions,
        col("l_orderkey"))
      .drop("l_orderkey")
    val fit = li.where(col("fold") === 0)
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n_train"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(28,6)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(28,6)")).cast("double").as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,6)")).cast("double").as("sxy"))
      .withColumn("nn", col("n_train").cast("double"))
      .withColumn("det", col("nn") * col("sxx") - col("sx") * col("sx"))
      .where(col("det") =!= 0.0)
      .select(col("flag"), col("n_train"),
        r9((col("nn") * col("sxy") - col("sx") * col("sy")) / col("det"))
          .as("slope"),
        r9((col("sy") * col("sxx") - col("sx") * col("sxy")) / col("det"))
          .as("intercept"))
    def resid(fold: Int): DataFrame = li.where(col("fold") === fold)
      .join(broadcast(fit), "flag")
      .select(col("flag"), col("n_train"), col("slope"), col("intercept"),
        (round(abs(col("y") - (col("intercept") + col("slope") * col("x")))
          * 1000000) / 1000000).as("ar"))
    val calCnt = resid(1).groupBy(col("flag"), col("n_train"), col("slope"),
        col("intercept"), col("ar"))
      .agg(count(lit(1)).as("c"))
    val wF = Window.partitionBy(col("flag")).orderBy(col("ar"))
    val qhat = calCnt
      .withColumn("cum", sum(col("c")).over(
        wF.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_calib",
        sum(col("c")).over(Window.partitionBy(col("flag"))))
      .withColumn("r", least(ceil((col("n_calib") + 1) * lit(1.0 - alpha))
        .cast("long"), col("n_calib")))
      .where(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
      .select(col("flag"), col("n_train"), col("slope"), col("intercept"),
        col("n_calib"), col("ar").as("qhat"))
    resid(2).drop("n_train", "slope", "intercept")
      .join(broadcast(qhat), "flag")
      .groupBy(col("flag"), col("n_train"), col("n_calib"), col("slope"),
        col("intercept"), col("qhat"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("ar") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("flag"), col("n_train"), col("n_calib"), col("n_eval"),
        col("slope"), col("intercept"), col("qhat"),
        (round(col("n_covered").cast("double") / col("n_eval") * 1000000)
          / 1000000.0).as("coverage"))
  }

  def conformalInterval(spark: SparkSession, sfDir: String): DataFrame =
    conformalInterval(Tables.lineitem(spark, sfDir))

  /** q447: weight-of-evidence encoding + information value of brand vs
    * the returned-line outcome — the credit-scoring feature statistic
    * (Siddiqi, "Credit Risk Scorecards") beside q297's CV target
    * encoding: WOE_b = ln(good-share_b / bad-share_b) with Laplace 0.5
    * smoothing (every brand keeps a finite WOE even with an empty arm),
    * IV = Σ (gshare − bshare)·WOE — the standard keep/drop gauge for a
    * categorical feature. One grouped pass to brand arms + one broadcast
    * totals row; ln is the one transcendental with cross-engine bit
    * parity (SURVEY §3).
    */
  def woeIv(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val li = lineitem.join(broadcast(part.select(col("p_partkey"),
        col("p_brand"))), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        (col("l_returnflag") === "R").as("bad"))
    val arms = li.groupBy(col("brand"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("bad"), 1L).otherwise(0L)).as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad"))
    val tot = arms.agg(sum(col("n_good")).as("gt"),
      sum(col("n_bad")).as("bt"), count(lit(1)).as("nb"))
    val sc = arms.crossJoin(broadcast(tot))
      .withColumn("gshare", (col("n_good").cast("double") + 0.5)
        / (col("gt").cast("double") + lit(0.5) * col("nb").cast("double")))
      .withColumn("bshare", (col("n_bad").cast("double") + 0.5)
        / (col("bt").cast("double") + lit(0.5) * col("nb").cast("double")))
      .withColumn("woe", log(col("gshare") / col("bshare")))
      .withColumn("iv_term", (col("gshare") - col("bshare")) * col("woe"))
    val iv = sc.agg((round(sum(col("iv_term").cast("decimal(28,12)"))
      .cast("double") * 1000000) / 1000000.0).as("iv_total"))
    sc.crossJoin(broadcast(iv))
      .select(col("brand"), col("n"), col("n_bad"),
        (round(col("woe") * 1000000) / 1000000.0 + lit(0.0)).as("woe"),
        (round(col("iv_term") * 100000000) / 100000000.0 + lit(0.0))
          .as("iv_term"),
        col("iv_total"))
  }

  def woeIv(spark: SparkSession, sfDir: String): DataFrame =
    woeIv(Tables.lineitem(spark, sfDir), Tables.part(spark, sfDir))
}

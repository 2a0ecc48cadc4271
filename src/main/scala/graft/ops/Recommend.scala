package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Recommender-system evaluation — the leave-last-basket-out protocol a
  * training-data pipeline runs to judge whether its co-occurrence data
  * carries any predictive signal before anyone trains a model on it.
  */
object Recommend {

  /** q423: item-kNN hit-rate — the classic collaborative-filtering
    * baseline (Deshpande & Karypis 2004) evaluated leave-last-order-out:
    * every customer's LAST order is held out, item-item cosine similarity
    * c_ij/√(c_i·c_j) is fit on the remaining baskets ONLY (no holdout
    * leakage into the model), each customer's history items vote for
    * their top-`nNbr` neighbours, and the top-`topK` recommendations are
    * scored against the held-out basket: HitRate@5/@10 and MRR@10. The
    * one-row scoreboard that says whether co-purchase structure in this
    * corpus is signal or noise.
    *
    * Scale posture: the basket self-join fans out per ORDER (baskets are
    * small; never a global item×item product), the neighbour lists are
    * top-nNbr per item (bounded state, window-partitioned by item), and
    * candidate generation is history×neighbour equi-joins — linear in
    * |history|·nNbr. Vote sums snap to DECIMAL(18,10) so rankings are
    * partition-order-free; every ranking tie breaks on the item key.
    */
  /** The shared leave-last-order-out pipeline: (eligible users, held-out
    * items, top-`topK` recommendations per user) — consumed by
    * [[itemKnnEval]] (accuracy) and [[recCoverage]] (catalog coverage /
    * exposure concentration).
    */
  private def recPipeline(orders: DataFrame, lineitem: DataFrame,
                          nNbr: Int, topK: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val oi = orders.select(col("o_custkey").as("cust"),
      col("o_orderkey").as("okey"), col("o_orderdate").as("odate"))
    val wOrd = Window.partitionBy(col("cust"))
      .orderBy(col("odate").desc, col("okey").desc)
    val ranked = oi.withColumn("ornk", row_number().over(wOrd))
    val li = lineitem.select(col("l_orderkey").as("okey"),
      col("l_partkey").as("part")).distinct()
    val test = ranked.where(col("ornk") === 1).join(li, "okey")
      .select(col("cust"), col("part"))
    val histOrders = ranked.where(col("ornk") >= 2)
    // one materialization of the history join: hist, users and baskets are
    // all projections of it (guide §2.4 — previously two separate
    // shuffled joins over the same rows)
    val histLi = histOrders.join(li, "okey")
      .select(col("cust"), col("okey"), col("part"))
      .transform(Materialize.state(_))
    val hist = histLi.select(col("cust"), col("part")).distinct()
    val users = hist.select(col("cust")).distinct()

    val baskets = histLi.select(col("okey"), col("part")).distinct()
    val ci = baskets.groupBy(col("part")).agg(count(lit(1)).as("c"))
    val pairs = baskets.as("x")
      .join(baskets.as("y"), col("x.okey") === col("y.okey")
        && col("x.part") < col("y.part"))
      .groupBy(col("x.part").as("i"), col("y.part").as("j"))
      .agg(count(lit(1)).as("cij"))
      .where(col("cij") >= 2)
    val sym = pairs.select(col("i"), col("j"), col("cij"))
      .union(pairs.select(col("j").as("i"), col("i").as("j"), col("cij")))
    val sim = sym
      .join(ci.toDF("i", "ci"), "i").join(ci.toDF("j", "cj"), "j")
      .withColumn("cos", col("cij").cast("double")
        / sqrt((col("ci") * col("cj")).cast("double")))
    val wN = Window.partitionBy(col("i")).orderBy(col("cos").desc, col("j"))
    // the decimal vote weight is cast ONCE per neighbour edge (item×nNbr
    // rows) instead of once per (user, history item, neighbour) candidate
    // row — the cast value is identical per edge, so the decimal sum is
    // unchanged (guide §1.2 step 2: per-row work off the hot path)
    val nbrs = sim.withColumn("nr", row_number().over(wN))
      .where(col("nr") <= nNbr)
      .select(col("i"), col("j"), col("cos"),
        col("cos").cast("decimal(18,10)").as("t"))

    // aggregate BEFORE the anti-join: both are keyed (cust, j), so the
    // groupBy's exchange already co-partitions the anti-join probe side —
    // the anti-join then filters whole (cust, j) groups (identical result,
    // since it drops groups wholesale) without re-shuffling the raw
    // candidate rows a second time (guide §2.4: share one exchange)
    val cand = hist.toDF("cust", "i").join(nbrs, "i")
      .groupBy(col("cust"), col("j")).agg(sum(col("t")).as("score"))
      .join(hist.toDF("cust", "j"), Seq("cust", "j"), "left_anti")
    val wS = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("j"))
    val rec = cand.withColumn("rr", row_number().over(wS))
      .where(col("rr") <= topK)
    (users, test, rec)
  }

  /** One leave-last-order-out pipeline per (session, sfDir): q423 and
    * q439 consume the identical (users, test, rec) triple — the basket
    * self-join + neighbour ranking runs once per pass, checkpointed
    * because every consumer reads `rec` in 2+ branches (hits/users,
    * exposure/user-count) which otherwise re-execute the whole
    * multi-join pipeline per branch (guide §2.4, §5 cache-when-reused).
    */
  private def recPipelineFor(spark: SparkSession, sfDir: String)
      : (DataFrame, DataFrame, DataFrame) =
    SharedState.getOrBuild(spark, sfDir, "recPipeline:20:10") {
      val (u, t, r) = recPipeline(Tables.orders(spark, sfDir),
        Tables.lineitem(spark, sfDir), 20, 10)
      (Materialize.state(u), Materialize.state(t), Materialize.state(r))
    }

  def itemKnnEval(orders: DataFrame, lineitem: DataFrame,
                  nNbr: Int = 20, topK: Int = 10): DataFrame =
    itemKnnEvalFrom(recPipeline(orders, lineitem, nNbr, topK))

  private def itemKnnEvalFrom(
      pipe: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val r6 = (c: org.apache.spark.sql.Column) =>
      round(c * 1000000) / 1000000.0
    val (users, test, rec) = pipe
    val hits = rec.join(test.toDF("cust", "j"), Seq("cust", "j"))
      .groupBy(col("cust"))
      .agg(min(col("rr")).as("first_hit"),
        max(when(col("rr") <= 5, 1L).otherwise(0L)).as("hit5"))
    users.join(hits, Seq("cust"), "left")
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("hit5") === 1L, 1L).otherwise(0L)).as("n_hit5"),
        sum(when(col("first_hit").isNotNull, 1L).otherwise(0L))
          .as("n_hit10"),
        sum(coalesce((lit(1.0) / col("first_hit")).cast("decimal(18,10)"),
          lit(0).cast("decimal(18,10)"))).as("srr"))
      .select(col("n_users"), col("n_hit5"), col("n_hit10"),
        r6(col("n_hit5").cast("double") / col("n_users").cast("double"))
          .as("hit_rate_5"),
        r6(col("n_hit10").cast("double") / col("n_users").cast("double"))
          .as("hit_rate_10"),
        r6(col("srr").cast("double") / col("n_users").cast("double"))
          .as("mrr_10"))
  }

  def itemKnnEval(spark: SparkSession, sfDir: String): DataFrame =
    itemKnnEvalFrom(recPipelineFor(spark, sfDir))

  /** q439: recommendation coverage and exposure concentration — the
    * beyond-accuracy scorecard (Ge et al. 2010) on the SAME q423 top-k
    * lists: what fraction of the catalog is ever recommended, and how
    * concentrated exposure is across the items that are (Gini over
    * per-item recommendation counts, the q121 exact-rank construction).
    * An accurate recommender with coverage ≈ 0 and Gini ≈ 1 is a
    * popularity loop — the business failure HitRate alone never shows.
    *
    * Exposure counts reduce the rec lists to one row per recommended
    * item; the Gini rank runs through the distributed prefix engine
    * (never a single-partition global window).
    */
  def recCoverage(orders: DataFrame, lineitem: DataFrame,
                  nNbr: Int = 20, topK: Int = 10): DataFrame = {
    val (u, t, r) = recPipeline(orders, lineitem, nNbr, topK)
    // pin rec: both the exposure rollup and the user count re-read it
    recCoverageFrom(lineitem, (u, t, Materialize.state(r)))
  }

  private def recCoverageFrom(lineitem: DataFrame,
      pipe: (DataFrame, DataFrame, DataFrame)): DataFrame = {
    val rec = pipe._3
    // SQL count(DISTINCT) semantics: NULL is not a catalog item — a
    // count(lit(1)) over distinct() would tally the NULL group too
    val catalog = lineitem.select(col("l_partkey"))
      .where(col("l_partkey").isNotNull).distinct()
      .agg(count(lit(1)).as("n_catalog"))
    val exposure = rec.groupBy(col("j")).agg(count(lit(1)).as("c"))
    val g = Prefix.over(exposure, Seq(col("c"), col("j")),
        Seq(Prefix.rowNumber("i")))
      .agg(count(lit(1)).as("n_items"), sum(col("c")).as("tot"),
        sum(col("c") * col("i")).as("s1"))
    val uu = rec.select(col("cust")).distinct()
      .agg(count(lit(1)).as("n_users_with_recs"))
    g.crossJoin(broadcast(catalog)).crossJoin(broadcast(uu))
      .select(col("n_users_with_recs"),
        col("n_items").as("n_items_recommended"), col("n_catalog"),
        (round(col("n_items").cast("double")
          / col("n_catalog").cast("double") * 1000000) / 1000000.0)
          .as("coverage"),
        (round((lit(2.0) * col("s1").cast("double")
          / (col("n_items") * col("tot").cast("double"))
          - (col("n_items") + lit(1)).cast("double") / col("n_items"))
          * 1000000) / 1000000.0).as("exposure_gini"))
  }

  def recCoverage(spark: SparkSession, sfDir: String): DataFrame =
    recCoverageFrom(Tables.lineitem(spark, sfDir),
      recPipelineFor(spark, sfDir))
}

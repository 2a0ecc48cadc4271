package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate sketches — the constant-memory aggregates a 100 TB engine
  * reaches for when exact answers don't justify their shuffle width.
  * Estimate VALUES aren't bit-portable across engines, so the query is made
  * self-validating instead: the exact counterpart rides in the same plan and
  * the output asserts the sketch landed within tolerance — a claim the
  * DuckDB oracle CAN check (it expects `true`), so the sketch's accuracy
  * contract is part of the hash compare rather than a blind rows-only count.
  */
object Sketches {

  /** Accept 5× the configured relative standard deviation — far out on the
    * estimator's error distribution, so a pass is meaningful and a failure
    * means the sketch (not luck) is broken.
    */
  val Rsd = 0.02
  val Tolerance = 5 * Rsd

  /** q38: per-type user cardinality — HyperLogLog++ estimate (2% target
    * rsd) validated against the exact distinct riding in the same plan. The
    * sketch aggregates in fixed space per group and merges associatively, so
    * the shuffle carries one sketch per (partition, group) instead of every
    * distinct key; the exact count_distinct expands to a two-phase distinct
    * aggregate.
    */
  def sketchDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"))
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), rsd = Rsd).as("approx_users"),
        count_distinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("exact_users"), col("n"),
        (abs(col("approx_users") - col("exact_users")).cast("double")
          / col("exact_users") <= Tolerance).as("sketch_ok"))

  /** Rank-error slack for [[quantileAccuracy]]: percentile_approx at
    * accuracy=10000 guarantees rank error ≤ n/10000; the audit brackets each
    * estimate between the exact quantiles ±1 percentile — 100× that bound —
    * so a pass is a property of the sketch, not luck, and a failure means
    * the sketch (or its merge) is broken.
    */
  val QAccuracy = 10000
  val RankSlack = 0.01

  /** q89: quantile-sketch accuracy audit — the constant-memory
    * percentile_approx (Greenwald–Khanna summaries: one bounded sketch per
    * (partition, group), merged associatively — the 100 TB path where
    * two-pass exact is a luxury) validated IN-PLAN against the exact
    * two-pass quantiles: each estimate must land between the exact
    * (p−slack) and (p+slack) values. The exact values anchor the DuckDB
    * hash compare; the ok-flags make the sketch's rank-error contract part
    * of the query's own output, the same feedback-loop shape as q38 (HLL)
    * and q59 (MinHash).
    */
  def quantileAccuracy(spark: SparkSession, sfDir: String): DataFrame =
    quantileAccuracy(Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").as("grp"), col("l_extendedprice").as("x")))

  /** Audit core over any (grp, x) input. */
  def quantileAccuracy(li: DataFrame): DataFrame = {
    val qs = Seq(
      ("p50_lo", 0.49), ("p50", 0.50), ("p50_hi", 0.51),
      ("p95_lo", 0.94), ("p95", 0.95), ("p95_hi", 0.96),
      ("p99_lo", 0.98), ("p99", 0.99), ("p99_hi", 1.00))
    val exact = Percentiles.exactQuantiles(li, "grp", "x", qs)
      .groupBy(col("grp"))
      .agg(
        qs.map { case (nm, _) =>
          min(when(col("qname") === nm, col("qv"))).as(nm)
        }.head,
        qs.map { case (nm, _) =>
          min(when(col("qname") === nm, col("qv"))).as(nm)
        }.tail: _*)
    val approx = li.groupBy(col("grp"))
      .agg(percentile_approx(col("x"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(QAccuracy)).as("ap"))
    approx.join(exact, "grp").select(
      col("grp"),
      (round(col("p50") * 10000) / 10000).as("p50"),
      (round(col("p95") * 10000) / 10000).as("p95"),
      (round(col("p99") * 10000) / 10000).as("p99"),
      (element_at(col("ap"), 1).between(col("p50_lo"), col("p50_hi"))).as("ok50"),
      (element_at(col("ap"), 2).between(col("p95_lo"), col("p95_hi"))).as("ok95"),
      (element_at(col("ap"), 3).between(col("p99_lo"), col("p99_hi"))).as("ok99"))
  }

  /** Datasketches HLL at lgConfigK=12 has rsd ≈ 1.6%; accept 5× — same
    * "pass means the sketch works, not luck" posture as [[Rsd]].
    */
  val HllTolerance = 0.08

  /** q98: sketch RE-AGGREGATION — per-source HyperLogLog sketches of
    * distinct content fingerprints, then the corpus total answered by
    * MERGING the per-source sketches (hll_union_agg), never rescanning the
    * corpus. This is the pre-aggregated-cube pattern that matters at 100
    * TB: distinct counts for any source roll-up come from unioning
    * kilobyte-sized sketches, which exact distinct counts cannot do
    * (distincts don't add — sources share fingerprints). Both levels ride
    * beside their exact counterparts with ok-flags, so the oracle checks
    * the merge accuracy contract, not just the bookkeeping (q38's
    * self-validating shape).
    */
  def sketchRollup(docs: DataFrame): DataFrame = {
    val fp = docs.select(col("source"), md5(Dedup.normText(col("text"))).as("h"))
    val per = fp.groupBy(col("source")).agg(
      hll_sketch_agg(col("h")).as("sk"),
      count_distinct(col("h")).as("exact_fps"),
      count(lit(1)).as("n_docs"))
    val perOut = per.select(
      col("source"), col("exact_fps"), col("n_docs"),
      (abs(hll_sketch_estimate(col("sk")) - col("exact_fps")).cast("double")
        / col("exact_fps") <= HllTolerance).as("sketch_ok"))
    val totOut = per
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
      .crossJoin(broadcast(
        fp.agg(count_distinct(col("h")).as("exact_fps"), count(lit(1)).as("n_docs"))))
      .select(
        lit("TOTAL").as("source"), col("exact_fps"), col("n_docs"),
        (abs(col("approx") - col("exact_fps")).cast("double")
          / col("exact_fps") <= HllTolerance).as("sketch_ok"))
    perOut.union(totOut)
  }

  /** The md5-hex → integer idiom as SQL text: value of the first `digits`
    * hex chars of column `c` — works verbatim in Spark SQL and DuckDB, so
    * Spark plan and oracle share one generator.
    */
  private[graft] def hexValSql(c: String, digits: Int): String =
    (1 to digits).map { i =>
      val w = math.pow(16, digits - i).toLong
      // CAST each weight: int·int overflows 32 bits under ANSI at 16^7
      s"(instr('0123456789abcdef', substr($c, $i, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString("CAST(", " +\n", " AS BIGINT)")

  /** q404: KMV (k-minimum-values) corpus fingerprint — the DATASET-level
    * dedup primitive (Bar-Yossef et al.; Beyer et al.'s unbiased
    * estimator): hash every distinct shingle into [0, 2⁴⁸), keep the k
    * smallest — that k-vector IS the corpus fingerprint (two corpora's
    * sketches estimate their Jaccard by resemblance of minima, the
    * snapshot-vs-snapshot "did the dataset change" check), and the k-th
    * minimum estimates the distinct-shingle count as (k−1)/m̂. q38's HLL
    * counts; KMV counts AND fingerprints AND composes across corpora by
    * a k-way merge of tiny sketches. Output: the k sketch rows with the
    * estimate and the exact count beside it (the audit of its own error).
    *
    * Scale: distinct-shingle shuffle (the q21 exchange), then a global
    * top-k ascending — TakeOrdered, k values to the driver-side plan, no
    * full sort materialized.
    */
  def kmvSketch(docs: DataFrame, k: Int = 16): DataFrame =
    kmvSketchFromSh(Dedup.shingles(docs), k)

  private def kmvSketchFromSh(sh0: DataFrame, k: Int): DataFrame = {
    val sh = sh0.select(col("sh")).distinct()
    val hashed = sh.select(md5(concat(lit("kmv:"), col("sh"))).as("h"))
      .select(expr(hexValSql("h", 12)).as("hv"))
    val exact = sh.agg(count(lit(1)).as("exact_distinct"))
    val wAsc = Window.orderBy(col("hv"))
    val topk = hashed.orderBy(col("hv")).limit(k)
      .withColumn("rank", row_number().over(wAsc))
    val kth = topk.where(col("rank") === k)
      .select(col("hv").as("kth_min"))
    topk.crossJoin(broadcast(kth)).crossJoin(broadcast(exact))
      .select(col("rank"), col("hv"),
        round(lit((k - 1).toDouble) * lit(281474976710656.0)
          / col("kth_min")).cast("long").as("est_distinct"),
        col("exact_distinct"))
  }

  def kmvSketch(spark: SparkSession, sfDir: String): DataFrame =
    kmvSketchFromSh(Dedup.shinglesFor(spark, sfDir), 16)

  /** q406: KMV resemblance — what the q404 fingerprint is FOR: estimate
    * the Jaccard between two corpora from their k-value sketches alone
    * (Broder's min-wise resemblance on the KMV union: take the k smallest
    * of the two sketches' union; the fraction of those present in BOTH
    * sketches estimates J), audited against the exact shingle Jaccard of
    * the same two halves. This is the snapshot-diff / cross-dataset-
    * contamination primitive: two 100 TB corpora compare through two
    * k-row sketches, and the exact side here exists only to grade the
    * estimator. Halves are the even/odd source index — a deterministic
    * split both engines re-derive.
    *
    * Scale: per-side distinct-shingle shuffles (the q21 exchange) + two
    * TakeOrdered-k; the resemblance math runs on ≤ 2k rows.
    */
  def sketchResemblance(docs: DataFrame, k: Int = 16): DataFrame =
    sketchResemblanceFromSh(docs, Dedup.shingles(docs), k)

  private def sketchResemblanceFromSh(docs: DataFrame, sh0: DataFrame,
                                      k: Int): DataFrame = {
    val sided = sh0
      .join(docs.select(col("doc_id"),
        (expr("CAST(substr(source, 4, 10) AS INT) % 2") === 0)
          .as("even")), "doc_id")
      .select(col("even"), col("sh")).distinct()
      .transform(Materialize.state(_))
    val exact = sided.groupBy(col("sh"))
      .agg(max(when(col("even"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("even"), 1L).otherwise(0L)).as("in_b"))
      .agg(sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("n_inter"),
        count(lit(1)).as("n_union"),
        sum(col("in_a")).as("n_a"), sum(col("in_b")).as("n_b"))
    val hv = sided.select(col("even"),
      md5(concat(lit("kmv:"), col("sh"))).as("h"))
      .select(col("even"), expr(hexValSql("h", 12)).as("hv"))
    // per-side top-k as two TakeOrdered branches (the kmvSketch idiom):
    // a partitionBy(even) row_number window is a 2-partition sort where
    // ONE task orders every distinct shingle hash of a whole corpus half
    // — at 100 TB that single task is the job. orderBy.limit(k) plans as
    // TakeOrderedAndProject: per-partition heaps of k, k rows merged at
    // the driver-side plan, nothing global ever sorted.
    val sk = hv.where(col("even")).orderBy(col("hv")).limit(k)
      .unionAll(hv.where(!col("even")).orderBy(col("hv")).limit(k))
      .select(col("even"), col("hv"))
    // k smallest of the sketch union; count those present in both sketches
    val wU = Window.orderBy(col("hv"))
    val union = sk.groupBy(col("hv"))
      .agg(max(when(col("even"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("even"), 1L).otherwise(0L)).as("in_b"))
      .orderBy(col("hv")).limit(k)
      .withColumn("rk", row_number().over(wU))
    val est = union.agg(
      count(lit(1)).as("n_kmin"),
      sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
        .otherwise(0L)).as("n_both"))
    est.crossJoin(exact)
      .select(lit(k).as("k"), col("n_a"), col("n_b"),
        (round(col("n_both").cast("double") / col("n_kmin") * lit(1e6))
          / lit(1e6)).as("est_jaccard"),
        (round(col("n_inter").cast("double") / col("n_union") * lit(1e6))
          / lit(1e6)).as("exact_jaccard"))
  }

  def sketchResemblance(spark: SparkSession, sfDir: String): DataFrame =
    sketchResemblanceFromSh(graft.Tables.documents(spark, sfDir),
      Dedup.shinglesFor(spark, sfDir), 16)

  def sketchRollup(spark: SparkSession, sfDir: String): DataFrame =
    sketchRollup(Tables.documents(spark, sfDir))

  /** q425: Count-Min sketch audit — the frequency sketch (Cormode &
    * Muthukrishnan 2005) beside the suite's HLL (distinct), KMV
    * (resemblance) and KLL-style quantile sketches: depth×width counters,
    * each token counted into one bucket per row via an independent md5
    * hash, point estimate = min over rows. The sketch NEVER undercounts
    * (every bucket holds the token's true count plus collisions), so the
    * audit pins the one-sided invariant `est ≥ exact` as an ok-flag per
    * token and reports the relative overcount on the exact top-`topK`
    * tokens — the table that sizes width/depth for a production stream.
    *
    * Scale: the sketch build is one grouped pass over (depth × distinct
    * tokens) rows — the counters table is depth·width rows no matter the
    * corpus, and the audit side is a broadcast of topK tokens.
    */
  def countMin(docs: DataFrame, depth: Int = 4, width: Int = 256,
               topK: Int = 50): DataFrame = {
    val tc = docs
      .select(explode(split(Dedup.normText(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("exact"))
    val buckets = tc.select(col("tok"), col("exact"),
        explode(array((0 until depth).map { dd =>
          struct(lit(dd).as("d"),
            md5(concat(lit(s"cm$dd:"), col("tok"))).as("h"))
        }: _*)).as("db"))
      .select(col("tok"), col("exact"), col("db.d").as("d"),
        (expr(hexValSql("db.h", 6)) % width).as("b"))
    val cm = buckets.groupBy(col("d"), col("b"))
      .agg(sum(col("exact")).as("cell"))
    val top = tc.orderBy(col("exact").desc, col("tok")).limit(topK)
    val est = buckets
      .join(broadcast(top.select(col("tok"))), "tok")
      .join(cm, Seq("d", "b"))
      .groupBy(col("tok")).agg(min(col("cell")).as("est"))
    val w = Window.orderBy(col("exact").desc, col("tok"))
    top.join(est, "tok")
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("tok"), col("exact"), col("est"),
        (col("est") >= col("exact")).as("no_undercount"),
        (round((col("est") - col("exact")).cast("double")
          / col("exact").cast("double") * 1000000) / 1000000.0)
          .as("rel_overcount"))
  }

  def countMin(spark: SparkSession, sfDir: String): DataFrame =
    countMin(Tables.documents(spark, sfDir))
}

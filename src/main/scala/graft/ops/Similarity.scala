package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.DecimalDot

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two plans over the same (vec_id, embedding: Array[Float], label) table:
  *   - brute-force cosine top-k: the correctness baseline — probes broadcast
  *     against the full vector table, one pass, window top-k per probe;
  *   - IVF: centroids (one per cluster label) are a tiny broadcast table;
  *     each probe picks its nprobe nearest centroids and only scans those
  *     clusters — the scan-side join is an equi-join on label, so at scale
  *     the vector table can be partitioned/bucketed by label and the search
  *     touches nprobe/nlist of the data instead of all of it.
  *
  * All dot products / norms accumulate in DECIMAL(18,16) (exact, order-free)
  * and only become doubles for the final divide, so scores are deterministic
  * and identical to the DuckDB oracle's decimal sums.
  */
object Similarity {

  /** Hash-spread an exploded dim table across the session's full shuffle
    * width BEFORE pinning it. The test corpora are single-row-group
    * parquet files, so the scan — and every broadcast-joined map stage
    * downstream — is otherwise ONE task (guide §2.5: an unsplittable
    * input repartitions right after the read). The count is pinned
    * EXPLICITLY (conf-driven, so it scales with the session): AQE's
    * coalescer sizes partitions from the kB-scale shuffle-write estimate
    * and cannot see the decimal-heavy training maps behind it, so a bare
    * repartition(col) collapses straight back to one task.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col("vec_id"))

  /** embedding floats → doubles once, up front. */
  private[ops] def asDoubles(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(x AS double))").as("v"))

  /** Exact-decimal ‖x‖ via the native decimal_dot expression. */
  private def normCol(arr: String): Column = sqrt(DecimalDot(col(arr), col(arr)))

  /** Exact-decimal dot via the native codegen'd expression (see
    * [[graft.functions.DecimalDot]]) — same value as the decimal-aggregate
    * lambda, ~5× the throughput.
    */
  private def dotExpr(a: String, b: String): Column = DecimalDot(col(a), col(b))

  /** q25: brute-force cosine top-k per probe. The probe set is tiny and
    * broadcast; the big side streams through once. Row order inside each
    * probe group is fixed by (cosine desc, vec_id) so top-k is deterministic.
    */
  def cosineTopK(emb: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    // zero-norm vectors (failed encodes, padding rows) carry no direction:
    // cosine is undefined for them, so they are excluded from BOTH sides
    // rather than crashing the norm divide (round-10 fuzz finding)
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
      .where(col("nrm") > 0)
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val cand = all
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .crossJoin(broadcast(probes))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  def cosineTopK(spark: SparkSession, sfDir: String): DataFrame =
    cosineTopKFor(spark, sfDir)

  /** One exact brute-force top-k table per (session, sfDir) at the
    * default probe geometry — q25's declared output, re-read as ground
    * truth by the q43 and q391 recall audits.
    */
  private def cosineTopKFor(spark: SparkSession, sfDir: String): DataFrame =
    SharedState.getOrBuild(spark, sfDir, "cosineTopK:10:5") {
      Materialize.state(cosineTopK(Tables.embeddings(spark, sfDir)))
    }

  /** Per-label mean vectors — the IVF "codebook", trained in-engine. Each
    * dimension's mean is an exact decimal sum / count, so centroids are
    * bit-identical regardless of partitioning.
    */
  def centroids(emb: DataFrame): DataFrame =
    asDoubles(emb)
      .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg((sum(expr("CAST(x AS DECIMAL(30,20))")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)").as("cv"))

  /** q26: IVF ANN — assign each probe to its nprobe nearest centroids
    * (broadcast nested loop over nlist rows, trivially cheap), then search
    * only vectors whose label is in that shortlist via an equi-join on
    * label. Returns the same schema as the brute-force baseline so recall
    * can be measured by diffing the two.
    */
  def ivfAnn(emb: DataFrame, nProbes: Int = 10, k: Int = 5, nprobe: Int = 2): DataFrame = {
    // zero-norm vectors excluded from both sides — same cosine contract
    // as cosineTopK (round-10 fuzz finding)
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
      .where(col("nrm") > 0)
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val cents = centroids(emb).withColumn("cn", normCol("cv"))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("label"))
    val shortlist = probes
      .crossJoin(broadcast(cents))
      .withColumn("ccos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pn"), col("label"))
    val cand = all.select(col("vec_id").as("neighbor_id"), col("label"),
      col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(broadcast(shortlist), Seq("label"))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  def ivfAnn(spark: SparkSession, sfDir: String): DataFrame =
    ivfAnnFor(spark, sfDir)

  /** One IVF search at the default geometry per (session, sfDir) —
    * q26's declared output, re-read as the approx side by q43's recall.
    */
  private def ivfAnnFor(spark: SparkSession, sfDir: String): DataFrame =
    SharedState.getOrBuild(spark, sfDir, "ivfAnn:10:5:2") {
      Materialize.state(ivfAnn(Tables.embeddings(spark, sfDir)))
    }

  /** q43: recall@k of the IVF index against the brute-force ground truth —
    * the quality metric that decides whether nprobe/nlist are tuned right.
    * Pure composition: both search paths are already lazy plans, so this is
    * a semi-join + per-probe count, and Catalyst shares nothing it
    * shouldn't (the two pipelines scan independently).
    */
  def annRecall(emb: DataFrame, nProbes: Int = 10, k: Int = 5, nprobe: Int = 2): DataFrame =
    annRecallFrom(cosineTopK(emb, nProbes, k), ivfAnn(emb, nProbes, k, nprobe))

  private def annRecallFrom(truth0: DataFrame, approx0: DataFrame): DataFrame = {
    val truth = truth0.select(col("probe_id"), col("neighbor_id"))
    val approx = approx0.select(col("probe_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true") * 10000) / 10000)
          .as("recall"))
  }

  def annRecall(spark: SparkSession, sfDir: String): DataFrame =
    annRecallFrom(cosineTopKFor(spark, sfDir), ivfAnnFor(spark, sfDir))

  /** Deterministic pseudo-random hyperplanes for [[srpLsh]]: one row per
    * plane, weights in [-0.5, 0.5) from the same md5→uniform idiom the
    * stratified sampler uses — so the DuckDB oracle reproduces the EXACT
    * hyperplanes and the test is a real end-to-end value check, not
    * rows-only.
    */
  private def srpPlanes(spark: SparkSession, nPlanes: Int, dim: Int): DataFrame =
    spark.range(nPlanes).select(col("id").cast("int").as("j"))
      .crossJoin(spark.range(dim).select(col("id").cast("int").as("d")))
      .withColumn("h", md5(concat(lit("srp:"), col("j").cast("string"),
        lit(":"), col("d").cast("string"))))
      .withColumn("w",
        expr("""CAST(
          (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576 +
          (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536 +
          (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096 +
          (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 256 +
          (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 +
          (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)""")
        / lit(16777216.0) - lit(0.5))
      .groupBy(col("j"))
      .agg(expr("transform(array_sort(collect_list(struct(d, w))), s -> s.w)").as("pw"))

  /** q74: SRP-LSH near-dup pairs over embeddings — sign-random-projection
    * (hyperplane) LSH, the sublinear scale path for cosine similarity that
    * q24's label-blocking can't provide when no cluster labels exist.
    * Charikar's SimHash for vectors: each of `nPlanes` hyperplanes
    * contributes one sign bit (P[bits agree] = 1 − θ/π); bits band into
    * `nBands` bucket keys; pairs colliding in ≥ `minBands` bands are
    * candidates; ONLY candidates get the exact-decimal cosine, and only
    * pairs ≥ `minCos` survive.
    *
    * Scale posture mirrors the text-side LSH (q22): the planes dimension is
    * tiny and broadcast, the signature pass is one linear scan, candidates
    * come from equi-joins on (band, sig) — never a cross product — and the
    * verify join touches candidates only. Two knobs keep the bucket join
    * from going quadratic: bits-per-band (nPlanes/nBands) must be sized
    * ~log2(n / target-bucket-size) so expected buckets stay O(1) as the
    * corpus grows, and `maxBucket` hard-caps the residual hot buckets
    * (near-identical mega-clusters) exactly like minhashLsh's cap — an
    * over-cap SRP bucket means that many vectors agree on every sign bit
    * of a band, a low-information key not worth m²/2 pair expansion.
    * Embedding dimension is a parameter (the testdata embeddings are 64-d).
    */
  /** The SRP signature stage alone: one (vec_id, band, sig) row per vector
    * per band — what [[VecIndex]] persists for incremental maintenance.
    */
  def srpSignatures(emb: DataFrame, dim: Int = 64, nPlanes: Int = 32,
                    nBands: Int = 4): DataFrame = {
    val rowsPerBand = nPlanes / nBands
    val planes = srpPlanes(emb.sparkSession, nPlanes, dim)
    asDoubles(emb).select(col("vec_id"), col("v"))
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("j"), (dotExpr("v", "pw") > 0).as("bit"))
      .groupBy(col("vec_id"),
        floor(col("j") / rowsPerBand).cast("int").as("band"))
      .agg(sum(when(col("bit"),
        pow(lit(2), col("j") % rowsPerBand).cast("bigint")).otherwise(0L)).as("sig"))
  }

  /** Candidate pairs from capped SRP band buckets — q74 before the exact
    * cosine verify.
    */
  def srpCandidates(emb: DataFrame, dim: Int = 64, nPlanes: Int = 32,
                    nBands: Int = 4, minBands: Int = 1,
                    maxBucket: Int = 1024): DataFrame = {
    val sigs = srpSignatures(emb, dim, nPlanes, nBands)
      // bucket-size count rides the same (band, sig) shuffle the pair join
      // needs — computed once, reused by both sides of the self-join
      .withColumn("bc", count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
      .where(col("bc") <= maxBucket)
    val a = sigs.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .where(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .where(col("n_shared_bands") >= minBands)
  }

  def srpLsh(emb: DataFrame, dim: Int = 64, nPlanes: Int = 32, nBands: Int = 4,
             minBands: Int = 1, minCos: Double = 0.4,
             maxBucket: Int = 1024): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    srpCandidates(emb, dim, nPlanes, nBands, minBands, maxBucket)
      .join(all.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(all.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos", dotExpr("va", "vb") / (col("na") * col("nb")))
      .where(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("n_shared_bands"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Corpus-size-driven SRP geometry: the smallest bits-per-band b in
    * [8, 24] with targetOccupancy·2^b ≥ n, as a ONE-ROW DataFrame joined
    * into the plan as a broadcast scalar — never collected to the driver.
    *
    * Why: fixed 8-bit bands mean 256 buckets per band forever, so expected
    * occupancy n/256 grows linearly with the corpus and the bucket
    * self-join grows QUADRATICALLY until the maxBucket cap truncates it
    * (BASELINE_sf1.md finding 4: q76 at 8.1× wall for 10× rows). Solving
    * 2^b ≥ n/target instead holds expected occupancy at the target, so
    * pair work stays ~n·target — linear. The price is per-band recall at
    * the low-cosine tail (P[band collision] = p^b); near-dup use is
    * cos ≥ 0.9 where p ≈ 0.86, and raising nBands is the compensating
    * knob left to callers who need tail recall.
    *
    * The bound is computed with INTEGER shifts, not ceil(log2(n/t)):
    * the DuckDB oracle re-derives the same b, and a last-ulp libm
    * divergence at an exact power of two would flip the whole geometry.
    * At the oracle test SFs (n ≤ 2k) this resolves to b = 8 — exactly the
    * historical pinned 32-plane/4-band geometry, so small-SF results are
    * unchanged by construction.
    */
  def srpAutoBits(emb: DataFrame, targetOccupancy: Int = 8): DataFrame =
    emb.agg(count(lit(1)).as("n"))
      .select(explode(sequence(lit(8), lit(24))).as("b"), col("n"))
      .where(expr(s"shiftleft(CAST($targetOccupancy AS BIGINT), b)") >= col("n"))
      .agg(coalesce(min(col("b")), lit(24)).as("bits"))

  /** [[srpSignatures]] with the bits-per-band derived from corpus size
    * ([[srpAutoBits]]) instead of pinned — the geometry rides the plan as
    * a broadcast scalar column, so no extra driver action. Plane j's
    * hyperplane is a pure function of j (md5-seeded), so at a corpus size
    * where the auto choice lands on 8 bits the signatures are bit-for-bit
    * the pinned default's.
    */
  def srpSignaturesAuto(emb: DataFrame, dim: Int = 64, nBands: Int = 4,
                        targetOccupancy: Int = 8): DataFrame = {
    val bits = srpAutoBits(emb, targetOccupancy)
    val planes = srpPlanes(emb.sparkSession, nBands * 24, dim)
      .crossJoin(broadcast(bits))
      .where(col("j") < lit(nBands) * col("bits"))
    asDoubles(emb).select(col("vec_id"), col("v"))
      .crossJoin(broadcast(planes))
      .select(col("vec_id"), col("j"), col("bits"),
        (dotExpr("v", "pw") > 0).as("bit"))
      .groupBy(col("vec_id"),
        floor(col("j") / col("bits")).cast("int").as("band"))
      .agg(sum(when(col("bit"),
        expr("shiftleft(CAST(1 AS BIGINT), j % bits)")).otherwise(0L)).as("sig"))
  }

  /** [[srpCandidates]] on the auto-scaled geometry. The bucket cap stays
    * 128·targetOccupancy (= the historical 1024 at the default target):
    * with occupancy held at the target by the bits formula, the cap's only
    * job is fencing genuine mega-clusters — scaling it with n would
    * re-admit the quadratic hot buckets the geometry just removed.
    */
  def srpCandidatesAuto(emb: DataFrame, dim: Int = 64, nBands: Int = 4,
                        minBands: Int = 1, targetOccupancy: Int = 8): DataFrame = {
    val sigs = srpSignaturesAuto(emb, dim, nBands, targetOccupancy)
      .withColumn("bc", count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
      .where(col("bc") <= 128 * targetOccupancy)
    val a = sigs.select(col("vec_id").as("vec_a"), col("band"), col("sig"))
    val b = sigs.select(col("vec_id").as("vec_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig"))
      .where(col("vec_a") < col("vec_b"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .where(col("n_shared_bands") >= minBands)
  }

  /** [[srpLsh]] with corpus-size-driven geometry — what q74/q76 run, so
    * the operator a user ships at 100 TB is the oracle-gated one.
    */
  def srpLshAuto(emb: DataFrame, dim: Int = 64, nBands: Int = 4,
                 minBands: Int = 1, minCos: Double = 0.4,
                 targetOccupancy: Int = 8): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    srpCandidatesAuto(emb, dim, nBands, minBands, targetOccupancy)
      .join(all.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(all.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      // zero-norm guard: 0/0 is NaN in Spark and NaN >= anything is TRUE
      // (Spark ranks NaN above all doubles) while the DuckDB oracle's
      // double/0 is NULL and filtered by the >= minCos predicate — drop
      // degenerate pairs explicitly so both engines keep the same set
      .where(col("na") > 0 && col("nb") > 0)
      .withColumn("cos", dotExpr("va", "vb") / (col("na") * col("nb")))
      .where(col("cos") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("n_shared_bands"),
        round(col("cos"), 6).as("cosine"))
  }

  def srpLsh(spark: SparkSession, sfDir: String): DataFrame =
    srpPairsFor(spark, sfDir)

  /** One default-geometry SRP-LSH pair table per (session, sfDir) —
    * q74's declared output, re-read as the candidate edge set by q76
    * (semantic prune) and q432 (kNN label agreement); the signature build
    * + band self-join + cosine verify runs once per pass (guide §2.4).
    */
  private def srpPairsFor(spark: SparkSession, sfDir: String): DataFrame =
    SharedState.getOrBuild(spark, sfDir, "srpLsh:64:4:1:0.4:8") {
      Materialize.state(srpLshAuto(Tables.embeddings(spark, sfDir)))
    }

  /** q76: semantic prune — SemDeDup-shaped keep-one-per-semantic-cluster
    * over embeddings. The q74 SRP-LSH pairs become edges, connected
    * components collapse them into semantic clusters, and each cluster
    * keeps exactly its min-id representative; vectors in no pair are
    * singletons and always kept. Output is the per-vector prune verdict a
    * downstream corpus filter joins against.
    *
    * Scale posture is inherited: candidate pairs are LSH-bucketed (never a
    * cross product), the CC is the same min-label propagation q52 uses
    * (near-clique clusters → a handful of rounds, one scalar driver read
    * per round), and the final assembly is two joins keyed by vec_id.
    */
  def semanticPrune(emb: DataFrame, dim: Int = 64, minCos: Double = 0.4): DataFrame =
    semanticPruneFrom(emb, srpLshAuto(emb, dim = dim, minCos = minCos))

  private def semanticPruneFrom(emb: DataFrame,
                                srpPairs: DataFrame): DataFrame = {
    val pairs = srpPairs.select(col("vec_a"), col("vec_b"))
    val cc = Graph.componentsAuto(pairs)
      .withColumnRenamed("id", "vec_id")
    val sizes = cc.groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
    emb.select(col("vec_id"))
      .join(cc, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("vec_id")))
      .join(sizes.withColumnRenamed("comp", "cluster_id"), Seq("cluster_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        (col("vec_id") === col("cluster_id")).as("is_kept"))
  }

  def semanticPrune(spark: SparkSession, sfDir: String): DataFrame =
    semanticPruneFrom(Tables.embeddings(spark, sfDir),
      srpPairsFor(spark, sfDir))

  /** q85: embedding-space health census — per dimension: mean, variance,
    * and share of total energy (Σx²). The drift/anisotropy dashboard for a
    * vector corpus: a dimension hoarding energy means the index's distance
    * geometry is collapsing; a mean far from 0 after a model that
    * normalizes means an ingestion bug. One explode + one groupBy into
    * `dim` rows; all moments are exact decimal sums (order-free), the
    * energy denominator is a window over the already-tiny per-dim table.
    */
  def embeddingStats(emb: DataFrame): DataFrame = {
    val x = emb
      .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"), col("xf").cast("double").as("x"))
    x.groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(18,12)")).as("s"),
        sum((col("x") * col("x")).cast("decimal(18,16)")).as("sq"))
      .withColumn("total_sq", sum(col("sq")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(
        col("dim"), col("n"),
        (round(col("s").cast("double") / col("n") * 1000000) / 1000000).as("mean"),
        (round((col("sq").cast("double")
            - col("s").cast("double") * col("s").cast("double") / col("n")) / col("n")
          * 1000000) / 1000000).as("variance"),
        (round(col("sq").cast("double") / col("total_sq").cast("double") * 1000000) / 1000000)
          .as("energy_share"))
  }

  def embeddingStats(spark: SparkSession, sfDir: String): DataFrame =
    embeddingStats(Tables.embeddings(spark, sfDir))

  /** q56: IVF partition-quality metrics — per cluster label: vector count,
    * mean and max squared L2 distance to the label centroid. This is the
    * index-health dashboard for the q26 IVF search: a label whose max
    * distance dwarfs its mean is a candidate for splitting, and the spread
    * across labels shows partition balance.
    *
    * Centroids are computed IN the engine (per-dim exact-decimal mean via
    * posexplode + groupBy on (label, dim) — the shuffle key spreads every
    * label across reducers, so a hot label can't concentrate), re-packed to
    * an array, and broadcast back (one row per label). Distances use the
    * native decimal_dot, expanded as ‖v−c‖² = v·v − 2·v·c + c·c so the
    * centroid join stays a broadcast and no per-element difference array is
    * materialized. The d2 mean is an exact decimal sum (order-free, matches
    * DuckDB bit-for-bit).
    */
  def centroidQuality(emb: DataFrame): DataFrame = {
    val e = asDoubles(emb)
    val dims = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
    val cent = dims.groupBy(col("label"), col("i"))
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("c"))
    val carr = cent.groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(i, c))), s -> s.c)").as("cv"))
    val d2 = e.join(broadcast(carr), "label")
      .withColumn("dvv", dotExpr("v", "v"))
      .withColumn("dvc", dotExpr("v", "cv"))
      .withColumn("dcc", dotExpr("cv", "cv"))
      .withColumn("d2", col("dvv") - lit(2.0) * col("dvc") + col("dcc"))
    d2.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        (round(sum(col("d2").cast("decimal(28,12)")).cast("double") / count(lit(1)) * 10000) / 10000)
          .as("avg_sqdist"),
        (round(max(col("d2")) * 10000) / 10000).as("max_sqdist"))
  }

  def centroidQuality(spark: SparkSession, sfDir: String): DataFrame =
    centroidQuality(Tables.embeddings(spark, sfDir))

  /** q65: scalar-quantization recall — quantize every embedding to 8 bits
    * per dimension against the corpus per-dim envelope (the 4× memory
    * reduction that decides whether a 100 TB vector index fits in cluster
    * RAM), then measure recall@k of search-over-reconstructed-vectors
    * against the exact top-k. The envelope is 1 row per dimension,
    * collected to two broadcast arrays; quantize+reconstruct is one
    * zip_with projection (no shuffle); both search paths are the same
    * broadcast-probe scan as q25.
    */
  def quantizedRecall(emb: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val env = asDoubles(emb)
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val envArr = env.agg(
      expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").as("mns"),
      expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("mxs"))
    // int8 code = round((x-mn)/(mx-mn)*255); reconstruction maps the code
    // back into the envelope. Flat dims (mx = mn) reconstruct exactly.
    val rec = e.crossJoin(broadcast(envArr))
      .withColumn("rv", expr(
        """zip_with(v, zip_with(mns, mxs, (a, b) -> struct(a AS mn, b AS mx)),
          |  (x, en) -> CASE WHEN en.mx = en.mn THEN en.mn
          |    ELSE en.mn + round((x - en.mn)/(en.mx - en.mn)*255)/255*(en.mx - en.mn) END)"""
          .stripMargin))
      .select(col("vec_id"), col("rv").as("v"))

    def topk(vs: DataFrame): DataFrame = {
      val all = vs.withColumn("nrm", normCol("v"))
      val probes = all.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      val cand = all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      cand.crossJoin(broadcast(probes))
        .where(col("neighbor_id") =!= col("probe_id"))
        .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k)
        .select(col("probe_id"), col("neighbor_id"))
    }

    val truth = topk(e)
    val approx = topk(rec)
    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true") * 10000) / 10000)
          .as("recall"))
  }

  def quantizedRecall(spark: SparkSession, sfDir: String): DataFrame =
    quantizedRecall(Tables.embeddings(spark, sfDir))

  /** q377: product-quantization recall — the codebook rung between scalar
    * int8 (q65) and matryoshka truncation (q136) on the compression ladder.
    *
    * PQ splits each vector into `m` interleaved subspaces (dim j → subspace
    * j mod m), trains `kCodes` codewords per subspace with the same
    * fixed-round Lloyd as q259 (seeds = the first kCodes vectors'
    * sub-vectors, exact-decimal distances, 1e-12 centroid snaps, ties on
    * codeword id — the determinism contract that makes the unrolled-SQL
    * oracle replayable), encodes every vector as m small codes, and scores
    * probes by ADC (asymmetric distance computation): the probe's exact
    * sub-vectors dot the CANDIDATE'S CODEWORDS, so scoring a candidate
    * reads m codes + a (nProbes × m × kCodes) lookup table instead of the
    * raw floats. Output is recall@k of ADC-ranked cosine against the exact
    * ground truth, per probe — the audit that says whether this codebook
    * is usable.
    *
    * Scale: training shuffles are keyed by (subspace, codeword) — O(m·k)
    * groups, never data-sized state; the LUT is broadcast (tiny); the scan
    * side streams the code table once per probe batch. At 100 TB the code
    * table is 32× smaller than the raw vectors — that compression IS the
    * operator's point, and the plan never touches raw floats after
    * encoding.
    */
  /** The PQ trainer behind [[pqRecall]] / [[pqDistortion]]: interleaved
    * subspace split, per-subspace fixed-round Lloyd (q259's discipline),
    * final encoding. Returns (subspace dims, codebook (s, c, i, cd),
    * codes (vec_id, s, c, d2)) — d2 is the per-subspace quantization error
    * the distortion census aggregates.
    */
  private[ops] def pqState(emb: DataFrame, m: Int, kCodes: Int,
                           iters: Int): (DataFrame, DataFrame, DataFrame) = {
    val x = asDoubles(emb).select(col("vec_id"), col("v"))
    // the test corpora are single-row-group parquet files, so the scan —
    // and every broadcast-joined map stage downstream of it — is ONE task
    // unless the exploded dim table is spread first (guide §2.5: an
    // unsplittable input repartitions right after the read); partition
    // count follows spark.sql.shuffle.partitions, so it scales with the
    // session, not a local constant
    val dims = Materialize.state(
      x.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "xd")))
        .withColumn("s", pmod(col("i"), lit(m)))
        .transform(spread), onDisk = true)
    val (cent, codes) = pqTrain(dims, kCodes, iters)
    (dims, cent, codes)
  }

  /** One interleaved-split PQ training per (session, sfDir, params) —
    * q377 (recall), q382 (distortion) and q393's interleave arm all train
    * the IDENTICAL fixed-round Lloyd codebook on the identical dim split;
    * training it once per pass and serving all three from the same
    * checkpointed (dims, codebook, codes) removes two redundant 2-round
    * trainings (guide §2.4). Deterministic by the q259 contract
    * (exact-decimal distances, 1e-12 snaps, id ties), so shared vs fresh
    * state is value-identical.
    */
  private def pqStateShared(spark: SparkSession, sfDir: String, m: Int,
                            kCodes: Int, iters: Int)
      : (DataFrame, DataFrame, DataFrame) =
    SharedState.getOrBuild(spark, sfDir, s"pqState:$m:$kCodes:$iters") {
      pqState(Tables.embeddings(spark, sfDir), m, kCodes, iters)
    }

  /** The subspace-agnostic Lloyd trainer: takes any (vec_id, s, i, xd) dim
    * table — raw interleaved sub-vectors for [[pqState]], residuals against
    * the coarse IVF centroids for [[ivfPqRecall]] — and returns (codebook
    * (s, c, i, cd), codes (vec_id, s, c, d2)) under the q259 determinism
    * contract (exact-decimal distances, 1e-12 centroid snaps, seed = first
    * kCodes vec_ids, ties on codeword id).
    */
  private[ops] def pqTrain(dims: DataFrame, kCodes: Int,
                           iters: Int): (DataFrame, DataFrame) = {
    // Array-native Lloyd (guide §1.2 step 1, §2.4): ONE exchange rebuilds
    // the per-(vector, subspace) sub-vectors as i-aligned arrays; each
    // round's ASSIGNMENT is then a map-only fold over the broadcast
    // codebook (decimal_dot per codeword, argmin via struct sort) instead
    // of the former join→groupBy→window chain, and the only per-round
    // shuffle left is the update's (s, c, i) decimal means. Arithmetic is
    // term-identical to the exploded form: per-term decimal products
    // summed exactly (DecimalDot ≡ sum(CAST(x*y AS DECIMAL(28,16)))
    // for in-range values, with an exact big-integer fallback), the same
    // decimal(28,12) update means, the same ((vv − 2·dot) + cc) double
    // evaluation order, ties on codeword id — oracle-gated bit parity.
    val sub = Materialize.state(
      dims.groupBy(col("vec_id"), col("s"))
        .agg(expr("array_sort(collect_list(struct(i, xd)))").as("ixd"))
        .select(col("vec_id"), col("s"),
          expr("transform(ixd, p -> p.i)").as("idxs"),
          expr("transform(ixd, p -> p.xd)").as("xs"))
        .withColumn("vv", DecimalDot(col("xs"), col("xs"))), onDisk = true)

    // (s, cws: [(c, cds, cc)…]) — the whole codebook as one broadcast row
    // per subspace, codewords sorted by id so the argmin tie-break is the
    // struct sort's
    def cbookOf(cent: DataFrame): DataFrame =
      cent.groupBy(col("s"), col("c"))
        .agg(expr("transform(array_sort(collect_list(struct(i, cd))), p -> p.cd)")
          .as("cds"))
        .withColumn("cc", DecimalDot(col("cds"), col("cds")))
        .groupBy(col("s"))
        .agg(expr("array_sort(collect_list(struct(c, cds, cc)))").as("cws"))

    // map-only: per (vector, subspace) the best (d2, c) over the broadcast
    // codewords — d2 ordering first, codeword id tie-break, exactly the
    // former ROW_NUMBER() OVER (ORDER BY d2, c) discipline
    def assign(cbook: DataFrame): DataFrame =
      sub.join(broadcast(cbook), "s")
        .withColumn("best", expr(
          "array_sort(transform(cws, w -> struct((vv - 2.0D * decimal_dot(xs, w.cds)) + w.cc AS d2, w.c AS c)))[0]"))

    val seedIds = dims.select(col("vec_id")).distinct()
      .orderBy(col("vec_id")).limit(kCodes)
    val seeds = dims.join(broadcast(seedIds), "vec_id")
      .select(col("s"), col("vec_id").as("c"), col("i"), col("xd").as("cd"))
    val cent = Rounds.fixed(iters, seeds) { (cent, _) =>
      assign(cbookOf(cent))
        .select(col("s"), col("best.c").as("c"),
          posexplode(arrays_zip(col("idxs"), col("xs"))).as(Seq("p", "z")))
        .select(col("s"), col("c"), col("z.idxs").as("i"), col("z.xs").as("xd"))
        .groupBy(col("s"), col("c"), col("i"))
        .agg((round((sum(col("xd").cast("decimal(28,12)")).cast("double")
          / count(lit(1))) * lit(1e12)) / lit(1e12)).as("cd"))
    }
    (cent, Materialize.state(assign(cbookOf(cent))
      .select(col("vec_id"), col("s"), col("best.c").as("c"),
        col("best.d2").as("d2")), onDisk = true))
  }

  def pqRecall(emb: DataFrame, m: Int = 4, kCodes: Int = 8, iters: Int = 2,
               nProbes: Int = 10, k: Int = 5): DataFrame =
    pqRecallFrom(emb, pqState(emb, m, kCodes, iters), nProbes, k)

  private def pqRecallFrom(emb: DataFrame,
                           st: (DataFrame, DataFrame, DataFrame),
                           nProbes: Int, k: Int): DataFrame = {
    val x = asDoubles(emb).select(col("vec_id"), col("v"))
    val (dims, cent, codes) = st
    val ccF = cent.groupBy(col("s"), col("c"))
      .agg(sum((col("cd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("cc"))
    // reconstructed-vector norm: subspaces are orthogonal coordinate blocks,
    // so ‖recon‖² = Σ_s ‖codeword(s, code)‖²
    val rnrm = codes.join(broadcast(ccF), Seq("s", "c"))
      .groupBy(col("vec_id"))
      .agg(sqrt(sum(col("cc").cast("decimal(28,16)")).cast("double")).as("rnrm"))

    val lut = dims.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("s"), col("i"), col("xd").as("pd"))
      .join(cent, Seq("s", "i"))
      .groupBy(col("probe_id"), col("s"), col("c"))
      .agg(sum((col("pd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("part"))
    val pn = x.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), normCol("v").as("pn"))

    // ADC: one broadcast-LUT equi-join over the code table → m rows per
    // (probe, candidate), summed. Linear in candidates, no raw floats.
    val adc = codes.join(broadcast(lut), Seq("s", "c"))
      .where(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("part").cast("decimal(28,16)")).cast("double").as("adot"))
    val wA = Window.partitionBy(col("probe_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val approx = adc.join(rnrm, "vec_id").join(broadcast(pn), "probe_id")
      .withColumn("acos", round(col("adot") / (col("pn") * col("rnrm")) * lit(1e12)) / lit(1e12))
      .withColumn("rnk", row_number().over(wA))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))

    // exact ground truth — same plan shape as q25/q65
    val all = x.withColumn("nrm", normCol("v"))
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val wT = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val truth = all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
      .crossJoin(broadcast(probes))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pnrm") * col("cn")))
      .withColumn("rnk", row_number().over(wT))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"))

    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true") * 10000) / 10000)
          .as("recall"))
  }

  def pqRecall(spark: SparkSession, sfDir: String): DataFrame =
    pqRecallFrom(Tables.embeddings(spark, sfDir),
      pqStateShared(spark, sfDir, 4, 8, 2), nProbes = 10, k = 5)

  /** q382: PQ distortion census — per (subspace, codeword): member count and
    * mean squared quantization error, plus each codeword's share of its
    * subspace's total distortion. q377 says whether the codebook RANKS
    * well; this says WHERE it hurts: a codeword with out-sized MSE is a
    * region the codebook under-covers (split it), an empty-ish codeword is
    * wasted bits (merge it) — the per-cell view behind the single recall
    * number, same role q91's balance census plays for the IVF layout.
    * Execution: the trainer's final assignment already carries per-subspace
    * d²; this is ONE bounded aggregate over it (m·k output rows), d² terms
    * snapped like q259's WSS.
    */
  def pqDistortion(emb: DataFrame, m: Int = 4, kCodes: Int = 8,
                   iters: Int = 2): DataFrame =
    pqDistortionFrom(pqState(emb, m, kCodes, iters))

  private def pqDistortionFrom(st: (DataFrame, DataFrame, DataFrame))
      : DataFrame = {
    val (_, _, codes) = st
    val per = codes.groupBy(col("s"), col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((round(col("d2") * lit(1e12)) / lit(1e12))
          .cast("decimal(28,12)")).cast("double").as("sse"))
    val tot = per.groupBy(col("s"))
      .agg(sum(col("sse").cast("decimal(28,12)")).cast("double").as("sub_sse"))
    per.join(broadcast(tot), "s")
      .select(col("s").as("subspace"), col("c").as("codeword"), col("n_vecs"),
        (round(col("sse") / col("n_vecs") * lit(1e6)) / lit(1e6)).as("mse"),
        when(col("sub_sse") === 0, lit(0.0))
          .otherwise(round(col("sse") / col("sub_sse") * lit(1e6)) / lit(1e6))
          .as("sse_share"))
  }

  def pqDistortion(spark: SparkSession, sfDir: String): DataFrame =
    pqDistortionFrom(pqStateShared(spark, sfDir, 4, 8, 2))

  /** Shared recall@k tail: per-probe |approx ∩ truth| / |truth| with an
    * outer join so probes with zero hits still report 0.0.
    */
  private def recallOf(truth: DataFrame, approx: DataFrame): DataFrame = {
    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_true") * 10000) / 10000)
          .as("recall"))
  }

  /** q391: IVF-PQ recall — the combined coarse-partition + residual-codebook
    * layout (the FAISS IVFPQ design) that a 100 TB vector corpus actually
    * ships: the IVF cell (label) prunes the SCAN to nprobe/nlist of the
    * data, and PQ codes over the CELL RESIDUALS compress what is scanned
    * ~32×, so a probe reads only code bytes inside only the probed cells.
    * q26 audits the pruning alone and q377 the compression alone; this
    * audits both stacked, against the exact ground truth.
    *
    * Decomposition: approx_dot(p, v) = ⟨p, c_cell(v)⟩ + Σ_s LUT_p[s,
    * code_s(v)] where LUT_p[s, c] = ⟨p_s, codeword⟩ — the probe-side LUT is
    * independent of the cell, so it is built ONCE per probe (m·kCodes
    * doubles, broadcast) and per-candidate work is m code lookups.
    * Reconstructed norm: ‖c + r̂‖² = ‖c‖² + Σ_s (2·⟨c_s, cw⟩ + ‖cw‖²) — all
    * cell/codeword-level scalars, precomputed once and broadcast.
    *
    * Scale: residual training shuffles key on (subspace, codeword) — O(m·k)
    * groups, never data-sized state; the search side is an equi-join of the
    * code table against the broadcast (probe, cell) shortlist, so with the
    * code table bucketed by cell the scan never touches unprobed cells or
    * raw floats. Beyond-reference training-data-pipeline operator (the
    * reference SDK has no vector search); public IVFADC design per
    * Jégou et al., "Product Quantization for Nearest Neighbor Search".
    */
  def ivfPqRecall(emb: DataFrame, m: Int = 4, kCodes: Int = 8, iters: Int = 2,
                  nProbes: Int = 10, k: Int = 5, nprobe: Int = 2,
                  truthIn: Option[DataFrame] = None): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    val centDims = centroids(emb)
      .select(col("label"), posexplode(col("cv")).as(Seq("i", "ccd")))
      .transform(Materialize.state(_))
    val dims = all.select(col("vec_id"), col("label"),
      posexplode(col("v")).as(Seq("i", "xd")))
    val rdims = Materialize.state(dims.join(centDims, Seq("label", "i"))
      .select(col("vec_id"), pmod(col("i"), lit(m)).as("s"), col("i"),
        (col("xd") - col("ccd")).as("xd"))
      // spread the unsplittable-scan explode before training (see pqState)
      .transform(spread), onDisk = true)
    val (cent, codes) = pqTrain(rdims, kCodes, iters)

    // probe → nprobe nearest cells by raw-vector cosine (q26's shortlist),
    // keeping ⟨p, c_cell⟩ — the cell-level half of the ADC score.
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val cents = centroids(emb).withColumn("cn", normCol("cv"))
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("label"))
    val shortlist = probes.crossJoin(broadcast(cents))
      .withColumn("pcdot", dotExpr("pv", "cv"))
      .withColumn("ccos", col("pcdot") / (col("pn") * col("cn")))
      .withColumn("crk", row_number().over(wc))
      .where(col("crk") <= nprobe)
      .select(col("probe_id"), col("pn"), col("label"), col("pcdot"))

    // probe-side residual-codebook LUT — cell-independent, m·kCodes rows
    val lut = dims.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("i"), col("xd").as("pd"))
      .join(cent, Seq("i"))
      .groupBy(col("probe_id"), col("s"), col("c"))
      .agg(sum((col("pd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("part"))

    // reconstructed-norm scalars: ‖c‖² per cell, ⟨c_s, cw⟩ and ‖cw‖² per
    // (cell, subspace, codeword) — tiny broadcast tables.
    val cn2 = centDims.groupBy(col("label"))
      .agg(sum((col("ccd") * col("ccd")).cast("decimal(28,16)"))
        .cast("double").as("cn2"))
    val ccw = centDims.join(cent, Seq("i"))
      .groupBy(col("label"), col("s"), col("c"))
      .agg(sum((col("ccd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("ccw"))
    val ccF = cent.groupBy(col("s"), col("c"))
      .agg(sum((col("cd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("cc"))
    val vecLabel = all.select(col("vec_id"), col("label"))
    val rnrm = codes.join(vecLabel, "vec_id")
      .join(broadcast(ccw), Seq("label", "s", "c"))
      .join(broadcast(ccF), Seq("s", "c"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((round((lit(2.0) * col("ccw") + col("cc")) * lit(1e12)) / lit(1e12))
        .cast("decimal(28,12)")).cast("double").as("rsum"))
      .join(broadcast(cn2), "label")
      .select(col("vec_id"), sqrt(col("cn2") + col("rsum")).as("rnrm"))

    // ADC restricted to probed cells: the equi-join on cell IS the IVF
    // pruning — unprobed cells never leave the scan.
    val wA = Window.partitionBy(col("probe_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val approx = codes.join(vecLabel, "vec_id")
      .join(broadcast(shortlist), Seq("label"))
      .where(col("vec_id") =!= col("probe_id"))
      .join(broadcast(lut), Seq("probe_id", "s", "c"))
      .groupBy(col("probe_id"), col("vec_id"), col("pn"), col("pcdot"))
      .agg(sum(col("part").cast("decimal(28,16)")).cast("double").as("radot"))
      .join(rnrm, "vec_id")
      .withColumn("acos",
        round((col("radot") + col("pcdot")) / (col("pn") * col("rnrm")) * lit(1e12)) / lit(1e12))
      .withColumn("rnk", row_number().over(wA))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"))

    val truth = truthIn.getOrElse(cosineTopK(emb, nProbes, k))
      .select(col("probe_id"), col("neighbor_id"))
    recallOf(truth, approx)
  }

  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame =
    ivfPqRecall(Tables.embeddings(spark, sfDir),
      truthIn = Some(cosineTopKFor(spark, sfDir)))

  /** q392: greedy k-center coreset (Gonzalez farthest-point traversal) —
    * the diversity-sampling backbone of data-pruning / active-learning
    * curation: pick the vector farthest from everything selected so far,
    * t times, and report how coverage (max / mean squared distance to the
    * nearest center) tightens per pick. q165's MMR is query-RELATIVE
    * diversity; this is the corpus-LEVEL coreset that bounds every
    * vector's distance to its representative.
    *
    * Execution is the textbook incremental form: keep one (vec_id,
    * min-dist²) column, and each round scans it ONCE against the single
    * newest center (broadcast 1-row) — O(t·n·d) total, never t centers ×
    * n re-scans, no driver-side collect (the argmax is a 1-row DataFrame
    * crossed back in). At 100 TB: t bounded scans of a table that never
    * shuffles (min-dist is keyed by vec_id throughout), each round's
    * center a broadcast scalar — the same shape a trillion-row corpus
    * wants. Determinism: d² = ‖v‖² − 2⟨v,c⟩ + ‖c‖² from exact-decimal
    * sums; ties on vec_id; per-term 1e-10 snap keeps the coverage mean
    * partition-order-free.
    */
  def kcenterCoreset(emb: DataFrame, t: Int = 6): DataFrame = {
    // Array-native Gonzalez traversal (the [[pqTrain]] restructure applied
    // to farthest-point selection): the min-dist² state row CARRIES its
    // vector, so each round is one map over the state against the single
    // broadcast newest center (decimal_dot) — no explode, no join-groupBy
    // chain. Same decimal-dot d², same ((vv − 2·dot) + cvv) evaluation
    // order, same vec_id tie-breaks — bit-identical rounds (oracle-gated).
    val base = asDoubles(emb)
      .select(col("vec_id"), col("v"))
      .transform(spread)
      .withColumn("vv", DecimalDot(col("v"), col("v")))

    // map-only: d² of every state row to the 1-row broadcast center
    def withD2(md: DataFrame, center: DataFrame): DataFrame =
      md.crossJoin(broadcast(center.select(col("cv"), col("cvv"))))
        .withColumn("nd2",
          col("vv") - lit(2.0) * DecimalDot(col("v"), col("cv")) + col("cvv"))

    def covOf(md: DataFrame): DataFrame = md.agg(
      max(col("d2")).as("cmax"),
      (sum((round(col("d2") * lit(1e10)) / lit(1e10)).cast("decimal(38,10)"))
        .cast("double") / count(lit(1))).as("cmean"))

    val c0 = base.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("vv").as("cvv"))
      .transform(Materialize.state(_))
    var md = withD2(base, c0)
      .select(col("vec_id"), col("v"), col("vv"), col("nd2").as("d2"))
      .transform(Materialize.state(_))
    var out = c0.select(col("cid")).withColumn("k", lit(0))
      .withColumn("radius", lit(null).cast("double"))
      .crossJoin(covOf(md))
    for (r <- 1 until t) {
      val sel = md.orderBy(col("d2").desc, col("vec_id")).limit(1)
        .select(col("vec_id").as("cid"), col("d2").as("radius"),
          col("v").as("cv"), col("vv").as("cvv"))
        .transform(Materialize.state(_))
      md = withD2(md, sel)
        .select(col("vec_id"), col("v"), col("vv"),
          least(col("d2"), col("nd2")).as("d2"))
        .transform(Materialize.state(_))
      out = out.unionByName(
        sel.select(col("cid"), col("radius")).withColumn("k", lit(r))
          .crossJoin(covOf(md)))
    }
    out.select(col("k"), col("cid").as("center_id"),
      (round(col("radius") * lit(1e6)) / lit(1e6) + lit(0.0)).as("radius"),
      (round(col("cmax") * lit(1e6)) / lit(1e6) + lit(0.0)).as("cov_max"),
      (round(col("cmean") * lit(1e6)) / lit(1e6) + lit(0.0)).as("cov_mean"))
  }

  def kcenterCoreset(spark: SparkSession, sfDir: String): DataFrame =
    kcenterCoreset(Tables.embeddings(spark, sfDir))

  /** q393: variance-balanced PQ allocation vs the naive interleave — the
    * cheap, public slice of OPQ (Ge et al.): instead of learning a rotation,
    * PERMUTE dimensions so each subspace carries a comparable share of the
    * corpus variance. Allocation is a snake draft over dims ranked by
    * per-dim variance (desc, ties on dim index): position p → cycle
    * p mod 2m, subspace = cycle < m ? cycle : 2m−1−cycle — pure modular
    * arithmetic, so the DuckDB oracle re-derives the identical permutation
    * with a window function and no sequential loop. Both allocations train
    * the same fixed-round Lloyd codebook ([[pqTrain]]); output is the
    * per-(allocation, subspace) dim count, allocated variance, and trained
    * SSE — the evidence for whether the permutation actually buys
    * distortion at this corpus.
    *
    * Variance is two-pass (decimal-mean, then exact-decimal sum of centered
    * squares) — never the Σx²/n − μ² cancellation that q180 showed drifts
    * across engines. Scale: the stats are per-dim aggregates (d rows), the
    * draft is a d-row window, training is the q377 shuffle shape keyed by
    * (subspace, codeword) — nothing here grows with corpus size except the
    * two bounded scans.
    */
  def balancedPq(emb: DataFrame, m: Int = 4, kCodes: Int = 8,
                 iters: Int = 2): DataFrame = {
    // spread the unsplittable-scan explode before training (see pqState)
    val dims0 = Materialize.state(asDoubles(emb)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i", "xd")))
      .transform(spread), onDisk = true)
    val idims = dims0.withColumn("s", pmod(col("i"), lit(m)))
      .select(col("vec_id"), col("s"), col("i"), col("xd"))
    val (_, icodes) = pqTrain(idims, kCodes, iters)
    balancedPqFrom(dims0, icodes, m, kCodes, iters)
  }

  /** [[balancedPq]] over an already-exploded dim table and an
    * already-trained interleave-arm code table — the sfDir entry point
    * feeds both from the session's shared q377 PQ state (the interleave
    * training IS pqState's, bit-for-bit by the determinism contract), so
    * only the balanced arm trains here.
    */
  private def balancedPqFrom(dimsIn: DataFrame, icodes: DataFrame, m: Int,
                             kCodes: Int, iters: Int): DataFrame = {
    val dims0 = dimsIn.select(col("vec_id"), col("i"), col("xd"))
    val mu = dims0.groupBy(col("i"))
      .agg((sum(col("xd").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("mu"))
    val dvar = dims0.join(broadcast(mu), "i")
      .select(col("i"), (col("xd") - col("mu")).as("cd0"))
      .groupBy(col("i"))
      .agg((sum((col("cd0") * col("cd0")).cast("decimal(28,16)"))
        .cast("double") / count(lit(1))).as("dvar"))
      .transform(Materialize.state(_))
    val wv = Window.orderBy(col("dvar").desc, col("i"))
    val alloc = dvar
      .withColumn("cyc", pmod(row_number().over(wv) - 1, lit(2 * m)))
      .withColumn("s", when(col("cyc") < m, col("cyc"))
        .otherwise(lit(2 * m - 1) - col("cyc")))
      .select(col("i"), col("s"), col("dvar"))
      .transform(Materialize.state(_))
    val ivar = dvar.withColumn("s", pmod(col("i"), lit(m)))

    // cheap single-join / pure-projection views of the disk-checkpointed
    // dims0 — re-deriving them per consumer costs one disk read of dims0,
    // pinning them would triple the corpus-sized checkpoint footprint
    val bdims = dims0.join(broadcast(alloc.select(col("i"), col("s"))), "i")
      .select(col("vec_id"), col("s"), col("i"), col("xd"))
    val (_, bcodes) = pqTrain(bdims, kCodes, iters)

    def sseOf(codes: DataFrame): DataFrame = codes.groupBy(col("s"))
      .agg(sum((round(col("d2") * lit(1e12)) / lit(1e12))
        .cast("decimal(28,12)")).cast("double").as("sse"))
    def varSum(a: DataFrame): DataFrame = a.groupBy(col("s"))
      .agg(count(lit(1)).as("n_dims"),
        sum((round(col("dvar") * lit(1e12)) / lit(1e12))
          .cast("decimal(28,12)")).cast("double").as("var_sum"))

    varSum(alloc).join(sseOf(bcodes), "s").withColumn("alloc", lit("balanced"))
      .unionByName(
        varSum(ivar).join(sseOf(icodes), "s")
          .withColumn("alloc", lit("interleave")))
      .select(col("alloc"), col("s").as("subspace"), col("n_dims"),
        (round(col("var_sum") * lit(1e6)) / lit(1e6)).as("var_sum"),
        (round(col("sse") * lit(1e6)) / lit(1e6)).as("sse"))
  }

  def balancedPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (dims, _, codes) = pqStateShared(spark, sfDir, 4, 8, 2)
    balancedPqFrom(dims, codes, 4, 8, 2)
  }

  /** q380: nDCG@10 of the int8-quantized ranking (q65's codec) against the
    * exact-cosine ranking — the position-weighted audit recall@k cannot
    * give: losing the #1 neighbor and losing the #10 are the same recall
    * miss but very different retrieval quality. Graded relevance is the
    * exact rank (rel = 11 − rank for the true top-10, 0 otherwise);
    * DCG = Σ rel/log₂(pos+1) over the quantized order; IDCG is the perfect
    * arrangement of those gains. Per-position terms are decimal-snapped so
    * the sum is partition-order-free. Same brute-force-over-broadcast-probes
    * shape as q25/q65 — the probe set is tiny, the corpus streams once per
    * ranking.
    */
  /** Per-dim-envelope int8 reconstruction (q65's codec) — shared by the
    * quantized-ranking audits (q65 recall, q380 nDCG, q386 RBO).
    */
  private def int8Recon(emb: DataFrame): DataFrame = {
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val env = asDoubles(emb)
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val envArr = env.agg(
      expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").as("mns"),
      expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("mxs"))
    e.crossJoin(broadcast(envArr))
      .withColumn("rv", expr(
        """zip_with(v, zip_with(mns, mxs, (a, b) -> struct(a AS mn, b AS mx)),
          |  (x, en) -> CASE WHEN en.mx = en.mn THEN en.mn
          |    ELSE en.mn + round((x - en.mn)/(en.mx - en.mn)*255)/255*(en.mx - en.mn) END)"""
          .stripMargin))
      .select(col("vec_id"), col("rv").as("v"))
  }

  /** Exact-decimal cosine top-k per probe WITH rank — the q25 plan shape,
    * rank kept for the position-sensitive audits.
    */
  private def cosTopKRanked(vs: DataFrame, nProbes: Int, k: Int): DataFrame = {
    val all = vs.withColumn("nrm", normCol("v"))
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
    val cand = all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.crossJoin(broadcast(probes))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"))
  }

  def ndcgQuantized(emb: DataFrame, nProbes: Int = 10, k: Int = 10): DataFrame = {
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val s12 = (c: Column) => round(c * lit(1e12)) / lit(1e12)
    val truth = cosTopKRanked(e, nProbes, k)
      .withColumn("rel", (lit(k + 1) - col("rnk")).cast("double"))
    val approx = cosTopKRanked(int8Recon(emb), nProbes, k)
      .withColumnRenamed("rnk", "pos")
    // log2(x) = ln(x)/ln(2): both engines hit the same IEEE ln path
    val dcg = approx
      .join(truth.select(col("probe_id"), col("neighbor_id"), col("rel")),
        Seq("probe_id", "neighbor_id"), "left_outer")
      .withColumn("g", s12(coalesce(col("rel"), lit(0.0))
        / (log(col("pos").cast("double") + 1) / log(lit(2.0)))))
      .groupBy(col("probe_id"))
      .agg(sum(col("g").cast("decimal(28,12)")).cast("double").as("dcg"),
        sum(when(col("rel").isNotNull, 1L).otherwise(0L)).as("n_hits"))
    val idcg = truth
      .withColumn("g", s12(col("rel")
        / (log(col("rnk").cast("double") + 1) / log(lit(2.0)))))
      .groupBy(col("probe_id"))
      .agg(sum(col("g").cast("decimal(28,12)")).cast("double").as("idcg"))
    dcg.join(idcg, "probe_id")
      .select(col("probe_id"), col("n_hits"),
        (round(col("dcg") * 1000000) / 1000000.0).as("dcg"),
        (round(col("dcg") / col("idcg") * 1000000) / 1000000.0).as("ndcg"))
  }

  def ndcgQuantized(spark: SparkSession, sfDir: String): DataFrame =
    ndcgQuantized(Tables.embeddings(spark, sfDir))

  /** q386's tail weights wTail(m) = Σ_{k=m..d} p^{k−1}/k, computed ONCE in
    * Scala and consumed as identical double literals by BOTH engines (the
    * Spark plan broadcasts them; SparkEntry interpolates
    * `java.lang.Double.toString` of the same array into the oracle SQL) —
    * the p^k power never evaluates inside either engine, so libm pow ulp
    * drift can't split the hash.
    */
  def rboWeights(p: Double, d: Int): Seq[(Int, Double)] =
    (1 to d).map { m =>
      m -> (m to d).map(k => math.pow(p, k - 1) / k).sum
    }

  /** q386: rank-biased overlap (Webber et al.) between the int8-quantized
    * and exact cosine rankings, truncated at depth d=10 with persistence
    * p=0.9 — the top-weighted ranking-agreement number beside q380's
    * relevance-weighted nDCG: RBO compares the ORDERINGS directly (no
    * relevance model), geometrically discounting depth, so churn at rank 1
    * costs ~10× churn at rank 10. Computed without materializing prefixes:
    * a document in both top-d lists joins the overlap at every depth
    * k ≥ max(rank_a, rank_b), so its total contribution is the
    * precomputed tail weight wTail(max) and RBO = (1−p)·Σ wTail(max) over
    * common documents — one equi-join on (probe, doc) plus a broadcast
    * d-row weight table.
    */
  def rboQuantized(emb: DataFrame, nProbes: Int = 10, d: Int = 10,
                   p: Double = 0.9): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val truth = cosTopKRanked(e, nProbes, d)
    val approx = cosTopKRanked(int8Recon(emb), nProbes, d)
      .withColumnRenamed("rnk", "rnk_b")
    val wts = broadcast(rboWeights(p, d).toDF("m", "w"))
    val agg = truth.join(approx, Seq("probe_id", "neighbor_id"))
      .withColumn("m", greatest(col("rnk"), col("rnk_b")))
      .join(wts, "m")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_common"),
        sum((round(col("w") * lit(1e12)) / lit(1e12)).cast("decimal(28,12)"))
          .cast("double").as("sw"))
    truth.select(col("probe_id")).distinct()
      .join(agg, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (round((lit(1.0) - lit(p)) * coalesce(col("sw"), lit(0.0)) * 1000000)
          / 1000000.0).as("rbo"))
  }

  def rboQuantized(spark: SparkSession, sfDir: String): DataFrame =
    rboQuantized(Tables.embeddings(spark, sfDir))

  /** q91: cluster-balance census for the IVF partition layout — per label:
    * vector count, corpus share, size rank, plus the partition-distribution
    * Shannon entropy and Pielou evenness (H / ln k) repeated on every row.
    * Near-uniform shares (evenness ≈ 1) mean probe-time pruning removes a
    * predictable (nlist − nprobe)/nlist of the scan; a skewed layout
    * (evenness ≪ 1) means one hot partition dominates latency and the index
    * wants re-clustering — the same fit-check role q73 plays for the LSH
    * index and q62 for a shuffle key.
    *
    * Scale: one map-side-combined count per label (output = nlist rows),
    * then all derived statistics are arithmetic over that tiny table with
    * two broadcast one-row scalars; each entropy term is snapped to
    * DECIMAL(18,12) before the sum so H is order-free and engine-portable.
    */
  def clusterBalance(emb: DataFrame): DataFrame = {
    val counts = emb.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("k"))
    val entropy = counts.crossJoin(broadcast(totals))
      .select(((col("n").cast("double") / col("total")) * lit(-1.0) *
        log(col("n").cast("double") / col("total"))).cast("decimal(18,12)").as("term"))
      .agg(sum(col("term")).as("h"))
    counts.crossJoin(broadcast(totals)).crossJoin(broadcast(entropy))
      .select(
        col("label"),
        col("n"),
        (round(col("n").cast("double") / col("total") * 10000) / 10000).as("share"),
        // single-partition window is safe here: input is the nlist-sized
        // label table (O(100) rows), never vectors
        row_number().over(Window.orderBy(col("n").desc, col("label"))).as("size_rank"),
        (round(col("h").cast("double") * 10000) / 10000).as("entropy"),
        (round(col("h").cast("double") / log(col("k").cast("double")) * 10000) / 10000)
          .as("evenness"))
  }

  def clusterBalance(spark: SparkSession, sfDir: String): DataFrame =
    clusterBalance(Tables.embeddings(spark, sfDir))

  /** q103: centroid separation margins — for every IVF partition, the
    * Euclidean distance to its NEAREST other centroid. Small margins mean
    * neighboring partitions overlap, so probe-time pruning at nprobe=1
    * loses recall there — this is the geometric early warning that the
    * recall audit (q43) only detects after the fact, and the companion to
    * q56 (within-partition spread) and q91 (partition balance).
    *
    * Scale: ONE explode+aggregate pass over the vectors builds the
    * (label, dim) component means (exact decimal sums → one division);
    * everything after runs on the nlist×dim component table — the pairwise
    * join is nlist² rows, driver-free, with per-term decimal snapping so
    * the distance sums are order-free.
    */
  def centroidMargins(emb: DataFrame): DataFrame = {
    val comp = asDoubles(emb)
      .select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg((sum(col("x").cast("decimal(18,12)")).cast("double") / count(lit(1))).as("m"))
    val pair = comp.toDF("label_a", "d", "ma")
      .join(comp.toDF("label_b", "d", "mb"), Seq("d"))
      .where(col("label_a") =!= col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(((col("ma") - col("mb")) * (col("ma") - col("mb")))
        .cast("decimal(28,16)")).as("d2"))
    val w = Window.partitionBy(col("label_a")).orderBy(col("d2"), col("label_b"))
    pair
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("label_a").as("label"), col("label_b").as("nearest_label"),
        (round(sqrt(col("d2").cast("double")) * 10000) / 10000).as("margin"))
  }

  def centroidMargins(spark: SparkSession, sfDir: String): DataFrame =
    centroidMargins(Tables.embeddings(spark, sfDir))

  /** q122: embedding-norm outliers per IVF partition — vectors whose L2
    * norm sits far from their label's norm distribution (truncated,
    * zeroed, or exploding embeddings are the classic ingestion bugs a
    * vector index inherits silently; q85 watches dimensions, this watches
    * whole vectors). Norms come from the native decimal_dot (exact
    * scale-16 accumulation), are DECIMAL(18,12)-snapped so the per-label
    * moment sums stay order-free, and the top-|z| window runs per label
    * over the norm table (one row per vector, not per dimension). σ = 0
    * (perfectly uniform norms) degrades to z = 0 instead of dividing.
    */
  def normOutliers(emb: DataFrame, topN: Int = 3): DataFrame = {
    val n = asDoubles(emb)
      .select(col("vec_id"), col("label"),
        normCol("v").cast("decimal(18,12)").as("nrm"))
    // moments of (nrm − per-label min): shifting to the distribution's own
    // scale dodges the mean² ≫ σ² catastrophic cancellation that unit-
    // normalized corpora (σ ~ 1e-8 around 1.0) would otherwise hit
    val mins = n.groupBy(col("label")).agg(min(col("nrm")).as("mn"))
    val dev = n.join(broadcast(mins), "label")
      .withColumn("d", (col("nrm") - col("mn")).cast("decimal(18,12)"))
    val stats = dev.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(col("d")).as("sd"),
        sum(col("d") * col("d")).as("sd2"))
      .withColumn("mu_d", col("sd").cast("double") / col("n"))
      .withColumn("sigma",
        sqrt(col("sd2").cast("double") / col("n") - col("mu_d") * col("mu_d")))
      .select(col("label"), col("mu_d"), col("sigma"))
    val z = when(col("sigma") === 0.0, lit(0.0))
      .otherwise((col("d").cast("double") - col("mu_d")) / col("sigma"))
    val w = Window.partitionBy(col("label")).orderBy(abs(z).desc, col("vec_id"))
    dev.join(broadcast(stats), "label")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topN)
      .select(col("label"), col("rn"), col("vec_id"),
        (round(col("nrm").cast("double") * 10000) / 10000).as("norm"),
        (round(z * 10000) / 10000).as("z"))
  }

  def normOutliers(spark: SparkSession, sfDir: String): DataFrame =
    normOutliers(Tables.embeddings(spark, sfDir))

  /** q136: matryoshka truncation audit — recall@k of cosine search run on
    * only the FIRST d dimensions, against the full-dimension ground truth,
    * for a ladder of prefix widths. The memory/recall trade of
    * truncation-tolerant embeddings made measurable: a 64→16 prefix cuts
    * index bytes 4× — this query says what it costs in recall (and the
    * full-width rung must score exactly 1.0, a built-in self-check).
    * Pure composition: each rung is the q25 plan over `slice(v, 1, d)`,
    * recall is one semi-join against the shared ground-truth top-k — the
    * same audit-the-index pattern as q43/q65.
    */
  def matryoshkaRecall(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32, 64),
                       nProbes: Int = 10, k: Int = 5): DataFrame = {
    val truth = cosineTopK(emb, nProbes, k)
      .select(col("probe_id"), col("neighbor_id"))
    val runs = dims.map { d =>
      cosineTopK(emb.withColumn("embedding", slice(col("embedding"), 1, d)),
        nProbes, k)
        .select(lit(d).as("trunc_dim"), col("probe_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    val hits = runs.join(truth, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("trunc_dim"))
      .agg(count(lit(1)).as("n_hits"))
    // emit every rung even at zero hits — a silently missing row reads as
    // "not measured" when it actually means "recall collapsed to 0"
    val allDims = emb.sparkSession.range(dims.size)
      .select(element_at(
        lit(dims.toArray), col("id").cast("int") + 1).as("trunc_dim"))
    val total = lit(nProbes * k)
    allDims.join(hits, Seq("trunc_dim"), "left_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .select(col("trunc_dim"), col("n_hits"),
        (round(col("n_hits").cast("double") / total * 1000000) / 1000000)
          .as("recall"))
  }

  def matryoshkaRecall(spark: SparkSession, sfDir: String): DataFrame =
    matryoshkaRecall(Tables.embeddings(spark, sfDir))

  /** q165: Maximal-Marginal-Relevance diversified top-k (Carbonell &
    * Goldstein 1998) — the retrieval layer a training-data selector wants
    * when plain cosine top-k returns k near-copies of one passage:
    * score(d) = λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s), picked
    * greedily. Structured for scale the way every bounded-rerank system
    * does it: the DISTRIBUTED stage reduces the corpus to a `pool`-sized
    * relevance shortlist (one broadcast-probe scan, same plan as q25);
    * the greedy stage then runs k tiny argmax rounds over that fixed
    * pool — pool² pairwise sims and k row_number passes over ≤ pool rows,
    * cost independent of corpus size.
    *
    * Cross-engine determinism: cosines come exact off decimal_dot and are
    * snapped to 9 dp, the per-step score is two IEEE mults and a subtract
    * on snapped values (λ and 1−λ are passed as separate decimal-string
    * literals — 1−0.7 in the engine would differ between double and
    * decimal arithmetic), and every argmax breaks ties by (score desc,
    * vec_id). The oracle unrolls the same k greedy steps.
    */
  def mmrTopK(emb: DataFrame, probeId: Long = 0, pool: Int = 40, k: Int = 8,
              lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    val probe = all.where(col("vec_id") === probeId)
      .select(col("v").as("pv"), col("nrm").as("pn"))
    val rel = all.where(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .withColumn("rel", round(dotExpr("pv", "v") / (col("pn") * col("nrm")), 9))
      .select(col("vec_id"), col("v"), col("nrm"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(pool)
      .transform(Materialize.state(_)) // pool rows — tiny from here on
    val sims = rel.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      .join(broadcast(rel.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))), col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(dotExpr("va", "vb") / (col("na") * col("nb")), 9).as("sim"))
      .transform(Materialize.state(_))
    val none = rel.limit(0)
      .select(col("vec_id"), lit(0.0).as("score"), lit(0).as("rnk"))
    Rounds.fixed(k, none) { (selected, step) =>
      // a semi join: selected ids are distinct, and an inner join's size
      // estimate (the product of its sides) would grow with the state
      val maxSim = sims
        .join(selected.select(col("vec_id").as("b")), Seq("b"), "left_semi")
        .groupBy(col("a")).agg(max(col("sim")).as("ms"))
      val next = rel
        .join(selected.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(maxSim, col("vec_id") === col("a"), "left")
        .withColumn("score", round(lit(lambda) * col("rel")
          - lit(mu) * coalesce(col("ms"), lit(0.0)), 9))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("score"), lit(step).as("rnk"))
      selected.union(next)
    }.select(col("rnk"), col("vec_id"), col("score"))
  }

  def mmrTopK(spark: SparkSession, sfDir: String): DataFrame =
    mmrTopK(Tables.embeddings(spark, sfDir))

  /** q188: two-stage shortlist-rerank recall — the production ANN serving
    * pattern (quantized/compressed index builds a cheap shortlist, exact
    * vectors rerank it) measured end to end: recall@k of [int8-quantized
    * cosine shortlist of `shortN` → exact-cosine rerank to top-k] against
    * exact top-k ground truth. Sits between q65 (quantized-only recall —
    * the floor) and brute force (the ceiling): the audit says what
    * shortlist size buys back the quantization loss. Exact pair cosines
    * are computed ONCE (truth and rerank both read the same table — AQE
    * stage reuse); the rerank is a semi-join of that table against the
    * shortlist, so the second stage touches `shortN` rows per probe, the
    * 100 TB path where the exact rerank runs on a row-bounded candidate
    * set, never the corpus.
    */
  def rerankRecall(emb: DataFrame, nProbes: Int = 10, k: Int = 5,
                   shortN: Int = 20): DataFrame = {
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val env = asDoubles(emb)
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val envArr = env.agg(
      expr("transform(array_sort(collect_list(struct(i, mn))), s -> s.mn)").as("mns"),
      expr("transform(array_sort(collect_list(struct(i, mx))), s -> s.mx)").as("mxs"))
    val rec = e.crossJoin(broadcast(envArr))
      .withColumn("rv", expr(
        """zip_with(v, zip_with(mns, mxs, (a, b) -> struct(a AS mn, b AS mx)),
          |  (x, en) -> CASE WHEN en.mx = en.mn THEN en.mn
          |    ELSE en.mn + round((x - en.mn)/(en.mx - en.mn)*255)/255*(en.mx - en.mn) END)"""
          .stripMargin))
      .select(col("vec_id"), col("rv").as("v"))

    def pairCos(vs: DataFrame): DataFrame = {
      val all = vs.withColumn("nrm", normCol("v"))
      val probes = all.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pn"))
      all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("nrm").as("cn"))
        .crossJoin(broadcast(probes))
        .where(col("neighbor_id") =!= col("probe_id"))
        .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
        .select(col("probe_id"), col("neighbor_id"), col("cos"))
    }
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val exact = pairCos(e)
    val truth = exact.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k).select(col("probe_id"), col("neighbor_id"))
    val short = pairCos(rec).withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= shortN).select(col("probe_id"), col("neighbor_id"))
    val rerank = exact.join(short, Seq("probe_id", "neighbor_id"), "left_semi")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k).select(col("probe_id"), col("neighbor_id"))
    val hits = truth.join(rerank, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_true") * 10000) / 10000).as("recall"))
  }

  def rerankRecall(spark: SparkSession, sfDir: String): DataFrame =
    rerankRecall(Tables.embeddings(spark, sfDir))

  /** q200: top principal direction of the embedding corpus by distributed
    * power iteration — the anisotropy AXIS where q85 reports only
    * per-dimension variance (embedding spaces collapse toward a dominant
    * direction as models overtrain; the leading eigenvector of the
    * covariance names that direction, and its loadings say which
    * dimensions carry it). The covariance matrix is never materialized:
    * each round computes X·(Xᵀv) as two vocabulary-thin aggregations —
    * per-row dot with the broadcast 64-row v, then per-dimension weighted
    * sums — exactly the matrix-free trick that makes power iteration the
    * distributed PCA workhorse. MAX-normalization per round (exact
    * compare + one division, the q160 HITS contract) instead of an L2
    * float sum; per-term decimal snaps make every aggregate
    * partition-order-free, so the oracle replays the identical rounds as
    * unrolled CTEs. Fixed `iters` rounds, no driver-side vector: v stays
    * a 64-row DataFrame, localCheckpoint'd per round.
    */
  /** The power-iteration state behind [[pcaPower]] / [[abtt]]: centered
    * vectors (ARRAY form — one row per vector) and the max-normalized
    * top-PC loading vector as a single-row array.
    *
    * Array-native restructure (guide §1.2 step 1): per round, the
    * per-vector dot against the broadcast loading is a map-only
    * decimal_dot (formerly a join + groupBy over exploded dims), so the
    * only per-round shuffle is the per-dimension w aggregation, and the
    * normalization folds into the same single-row collect. Arithmetic is
    * term-identical (same decimal casts, same round/divide order), so the
    * loadings are bit-identical to the exploded form (oracle-gated).
    */
  private[ops] def pcaState(emb: DataFrame,
                            iters: Int): (DataFrame, DataFrame) = {
    val x0 = asDoubles(emb).select(col("vec_id"), col("v"))
    val xx0 = x0.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val mu = xx0.groupBy(col("i")).agg(
      (round((sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1))) * lit(1e12)) / lit(1e12)).as("mu"))
    val muArr = mu
      .agg(expr("transform(array_sort(collect_list(struct(i, mu))), p -> p.mu)")
        .as("marr"))
      .transform(Materialize.state(_))
    val xc = x0.crossJoin(broadcast(muArr))
      // spread the unsplittable scan before the power rounds (see pqState)
      .transform(spread)
      .select(col("vec_id"),
        expr("zip_with(v, marr, (x, m) -> x - m)").as("xv"))
      .transform(Materialize.state(_))
    (xc, powerRounds(xc, muArr, iters))
  }

  /** `iters` max-normalized power rounds against the centered array table
    * `x` (vec_id, xv), starting from the first axis e₁ shaped like the
    * 1-row, 1-array-column frame `like`: each round is
    * X·(Xᵀv) as a map-only decimal_dot plus one per-dimension decimal
    * aggregation, then max-normalization and a 1e-12 snap. m = 0 iff the
    * data is exactly orthogonal to the start vector (axis-aligned
    * degenerate data): the round then freezes at the zero vector instead
    * of dividing by zero, and is value-identical whenever m > 0.
    *
    * Per-round eager materialization is deliberate: lazy chaining was
    * re-measured on this single-use array shape (nested 1-row broadcast
    * plans, 12 levels) and was ~25% slower — the deep plan's
    * analysis/broadcast scheduling costs more than the 1-row checkpoint
    * per round.
    */
  private def powerRounds(x: DataFrame, like: DataFrame, iters: Int): DataFrame = {
    val e1 = like.select(expr(
      s"transform(${like.columns.head}, (a, ix) -> IF(ix = 0, 1.0D, 0.0D))")
      .as("varr"))
    Rounds.fixed(iters, e1) { (v, _) =>
      x.crossJoin(broadcast(v))
        .withColumn("d", DecimalDot(col("xv"), col("varr")))
        .select(col("d"), posexplode(col("xv")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(sum((col("x") * col("d")).cast("decimal(28,12)"))
          .cast("double").as("w"))
        .agg(expr("array_sort(collect_list(struct(i, w)))").as("lst"))
        .select(col("lst"),
          expr("array_max(transform(lst, p -> abs(p.w)))").as("m"))
        .select(expr(
          "transform(lst, p -> IF(m > 0D, round(p.w / m * 1e12) / 1e12, 0.0D))")
          .as("varr"))
    }
  }

  /** (i, vi) row view of a 1-row loading array — the boundary shape the
    * declared outputs and the unrolled-CTE oracles consume.
    */
  private def loadingRows(v: DataFrame): DataFrame =
    v.select(posexplode(col("varr")).as(Seq("i", "vi")))

  def pcaPower(emb: DataFrame, iters: Int = 6): DataFrame =
    loadingRows(pcaState(emb, iters)._2)
      .select((col("i") + 1).cast("int").as("dim"), col("vi").as("loading"))

  def pcaPower(spark: SparkSession, sfDir: String): DataFrame =
    // same v1 the session's shared two-component state trains (its PC1
    // rounds ARE pcaState's) — one training serves q200/q397/q430/q433
    loadingRows(pcaTwoStateShared(spark, sfDir, 6).v1)
      .select((col("i") + 1).cast("int").as("dim"), col("vi").as("loading"))

  /** q397: all-but-the-top embedding post-processing audit (Mu &
    * Viswanath 2018) — remove the top principal component (the classic
    * anisotropy fix: a dominant common direction makes every cosine look
    * alike and drowns the signal) and measure what it bought: the energy
    * participation ratio (Σe)²/Σe² before/after (THE isotropy gauge — PR
    * → d when energy spreads evenly), the hottest dimension's energy
    * share, and how much the top-k cosine rankings actually churned
    * (mean overlap@k over the probe set). Projection is against q200's
    * power-iteration loading: x′ = x − (⟨x,u⟩/⟨u,u⟩)·u — scale-invariant,
    * so the max-normalized loading needs no unit-norm pass (and no sqrt).
    *
    * Scale: one corpus pass for the projection (u is a broadcast d-vector),
    * per-dim energy tables are d rows, and the ranking-churn stage is the
    * q25 broadcast-probe scan twice — nothing quadratic, nothing driver-
    * side.
    */
  def abtt(emb: DataFrame, iters: Int = 6, nProbes: Int = 10,
           k: Int = 5): DataFrame = {
    val (xc, v) = pcaState(emb, iters)
    // uu = Σ vi² (exact decimal) — rides on the 1-row loading
    val vuu = v.withColumn("uu", DecimalDot(col("varr"), col("varr")))
    val xp = xc.crossJoin(broadcast(vuu))
      .withColumn("a", DecimalDot(col("xv"), col("varr")))
      .select(col("vec_id"),
        expr("zip_with(xv, varr, (x, vi) -> x - a / uu * vi)").as("xv"))
    abttFrom(xc, xp, nProbes, k)
  }

  /** The audit tail of [[abtt]] over already-built centered (`xc`) and
    * top-PC-removed (`xp`) dim tables — shared with the q430/q433 PCA
    * state so q397 re-uses the session's one power-iteration training
    * (its xp is the identical ‖x − (a/uu)·v‖ projection [[pcaTwoState]]
    * checkpoints as its deflated table).
    */
  private def abttFrom(xc: DataFrame, xp: DataFrame, nProbes: Int,
                       k: Int): DataFrame = {
    def prOf(d: DataFrame, sfx: String): DataFrame =
      d.select(posexplode(col("xv")).as(Seq("i", "x")))
        .groupBy(col("i"))
        .agg(sum((round(col("x") * col("x") * lit(1e10)) / lit(1e10))
          .cast("decimal(38,10)")).cast("double").as("e"))
        .agg(sum((round(col("e") * lit(1e6)) / lit(1e6))
          .cast("decimal(38,6)")).cast("double").as("s1"),
          sum((round(col("e") * col("e") * lit(1e6)) / lit(1e6))
            .cast("decimal(38,6)")).cast("double").as("s2"),
          max(col("e")).as("mx"))
        .select(
          (round(col("s1") * col("s1") / col("s2") * lit(1e6)) / lit(1e6))
            .as(s"pr_$sfx"),
          (round(col("mx") / col("s1") * lit(1e6)) / lit(1e6))
            .as(s"top_share_$sfx"))

    def topkOf(d: DataFrame): DataFrame = {
      val arr = d.select(col("vec_id"), col("xv").as("v"))
        .withColumn("nrm", sqrt(DecimalDot(col("v"), col("v"))))
      val probes = arr.where(col("vec_id") < nProbes)
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pn"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      arr.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
          col("nrm").as("cn"))
        .crossJoin(broadcast(probes))
        .where(col("neighbor_id") =!= col("probe_id"))
        .withColumn("cos", DecimalDot(col("pv"), col("cv"))
          / (col("pn") * col("cn")))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= k)
        .select(col("probe_id"), col("neighbor_id"))
    }

    val before = topkOf(xc)
    val after = topkOf(xp)
    val churn = before.join(after, Seq("probe_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_common"))
      .crossJoin(before.select(col("probe_id")).distinct()
        .agg(count(lit(1)).as("n_probes")))
      .select(col("n_probes"),
        (round(col("n_common").cast("double") / col("n_probes") * lit(1e6))
          / lit(1e6)).as("mean_overlap"))
    prOf(xc, "before").crossJoin(prOf(xp, "after")).crossJoin(churn)
      .select(col("pr_before"), col("pr_after"), col("top_share_before"),
        col("top_share_after"), col("mean_overlap"), col("n_probes"))
  }

  def abtt(spark: SparkSession, sfDir: String): DataFrame = {
    val st = pcaTwoStateShared(spark, sfDir, 6)
    abttFrom(st.xc, st.xp, nProbes = 10, k = 5)
  }

  /** q223: metadata-filtered exact top-k — vector search restricted by a
    * relational predicate (here: candidate documents with lang = 'en'),
    * the "filtered ANN" shape every retrieval stack needs once queries
    * carry filters. Pre-filtering (semi-join the candidate set down BEFORE
    * scoring) beats post-filtering a top-k (which under-fills k when the
    * filter is selective); the filter is a key semi-join so Catalyst can
    * push it into the candidate scan, and the probe side stays broadcast.
    * The exact path doubles as the recall oracle for a filtered IVF.
    */
  def filteredAnn(emb: DataFrame, docs: DataFrame, nProbes: Int = 10,
                  k: Int = 5): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val keep = docs.where(col("lang") === "en")
      .select(col("doc_id").as("neighbor_id"))
    val cand = all
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn"))
      .join(keep, Seq("neighbor_id"), "left_semi")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .crossJoin(broadcast(probes))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
  }

  def filteredAnn(spark: SparkSession, sfDir: String): DataFrame =
    filteredAnn(Tables.embeddings(spark, sfDir),
      Tables.documents(spark, sfDir))

  /** q226: recall-vs-nprobe curve for the IVF index — the tuning table an
    * operator reads before picking nprobe (recall climbs with each probed
    * partition, cost climbs linearly; the knee is the setting). Micro
    * recall aggregates exact hit/truth integers across probes; min recall
    * exposes the worst query, which the mean hides. Pure composition of
    * the existing ANN plans — each curve point reuses the same centroid
    * codebook and truth scan shapes.
    */
  def nprobeCurve(emb: DataFrame, nProbes: Int = 10, k: Int = 5,
                  curve: Seq[Int] = Seq(1, 2, 4)): DataFrame =
    curve.map { np =>
      annRecall(emb, nProbes, k, np)
        .agg(sum(col("n_hits")).as("n_hits"),
          sum(col("n_true")).as("n_true"),
          min(col("recall")).as("min_recall"))
        .select(lit(np).as("nprobe"), col("n_hits"), col("n_true"),
          (round(col("n_hits").cast("double")
            / col("n_true").cast("double") * lit(10000))
            / lit(10000.0)).as("micro_recall"),
          col("min_recall"))
    }.reduce(_ union _)

  def nprobeCurve(spark: SparkSession, sfDir: String): DataFrame =
    nprobeCurve(Tables.embeddings(spark, sfDir))

  /** q257: within-cluster kNN graph + mutual-edge census — the graph that
    * feeds kNN-based clustering/agglomeration (two vectors that each rank
    * the other in their top-k are a high-precision merge candidate; a low
    * mutual share marks a cluster whose neighborhoods are asymmetric hub
    * spokes). Candidates are label-partition-local — the IVF posture: at
    * scale the vector table is partitioned by cluster, each partition
    * builds its kNN sub-graph independently, and the pair fan-out is
    * Σ|cluster|², never corpus². Cosines ride the native decimal_dot, so
    * ranks are deterministic (ties broken on neighbor id); the mutuality
    * check is a self-semi-join of the k·n-row edge list on the swapped
    * key.
    */
  def knnGraphCensus(emb: DataFrame, k: Int = 3): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    val a = all.select(col("label"), col("vec_id").as("src"),
      col("v").as("av"), col("nrm").as("an"))
    val b = all.select(col("label"), col("vec_id").as("dst"),
      col("v").as("bv"), col("nrm").as("bn"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val knn = a.join(b, Seq("label"))
      .where(col("src") =!= col("dst"))
      .withColumn("cos", dotExpr("av", "bv") / (col("an") * col("bn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("label"), col("src"), col("dst"))
    val mutual = knn.join(
      knn.select(col("src").as("dst"), col("dst").as("src")),
      Seq("src", "dst"), "leftsemi")
    val nv = all.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val ne = knn.groupBy(col("label")).agg(count(lit(1)).as("n_edges"))
    val nm = mutual.groupBy(col("label")).agg(count(lit(1)).as("n_mutual"))
    nv.join(ne, Seq("label"), "left").join(nm, Seq("label"), "left")
      .select(col("label"), col("n_vecs"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .withColumn("mutual_frac",
        when(col("n_edges") > 0,
          round(col("n_mutual").cast("double")
            / col("n_edges").cast("double") * lit(10000)) / lit(10000.0))
          .otherwise(lit(0.0)))
  }

  def knnGraphCensus(spark: SparkSession, sfDir: String): DataFrame =
    knnGraphCensus(Tables.embeddings(spark, sfDir))

  /** q298: cluster radius profile — each label's members binned by their
    * distance to the OWN centroid in five equal-width shells of the
    * label's max radius. The distribution view behind q56's single spread
    * number and q266's silhouette: a healthy cluster is dense at shell 0
    * with a thin rim; mass piling up in the outer shells is the
    * "centroid is a compromise between two real clusters" signal. One
    * dims⋈centroid join (centroid side broadcast), d² = ‖v‖² − 2v·c +
    * ‖c‖² from exact decimal dots, max radius per label joined back —
    * every per-row quantity deterministic, bins integer.
    */
  def radiusProfile(emb: DataFrame, shells: Int = 5): DataFrame = {
    val dims = asDoubles(emb)
      .select(col("vec_id"), col("label"), posexplode(col("v"))
        .as(Seq("i", "xd")))
    val cent = dims.groupBy(col("label"), col("i"))
      .agg((sum(col("xd").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("cd"))
    val cc = cent.groupBy(col("label"))
      .agg(sum((col("cd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("cc"))
    val vv = dims.groupBy(col("vec_id"), col("label"))
      .agg(sum((col("xd") * col("xd")).cast("decimal(28,16)"))
        .cast("double").as("vv"))
    val dot = dims.join(cent, Seq("label", "i"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("xd") * col("cd")).cast("decimal(28,16)"))
        .cast("double").as("dot"))
    val d = vv.join(dot, Seq("vec_id", "label"))
      .join(broadcast(cc), "label")
      .withColumn("d", sqrt(greatest(
        col("vv") - lit(2.0) * col("dot") + col("cc"), lit(0.0))))
    val dmax = d.groupBy(col("label")).agg(max(col("d")).as("dmax"))
    val n = d.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    d.join(broadcast(dmax), "label")
      .withColumn("shell",
        when(col("dmax") === 0, lit(0)).otherwise(
          least(floor(col("d") / col("dmax") * shells),
            lit(shells - 1))).cast("int"))
      .groupBy(col("label"), col("shell"))
      .agg(count(lit(1)).as("n_in_shell"))
      .join(broadcast(n), "label")
      .select(col("label"), col("shell"), col("n_in_shell"),
        (round(col("n_in_shell").cast("double")
          / col("n_vecs").cast("double") * lit(10000)) / lit(10000.0))
          .as("share"))
  }

  def radiusProfile(spark: SparkSession, sfDir: String): DataFrame =
    radiusProfile(Tables.embeddings(spark, sfDir))

  /** q303: k-occurrence hubness census of the label-blocked kNN graph —
    * how often each vector appears in OTHERS' top-k lists. High-dimensional
    * spaces concentrate in-links on a few "hub" vectors (the classic ANN
    * pathology: hubs dominate every result list and recall audits go
    * blind), so the in-degree histogram — including the 0-occurrence
    * antihubs — is the first diagnostic to run before shipping an index.
    * Reuses q257's bounded per-label kNN edges; the histogram is two tiny
    * aggregates; zero-row counts come from n_vecs − distinct targets.
    */
  def knnHubness(emb: DataFrame, k: Int = 3): DataFrame = {
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
    val a = all.select(col("label"), col("vec_id").as("src"),
      col("v").as("av"), col("nrm").as("an"))
    val b = all.select(col("label"), col("vec_id").as("dst"),
      col("v").as("bv"), col("nrm").as("bn"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    val knn = a.join(b, Seq("label"))
      .where(col("src") =!= col("dst"))
      .withColumn("cos", dotExpr("av", "bv") / (col("an") * col("bn")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("label"), col("dst"))
    val indeg = knn.groupBy(col("label"), col("dst"))
      .agg(count(lit(1)).as("occ"))
    val hist = indeg.groupBy(col("label"), col("occ"))
      .agg(count(lit(1)).as("n_vectors"))
    val nv = all.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    val hit = indeg.groupBy(col("label")).agg(count(lit(1)).as("n_hit"))
    val zeros = nv.join(hit, "label")
      .where(col("n_vecs") > col("n_hit"))
      .select(col("label"), lit(0L).as("occ"),
        (col("n_vecs") - col("n_hit")).as("n_vectors"))
    hist.unionByName(zeros)
  }

  def knnHubness(spark: SparkSession, sfDir: String): DataFrame =
    knnHubness(Tables.embeddings(spark, sfDir))

  /** q313: two-NN intrinsic dimension (Facco et al. 2017) per label — the
    * embedding-geometry number behind every ANN sizing decision: ID ≈
    * ln 2 / mean(ln(r₂/r₁)) over each point's two nearest EUCLIDEAN
    * neighbours. A 64-d embedding whose ID is ~10 quantizes and
    * LSH-buckets far better than its ambient dimension suggests; ID
    * drifting between snapshots means the encoder changed geometry.
    * Reuses the label-blocked kNN shape (k=2) with exact-decimal d²;
    * exact-duplicate pairs (r₁ = 0) are excluded and counted. ln ratios
    * are 1e-12-snapped before the decimal mean.
    */
  def intrinsicDim(emb: DataFrame, maxBlock: Int = 256): DataFrame = {
    val all = asDoubles(emb)
    // Sub-block within label, capped at ~maxBlock vectors per block. The
    // label alone is a FIXED-cardinality blocking key, so label blocks grow
    // linearly with the corpus and the pair join quadratically — measured
    // at the sf1 rehearsal as a 70× wall-time step for 10× rows
    // (BASELINE_sf1.md). The deterministic modulo split (vec_id mod
    // ceil(n/maxBlock)) bounds every block, making the pair fan-out linear
    // in rows; TwoNN on a within-block neighbor is the standard
    // subsample-TwoNN estimator (each block IS a uniform subsample of its
    // label). At sf ≤ 0.01 every label fits one block, so small-scale
    // results are unchanged.
    val nb = all.groupBy(col("label"))
      .agg(expr(s"CAST((count(1) + ${maxBlock - 1}) DIV $maxBlock AS BIGINT)").as("nb"))
    val blocked = all.join(broadcast(nb), "label")
      .withColumn("sb", pmod(col("vec_id"), col("nb")))
    val a = blocked.select(col("label"), col("sb"), col("vec_id").as("src"), col("v").as("av"))
    val b = blocked.select(col("label"), col("sb"), col("vec_id").as("dst"), col("v").as("bv"))
    val w = Window.partitionBy(col("src")).orderBy(col("d2"), col("dst"))
    val nn2 = a.join(b, Seq("label", "sb"))
      .where(col("src") =!= col("dst"))
      .withColumn("d2",
        dotExpr("av", "av") - lit(2.0) * dotExpr("av", "bv")
          + dotExpr("bv", "bv"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 2)
      .groupBy(col("label"), col("src"))
      .agg(min(when(col("rnk") === 1, col("d2"))).as("d1"),
        min(when(col("rnk") === 2, col("d2"))).as("d2nd"))
    val terms = nn2
      .withColumn("ok", col("d1") > 0 && col("d2nd").isNotNull)
      .withColumn("t", when(col("ok"),
        round(log(sqrt(col("d2nd") / col("d1"))) * lit(1e12)) / lit(1e12)))
    terms.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("n_degenerate"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_used"),
        sum(col("t").cast("decimal(38,12)")).cast("double").as("st"))
      .where(col("st") > 0)
      .select(col("label"), col("n_vecs"), col("n_degenerate"),
        (round(lit(math.log(2.0)) / (col("st") / col("n_used"))
          * lit(10000)) / lit(10000.0)).as("intrinsic_dim"))
  }

  def intrinsicDim(spark: SparkSession, sfDir: String): DataFrame =
    intrinsicDim(Tables.embeddings(spark, sfDir))

  /** q323: per-dimension variance census of the embedding space — the
    * near-zero-variance screen (dead dimensions waste index bytes and
    * quantization codebook entries; a dimension whose variance collapsed
    * between snapshots means the encoder head changed). One posexplode
    * aggregate, exact decimal moment sums, population variance; share of
    * total variance ranks the dimensions without an eigensolve.
    */
  def dimVariance(emb: DataFrame): DataFrame = {
    val dims = asDoubles(emb)
      .select(posexplode(col("v")).as(Seq("i", "x")))
    val m = dims.groupBy(col("i")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(28,16)")).cast("double").as("s1"),
      sum((col("x") * col("x")).cast("decimal(28,16)"))
        .cast("double").as("s2"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("mu", col("s1") / col("nn"))
      .withColumn("v", col("s2") / col("nn") - col("mu") * col("mu"))
    val tot = m.agg(sum((round(col("v") * lit(1e12)) / lit(1e12))
      .cast("decimal(38,12)")).cast("double").as("tv"))
    m.crossJoin(broadcast(tot))
      .select(col("i").as("dim"),
        (round(col("mu") * lit(1000000)) / lit(1000000.0)).as("mean"),
        (round(col("v") * lit(1000000)) / lit(1000000.0)).as("variance"),
        (round(col("v") / col("tv") * lit(1000000)) / lit(1000000.0))
          .as("var_share"),
        (round(col("v") * lit(1000000)) / lit(1000000.0) < 0.0001)
          .as("near_zero"))
  }

  def dimVariance(spark: SparkSession, sfDir: String): DataFrame =
    dimVariance(Tables.embeddings(spark, sfDir))

  /** q259: fixed-round Lloyd k-means trained IN the engine — unlike the
    * IVF codebook (q26, means of GIVEN labels), this learns the partition
    * itself. Each round is two shuffles, both map-side combinable: the
    * assignment (a dims⋈centroid-dims equi-join on the dimension index →
    * per-(vector, centroid) decimal dot products → argmin over k rows per
    * vector) and the update (per-(cluster, dim) decimal means). Centroid
    * state is O(k·dim) — never collected, never a driver loop; at 100 TB
    * the data-sized shuffle is the assignment join, and k·dim is small
    * enough that the centroid side broadcasts.
    *
    * Determinism contract (what makes the unrolled-SQL oracle replayable,
    * same scheme as q200's PCA): seeds are the first k vectors by id —
    * selected via a distributed ordered limit, so offset or sparse
    * vec_ids still seed exactly k clusters (cluster labels stay the
    * seeds' vec_ids);
    * d² = ‖v‖² − 2v·c + ‖c‖² from EXACT decimal dots so the argmin is
    * bit-stable (ties broken on cluster id); updated centroid dims are
    * snapped to 1e-12. Empty clusters simply drop out of the centroid
    * table — both engines agree by construction.
    */
  def kmeansFixed(emb: DataFrame, k: Int = 4, iters: Int = 2): DataFrame = {
    val (_, fin) = lloydState(asDoubles(emb).select(col("vec_id"), col("v")), k, iters)
    fin
      .groupBy(col("c"))
      .agg(count(lit(1)).as("n_vecs"),
        sum((round(col("d2") * lit(1e12)) / lit(1e12))
          .cast("decimal(28,12)")).cast("double").as("wss_raw"))
      .select(col("c").as("cluster"), col("n_vecs"),
        (round(col("wss_raw") * lit(1000000)) / lit(1000000.0)).as("wss"))
  }

  /** The Lloyd rounds behind [[kmeansFixed]], exposed for the persisted IVF
    * index ([[IvfIndex]]): returns (final centroid table (c, i, cd), final
    * assignments (vec_id, c, d2)). Identical state discipline — decimal
    * dots, 1e-12 centroid snaps, id tie-breaks — so anything built on this
    * replays deterministically.
    */
  private[ops] def lloydState(x: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    // Array-native Lloyd (same restructure as [[pqTrain]], m = 1 subspace
    // over the whole vector): vectors stay arrays end-to-end, assignment
    // is a map-only decimal_dot fold over the broadcast codebook, and the
    // only per-round shuffle is the update's (c, i) decimal means.
    // Term-identical arithmetic — DecimalDot per-term products, the same
    // decimal(28,12) update means, ((vv − 2·dot) + cc) evaluation order,
    // cluster-id tie-breaks — so centroids/assignments are bit-identical
    // to the exploded form (oracle-gated).
    val sub = x.select(col("vec_id"), col("v"))
      .transform(spread)
      .withColumn("vv", DecimalDot(col("v"), col("v")))
      .transform(Materialize.state(_))

    def cbookOf(cent: DataFrame): DataFrame =
      cent.groupBy(col("c"))
        .agg(expr("transform(array_sort(collect_list(struct(i, cd))), p -> p.cd)")
          .as("cds"))
        .withColumn("cc", DecimalDot(col("cds"), col("cds")))
        .groupBy()
        .agg(expr("array_sort(collect_list(struct(c, cds, cc)))").as("cws"))

    def assign(cbook: DataFrame): DataFrame =
      sub.crossJoin(broadcast(cbook))
        .withColumn("best", expr(
          "array_sort(transform(cws, w -> struct((vv - 2.0D * decimal_dot(v, w.cds)) + w.cc AS d2, w.c AS c)))[0]"))

    // first k vector ids via TakeOrderedAndProject (distributed top-k),
    // broadcast back — works for any id layout, not just 0-based dense
    val seedIds = x.select(col("vec_id")).orderBy(col("vec_id")).limit(k)
    val seeds = x.join(broadcast(seedIds), "vec_id")
      .select(col("vec_id").as("c"), posexplode(col("v")).as(Seq("i", "cd")))
    val cent = Rounds.fixed(iters, seeds) { (cent, _) =>
      assign(cbookOf(cent))
        .select(col("best.c").as("c"), posexplode(col("v")).as(Seq("i", "xd")))
        .groupBy(col("c"), col("i"))
        .agg((round((sum(col("xd").cast("decimal(28,12)")).cast("double")
          / count(lit(1))) * lit(1e12)) / lit(1e12)).as("cd"))
    }
    (cent, assign(cbookOf(cent))
      .select(col("vec_id"), col("best.c").as("c"), col("best.d2").as("d2")))
  }

  def kmeansFixed(spark: SparkSession, sfDir: String): DataFrame =
    kmeansFixed(Tables.embeddings(spark, sfDir))

  /** q266: simplified silhouette per label — the clustering-quality score
    * that q56's within-cluster spread can't give, because silhouette also
    * measures SEPARATION: a = distance to the own-label centroid, b = the
    * nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1, 1] (negative ⇔
    * the vector sits closer to a foreign cluster — the merge/split
    * signal). Centroid-based (the O(n·k·d) "simplified silhouette"), not
    * pairwise O(n²) — the only formulation that scales; distances expand
    * as ‖v‖² − 2v·c + ‖c‖² with all three terms exact decimal sums, so
    * a/b and the per-label mean are deterministic.
    */
  def silhouette(emb: DataFrame): DataFrame = {
    val dims = asDoubles(emb)
      .select(col("vec_id"), col("label"), posexplode(col("v"))
        .as(Seq("i", "xd")))
    val cent = dims.groupBy(col("label").as("clabel"), col("i"))
      .agg((sum(col("xd").cast("decimal(28,12)")).cast("double")
        / count(lit(1))).as("c"))
    val vv = dims.groupBy(col("vec_id"))
      .agg(sum((col("xd") * col("xd")).cast("decimal(28,16)"))
        .cast("double").as("dvv"))
    val cc = cent.groupBy(col("clabel"))
      .agg(sum((col("c") * col("c")).cast("decimal(28,16)"))
        .cast("double").as("dcc"))
    val dot = dims.join(cent, "i")
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("xd") * col("c")).cast("decimal(28,16)"))
        .cast("double").as("dvc"))
    val d2 = dot.join(vv, "vec_id").join(cc, "clabel")
      .withColumn("d2", col("dvv") - lit(2.0) * col("dvc") + col("dcc"))
    val a = d2.where(col("clabel") === col("label"))
      .select(col("vec_id"), col("label"), col("d2").as("a2"))
    val b = d2.where(col("clabel") =!= col("label"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("b2"))
    a.join(b, "vec_id")
      .withColumn("s",
        when(greatest(sqrt(col("a2")), sqrt(col("b2"))) > 0,
          (sqrt(col("b2")) - sqrt(col("a2")))
            / greatest(sqrt(col("a2")), sqrt(col("b2"))))
          .otherwise(lit(0.0)))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (round((sum(col("s").cast("decimal(28,12)")).cast("double")
          / count(lit(1))) * lit(1000000)) / lit(1000000.0))
          .as("mean_silhouette"),
        sum(when(col("s") < 0, 1L).otherwise(0L)).as("n_misplaced"))
  }

  def silhouette(spark: SparkSession, sfDir: String): DataFrame =
    silhouette(Tables.embeddings(spark, sfDir))

  /** q346: deterministic triplet-margin audit of the embedding space — for
    * every anchor, positive = the next same-label vector (by vec_id) and
    * negative = the rank-matched vector of the cyclically-next label, then
    * count how often cos(a,p) − cos(a,n) falls below the margin. The
    * metric-learning health check ("do labels separate by at least m in
    * cosine?") run as a pure SQL plan: no sampling RNG — the pos/neg picks
    * are order-statistics, so the audit is reproducible run to run, and
    * its violation rate per label localizes WHICH class bleeds into its
    * neighbor (complements q103's centroid margins, which average away
    * per-anchor failures, and q43's recall, which needs a ground truth).
    *
    * Scale shape: one triplet per vector — the pos/neg fetches are plain
    * |V|-row equi-joins on vec_id (shuffle-partitioned, no pair
    * explosion), the label-rank windows partition by label, and the tiny
    * label directory broadcasts. All cosine math runs through the native
    * codegen'd decimal_dot, so the margin doubles are bit-identical to
    * the oracle's decimal-sum lambda on any partitioning.
    */
  def tripletMargin(emb: DataFrame, margin: Double = 0.05): DataFrame = {
    val x = asDoubles(emb)
    val wl = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val ranked = x
      .withColumn("r", row_number().over(wl))
      .withColumn("pos_id", lead(col("vec_id"), 1).over(wl))
    val cnt = x.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    // label directory: |labels| rows — broadcast-scale by construction
    val labs = cnt.select(col("label"))
      .withColumn("li", row_number().over(Window.orderBy(col("label"))))
    val nl = labs.agg(max(col("li")).as("nl"))
    val nx = labs.crossJoin(broadcast(nl))
      .withColumn("nli", pmod(col("li"), col("nl")) + 1)
      .join(broadcast(labs.select(col("label").as("next_label"),
        col("li").as("nli"))), "nli")
      .select(col("label"), col("next_label"))
    val tri = ranked.where(col("pos_id").isNotNull)
      .join(broadcast(nx), "label")
      .join(broadcast(cnt.select(col("label").as("next_label"), col("cnt"))),
        "next_label")
      .withColumn("nr", pmod(col("r") - 1, col("cnt")) + 1)
      .select(col("label"), col("vec_id"), col("v"), col("pos_id"),
        col("next_label"), col("nr"))
    val rankedNeg = x.withColumn("r", row_number().over(wl))
      .select(col("label").as("next_label"), col("r").as("nr"),
        col("v").as("nv"))
    val pv = x.select(col("vec_id").as("pos_id"), col("v").as("pv"))
    val sc = tri
      .join(pv, "pos_id")
      .join(rankedNeg, Seq("next_label", "nr"))
      .withColumn("na", sqrt(DecimalDot(col("v"), col("v"))))
      .withColumn("m",
        DecimalDot(col("v"), col("pv"))
          / (col("na") * sqrt(DecimalDot(col("pv"), col("pv"))))
          - DecimalDot(col("v"), col("nv"))
          / (col("na") * sqrt(DecimalDot(col("nv"), col("nv")))))
    sc.groupBy(col("label"))
      .agg(count(lit(1)).as("n_triplets"),
        sum(when(col("m") < margin, 1L).otherwise(0L)).as("n_violations"),
        sum(col("m").cast("decimal(28,16)")).cast("double").as("sm"))
      .select(col("label"), col("n_triplets"), col("n_violations"),
        (round(col("n_violations").cast("double") / col("n_triplets")
          * 1000000) / 1000000.0).as("violation_rate"),
        (round(col("sm") / col("n_triplets") * 1000000) / 1000000.0)
          .as("mean_margin"))
  }

  def tripletMargin(spark: SparkSession, sfDir: String): DataFrame =
    tripletMargin(Tables.embeddings(spark, sfDir))

  /** q358: participation ratio of the embedding covariance per label —
    * PR = tr(C)²/‖C‖²_F = (Σλ)²/Σλ², the effective LINEAR dimensionality,
    * computed without any eigendecomposition (trace and Frobenius norm
    * are pure moment sums). The anisotropy screen that complements q313's
    * TwoNN (manifold dimension) and q200's top eigenvector: a 32-dim
    * embedding with PR≈3 wastes 29 dims — matryoshka truncation (q136)
    * and PQ budgets should be set from THIS number.
    *
    * Scale shape: one per-vector d² self-join on vec_id (the inherent
    * cost of a Frobenius norm — d²·|V| products, d=dim, never |V|²),
    * then (label, i, j)-key map-combinable decimal moment sums and a
    * d²-row-per-label reduction. Covariance entries are 1e-12-snapped
    * before the trace/Frobenius sums.
    */
  def participationRatio(emb: DataFrame): DataFrame = {
    def s12(c: Column) = round(c * lit(1e12)) / lit(1e12)
    val x = asDoubles(emb)
    val dims = x.select(col("label"), col("vec_id"),
      posexplode(col("v")).as(Seq("i", "xi")))
    val mu = dims.groupBy(col("label"), col("i"))
      .agg((sum(col("xi").cast("decimal(28,16)")).cast("double")
        / count(lit(1))).as("mu"))
    val prods = dims
      .join(dims.select(col("vec_id"), col("i").as("j"), col("xi").as("xj")),
        "vec_id")
      .groupBy(col("label"), col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum((col("xi") * col("xj")).cast("decimal(28,16)"))
          .cast("double").as("sij"))
    val cov = prods
      .join(broadcast(mu), Seq("label", "i"))
      .join(broadcast(mu.select(col("label"), col("i").as("j"),
        col("mu").as("muj"))), Seq("label", "j"))
      .withColumn("c", s12(col("sij") / col("n") - col("mu") * col("muj")))
    cov.groupBy(col("label"))
      .agg(max(col("i")).as("imax"),
        sum(when(col("i") === col("j"), col("c").cast("decimal(38,12)")))
          .cast("double").as("tr"),
        sum((col("c") * col("c")).cast("decimal(38,12)"))
          .cast("double").as("frob2"))
      .select(col("label"), (col("imax") + 1).cast("int").as("d"),
        (round(col("tr") * 1000000) / 1000000.0).as("trace"),
        when(col("frob2") > 0,
          round(col("tr") * col("tr") / col("frob2") * 10000) / 10000.0)
          .as("participation_ratio"),
        when(col("frob2") > 0,
          round(col("tr") * col("tr") / col("frob2")
            / (col("imax") + 1) * 1000000) / 1000000.0).as("pr_ratio"))
  }

  def participationRatio(spark: SparkSession, sfDir: String): DataFrame =
    participationRatio(Tables.embeddings(spark, sfDir))

  /** q414: Johnson–Lindenstrauss distortion census — measure what the SRP
    * family (q74/q192) and PQ family (q377/q382) ASSUME: that a random
    * sign projection to d′ ≪ d dimensions preserves pairwise distances.
    * Each vector is projected once through a deterministic ±1 matrix
    * (Achlioptas 2003 — sign entries satisfy the JL lemma with the same
    * constants as Gaussians; signs from the md5 idiom so the oracle
    * reproduces the exact matrix), and for a hash-free deterministic pair
    * sample (lags 1/17/257 in vec_id space — three strides so the sample
    * isn't one neighborhood) the census reports E[ratio] and RMS/max
    * deviation of ‖y_a−y_b‖²/(d′·‖x_a−x_b‖²) at d′ = 8/16/32 — the table
    * that tells an engineer which projection width their recall budget
    * tolerates before they spend a cluster-day re-embedding.
    *
    * Scale: projections are one broadcast-matrix pass (n·d′ work, like
    * SRP signatures); the pair sample is 3n equi-joins on shifted ids —
    * never a pair blowup; census terms snap to decimal pre-sum.
    */
  def jlDistortion(emb: DataFrame, dim: Int = 64, dProj: Int = 32,
                   lags: Seq[Int] = Seq(1, 17, 257)): DataFrame = {
    val spark = emb.sparkSession
    val signs = spark.range(dProj).select(col("id").cast("int").as("j"))
      .crossJoin(spark.range(dim).select(col("id").cast("int").as("d")))
      .withColumn("h", md5(concat(lit("jl:"), col("j").cast("string"),
        lit(":"), col("d").cast("string"))))
      .withColumn("s",
        when(expr("(instr('0123456789abcdef', substr(h, 1, 1)) - 1) % 2")
          === 0, lit(1.0)).otherwise(lit(-1.0)))
      .groupBy(col("j"))
      .agg(expr("transform(array_sort(collect_list(struct(d, s))), t -> t.s)")
        .as("sw"))
    val x = asDoubles(emb).select(col("vec_id"), col("v"))
    val proj = x.crossJoin(broadcast(signs))
      .select(col("vec_id"), col("j"), dotExpr("v", "sw").as("y"))
    val withN = x.withColumn("n2", dotExpr("v", "v"))
    val pairs = withN
      .select(col("vec_id").as("vec_a"), col("v").as("va"), col("n2").as("n2a"),
        explode(array(lags.map(l => lit(l.toLong)): _*)).as("lag"))
      .withColumn("vec_b", col("vec_a") + col("lag"))
      .join(withN.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("n2").as("n2b")), "vec_b")
      .withColumn("dist2",
        col("n2a") + col("n2b") - lit(2.0) * dotExpr("va", "vb"))
      .where(col("dist2") > 0)
      .select(col("vec_a"), col("vec_b"), col("dist2"))
    val zero = lit(0).cast("decimal(28,12)")
    val perPair = pairs
      .join(proj.select(col("vec_id").as("vec_a"), col("j"),
        col("y").as("ya")), "vec_a")
      .join(proj.select(col("vec_id").as("vec_b"), col("j"),
        col("y").as("yb")), Seq("vec_b", "j"))
      .withColumn("dy2",
        ((col("ya") - col("yb")) * (col("ya") - col("yb")))
          .cast("decimal(28,12)"))
      .groupBy(col("vec_a"), col("vec_b"), col("dist2"))
      .agg(sum(when(col("j") < 8, col("dy2")).otherwise(zero)).as("s8"),
        sum(when(col("j") < 16, col("dy2")).otherwise(zero)).as("s16"),
        sum(col("dy2")).as("s32"))
    perPair
      .select(col("dist2"), expr(
        "stack(3, 8, s8, 16, s16, 32, s32) as (dprime, sd)"))
      .withColumn("ratio",
        col("sd").cast("double") / (col("dprime") * col("dist2")))
      .groupBy(col("dprime"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ratio").cast("decimal(28,12)")).cast("double").as("sr"),
        sum(((col("ratio") - 1.0) * (col("ratio") - 1.0))
          .cast("decimal(28,12)")).cast("double").as("se2"),
        max(abs(col("ratio") - 1.0)).as("mx"))
      .select(col("dprime"), col("n_pairs"),
        (round(col("sr") / col("n_pairs") * 1000000) / 1000000.0)
          .as("mean_ratio"),
        (round(sqrt(col("se2") / col("n_pairs")) * 1000000) / 1000000.0)
          .as("rms_err"),
        (round(col("mx") * 1000000) / 1000000.0).as("max_abs_err"))
  }

  def jlDistortion(spark: SparkSession, sfDir: String): DataFrame =
    jlDistortion(Tables.embeddings(spark, sfDir))

  /** q430: second principal component by deflation — extend q200's
    * power-iteration PC1 one step down the spectrum: project PC1 out of
    * the centered matrix (q397's scale-invariant removal x′ = x −
    * (⟨x,u⟩/⟨u,u⟩)u), run the identical power loop on the residual, and
    * report both loading vectors plus the explained-energy split
    * (PC1 share = energy removed by deflation; PC2 share = ⟨x′,u₂⟩²
    * energy over the original total). The two-component scree is the
    * minimal answer to "is this embedding space effectively
    * one-dimensional?" — the failure mode q397 measures is invisible if
    * PC2 carries almost nothing.
    *
    * Same scale posture as q200: each round is two keyed aggregations
    * with broadcast loading vectors; deflation is one corpus pass; all
    * sums decimal-snapped so both engines walk bit-identical rounds.
    */
  /** The two-component power-iteration state behind [[pcaDeflation]] /
    * [[pcaOutliers]]: centered dims, PC1 loading, PC1 projections per
    * vector, deflated dims, PC2 loading.
    *
    * Sharing: AQE exchange reuse deduplicates identical subplans WITHIN
    * one execution, but q430 and q433 are separate executions, so the
    * 12-round iterative training (the dominant cost of both) cannot be
    * shared by the optimizer. PCA training is an index BUILD — train
    * once, many consumers, the same posture as the persisted IVF/coreset
    * indexes — so the sfDir entry points route through
    * [[pcaTwoStateShared]], a session-scoped size-1 memo of the
    * checkpointed state keyed by (session, sfDir, iters): the first
    * consumer pays training, every later consumer reads the materialized
    * loadings/projections, exactly as a pipeline that persists its PCA
    * model would. The DataFrame-level API below stays memo-free (explicit
    * inputs, no identity guessing).
    */
  private case class PcaTwoState(xc: DataFrame, v1: DataFrame,
                                 a1: DataFrame, xp: DataFrame, v2: DataFrame)

  /** Drop the memoized PCA state (and its pinned localCheckpoint blocks
    * become GC-eligible). Call when the data under a previously-trained
    * sfDir changes within a session, or from long-lived sessions that
    * want the executor storage back — the memo itself assumes the
    * parquet under sfDir is IMMUTABLE for the session's lifetime, the
    * same contract as every persisted index in this library (IVF,
    * coreset, PQ codebooks): a mutated-in-place dataset serves stale
    * projections until this is called. (Routed through [[SharedState]],
    * so this clears every shared build, not only PCA.)
    */
  def pcaTwoStateClear(): Unit = SharedState.clear()

  private def pcaTwoStateShared(spark: SparkSession, sfDir: String,
                                iters: Int): PcaTwoState =
    SharedState.getOrBuild(spark, sfDir, s"pcaTwoState:$iters") {
      val t = pcaTwoState(Tables.embeddings(spark, sfDir), iters)
      PcaTwoState(t._1, t._2, t._3, t._4, t._5)
    }

  private def pcaTwoState(emb: DataFrame, iters: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val (xc, v1) = pcaState(emb, iters)
    // a (per-vector PC1 projection) and the deflated vector ride on ONE
    // checkpointed table — a1 and xp are projections of it, so the n-row
    // state materializes once instead of twice
    val vuu1 = v1.withColumn("uu", DecimalDot(col("varr"), col("varr")))
    val axp = xc.crossJoin(broadcast(vuu1))
      .withColumn("a", DecimalDot(col("xv"), col("varr")))
      .select(col("vec_id"), col("a"),
        expr("zip_with(xv, varr, (x, vi) -> x - a / uu * vi)").as("xv"))
      .transform(Materialize.state(_))
    val a1 = axp.select(col("vec_id"), col("a"))
    val xp = axp.select(col("vec_id"), col("xv"))
    // a residual orthogonal to the start vector freezes PC2 at zero, so
    // loading2/ev2 report a clean all-zero component
    val v2 = powerRounds(xp, v1, iters)
    (xc, v1, a1, xp, v2)
  }

  def pcaDeflation(emb: DataFrame, iters: Int = 6): DataFrame = {
    val t = pcaTwoState(emb, iters)
    pcaDeflationFrom(PcaTwoState(t._1, t._2, t._3, t._4, t._5))
  }

  private def pcaDeflationFrom(st: PcaTwoState): DataFrame = {
    val PcaTwoState(xc, v1, _, xp, v2) = st
    val snapE = (d: DataFrame, name: String) =>
      d.select(posexplode(col("xv")).as(Seq("i", "x")))
        .agg(sum((round(col("x") * col("x") * lit(1e10)) / lit(1e10))
          .cast("decimal(38,10)")).cast("double").as(name))
    val et = snapE(xc, "t")
    val er = snapE(xp, "r")
    val uu2 = v2.select(DecimalDot(col("varr"), col("varr")).as("uu2"))
    val a2 = xp.crossJoin(broadcast(v2))
      .select(col("vec_id"), DecimalDot(col("xv"), col("varr")).as("a"))
    val e2 = a2.crossJoin(broadcast(uu2))
      .agg(sum(when(col("uu2") > 0, col("a") * col("a") / col("uu2"))
        .otherwise(lit(0.0)).cast("decimal(38,10)"))
        .cast("double").as("e2"))
    loadingRows(v1).toDF("i", "l1").join(loadingRows(v2).toDF("i", "l2"), "i")
      .crossJoin(broadcast(et)).crossJoin(broadcast(er))
      .crossJoin(broadcast(e2))
      .select((col("i") + 1).cast("int").as("dim"),
        col("l1").as("loading1"), col("l2").as("loading2"),
        (round((col("t") - col("r")) / col("t") * lit(1e6)) / lit(1e6))
          .as("ev1_share"),
        (round(col("e2") / col("t") * lit(1e6)) / lit(1e6))
          .as("ev2_share"))
  }

  def pcaDeflation(spark: SparkSession, sfDir: String): DataFrame =
    pcaDeflationFrom(pcaTwoStateShared(spark, sfDir, 6))

  /** q432: LSH-kNN label agreement — the geometric label-noise screen:
    * classify every vector by majority vote of its top-k cosine neighbors
    * AMONG THE LSH CANDIDATES (q74's auto-geometry pairs — the sublinear
    * path, so this runs at corpus scale where the brute-force kNN of
    * q43/q303 cannot), and report per label how often geometry agrees
    * with the stored label. Low agreement for one label = that class is
    * geometrically incoherent (mislabeled, or the embedding doesn't
    * separate it) — the complement of q402's probabilistic confident-
    * learning census, answered from the index side.
    *
    * Vectors whose LSH buckets surface no ≥0.4-cosine neighbor stay
    * unscored (reported in n vs n_scored) — exactly the behavior of a
    * production candidate-limited classifier. Ties break on (count desc,
    * label asc); neighbor ranking ties on the 6-dp cosine break on
    * neighbor id, both engines identically.
    */
  def knnLabelAgreement(emb: DataFrame, k: Int = 5): DataFrame =
    knnLabelAgreementFrom(emb, srpLshAuto(emb), k)

  private def knnLabelAgreementFrom(emb: DataFrame, srpPairs: DataFrame,
                                    k: Int): DataFrame = {
    val pairs = srpPairs
      .select(col("vec_a"), col("vec_b"), col("cosine"))
    val sym = pairs
      .union(pairs.select(col("vec_b").as("vec_a"),
        col("vec_a").as("vec_b"), col("cosine")))
      .toDF("v", "o", "cosine")
    val wN = Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("o"))
    val top = sym.withColumn("rn", row_number().over(wN))
      .where(col("rn") <= k).select(col("v"), col("o"))
    val votes = top
      .join(emb.select(col("vec_id").as("o"), col("label").as("nl")), "o")
      .groupBy(col("v"), col("nl")).agg(count(lit(1)).as("c"))
    val wV = Window.partitionBy(col("v")).orderBy(col("c").desc, col("nl"))
    val pred = votes.withColumn("r", row_number().over(wV))
      .where(col("r") === 1).select(col("v"), col("nl").as("pred"))
    emb.select(col("vec_id").as("v"), col("label"))
      .join(pred, Seq("v"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred").isNotNull, 1L).otherwise(0L)).as("n_scored"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_scored"), col("n_correct"),
        (round(when(col("n_scored") > 0,
          col("n_correct").cast("double") / col("n_scored").cast("double"))
          * 1000000) / 1000000.0).as("acc"))
  }

  def knnLabelAgreement(spark: SparkSession, sfDir: String): DataFrame =
    knnLabelAgreementFrom(Tables.embeddings(spark, sfDir),
      srpPairsFor(spark, sfDir), 5)

  /** q433: two-component PCA outlier scores — the Mahalanobis-style
    * multivariate screen over the q430 subspace: every vector's (PC1,
    * PC2) projections standardized by their component variances and
    * summed, score = a₁²/s₁² + a₂²/s₂² (the χ²(2) statistic under
    * Gaussianity), top outliers reported. This catches what q122's
    * per-norm screen can't: a vector whose norm is ordinary but which
    * sits far off the data's principal plane in a SPECIFIC direction.
    *
    * One corpus pass per projection (both already computed by the
    * deflation state), variances from exact-snapped sums, distributed
    * TakeOrdered for the final top-k — no per-pair work anywhere.
    */
  def pcaOutliers(emb: DataFrame, iters: Int = 6, topK: Int = 10)
      : DataFrame = {
    val t = pcaTwoState(emb, iters)
    pcaOutliersFrom(PcaTwoState(t._1, t._2, t._3, t._4, t._5), topK, emb)
  }

  private def pcaOutliersFrom(st: PcaTwoState, topK: Int,
                              emb: DataFrame): DataFrame = {
    val PcaTwoState(_, _, a1, xp, v2) = st
    val a2 = xp.crossJoin(broadcast(v2))
      .select(col("vec_id"), DecimalDot(col("xv"), col("varr")).as("a2"))
    val s1 = a1.agg((sum((col("a") * col("a")).cast("decimal(38,10)"))
      .cast("double") / count(lit(1))).as("s1sq"))
    val s2 = a2.agg((sum((col("a2") * col("a2")).cast("decimal(38,10)"))
      .cast("double") / count(lit(1))).as("s2sq"))
    val w = Window.orderBy(col("score").desc, col("vec_id"))
    a1.join(a2, "vec_id")
      .crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .withColumn("score",
        when(col("s1sq") > 0, col("a") * col("a") / col("s1sq"))
          .otherwise(lit(0.0))
        + when(col("s2sq") > 0, col("a2") * col("a2") / col("s2sq"))
          .otherwise(lit(0.0)))
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .orderBy(col("score").desc, col("vec_id")).limit(topK)
      .withColumn("rnk", row_number().over(w))
      .select(col("rnk"), col("vec_id"), col("label"),
        (round(col("score") * 10000) / 10000.0).as("score"))
  }

  def pcaOutliers(spark: SparkSession, sfDir: String): DataFrame =
    pcaOutliersFrom(pcaTwoStateShared(spark, sfDir, 6), 10,
      Tables.embeddings(spark, sfDir))

  /** q440: graph-ANN beam-search recall audit — the graph rung of the ANN
    * ladder (IVF q390/q391, PQ q377/q393, LSH q74/q76 are covered; modern
    * serving is graph-walk: HNSW/NSG). A faithful HNSW build is inherently
    * sequential (each insert greedy-searches the graph so far), so the
    * distributed idiom is the two halves that ARE data-parallel:
    *
    *  1. **Degree-bounded neighbor graph**: q74's SRP-LSH candidates
    *     (never all-pairs), symmetrized, each vertex keeping its `degree`
    *     best neighbors by exact cosine — the NN-descent-style base graph
    *     every distributed graph-ANN build starts from (one window over
    *     the candidate table; candidate generation is the LSH equi-join).
    *  2. **Fixed-round beam search**: from `nEntries` hub entry points
    *     (highest degree — the well-connected vertices a real router
    *     picks), `rounds` synchronized frontier expansions, each keeping
    *     the `beam` best visited vertices per probe — bounded frontier
    *     joins exactly like q255's BFS, every round touching
    *     O(probes·beam·degree) rows.
    *
    * The audit: recall@k of the beam result vs exact brute-force truth per
    * probe. The probe-corpus cosine table is computed ONCE (localCheckpoint)
    * and shared by the truth ranking and every beam round's scoring — the
    * brute-force side exists only because this is a recall AUDIT over
    * `nProbes` probes, same posture as q391. Search-side work is equi-joins
    * against the `degree`-bounded adjacency — at 100 TB the graph is
    * n·degree rows, the walk is beam·degree lookups per probe per round,
    * and nothing ever goes quadratic.
    *
    * Cosines snap to 6 dp (the q74 idiom) with ties broken on candidate id,
    * so frontier/beam membership is bit-identical cross-engine.
    */
  /** The shared graph-ANN audit state: probe-corpus exact cosines (pc),
    * exact top-k truth, degree-bounded adjacency, hub entry points —
    * built once and consumed by q440's audit and q441's beam sweep.
    */
  private def graphAnnState(emb: DataFrame, nProbes: Int, k: Int,
                            degree: Int, nEntries: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // zero-norm guard: a 0-vector's cosine is 0/0 — NaN in Spark (ranks
    // FIRST under ORDER BY cos DESC) but NULL in the DuckDB oracle
    // (filtered / sorts last), so truth, adjacency and beam rankings
    // would diverge cross-engine; both engines drop nrm = 0 vectors
    val all = asDoubles(emb).withColumn("nrm", normCol("v"))
      .where(col("nrm") > 0)
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val pc = all
      .select(col("vec_id").as("cand"), col("v").as("cv"), col("nrm").as("cn"))
      .crossJoin(broadcast(probes))
      .select(col("probe_id"), col("cand"),
        round(dotExpr("pv", "cv") / (col("pn") * col("cn")), 6).as("cos"))
      .transform(Materialize.state(_))
    val wP = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand"))
    val truth = pc.where(col("cand") =!= col("probe_id"))
      .withColumn("rn", row_number().over(wP))
      .where(col("rn") <= k).select(col("probe_id"), col("cand"))
    // graph edges keep EVERY LSH candidate (minCos = −1): the 0.4 floor is
    // a near-dup notion — a navigable graph wants the best `degree` links
    // per vertex whatever their absolute cosine, or sparse regions
    // disconnect and the walk starves
    val prs = srpLshAuto(emb, minCos = -1.0)
    val sym = prs.select(col("vec_a").as("v"), col("vec_b").as("o"),
        col("cosine"))
      .union(prs.select(col("vec_b").as("v"), col("vec_a").as("o"),
        col("cosine")))
    val adj = sym.withColumn("rn", row_number().over(
        Window.partitionBy(col("v")).orderBy(col("cosine").desc, col("o"))))
      .where(col("rn") <= degree).select(col("v"), col("o"))
      .transform(Materialize.state(_))
    val entries = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("v")).limit(nEntries)
      .select(col("v").as("cand"))
    (pc, truth, adj, entries)
  }

  /** Per-probe (n_visited, n_hit) of one fixed-round beam walk over the
    * shared state at the given beam width.
    */
  private def beamWalk(pc: DataFrame, truth: DataFrame, adj: DataFrame,
                       entries: DataFrame, k: Int, beam: Int,
                       rounds: Int): DataFrame = {
    val wP = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand"))
    val start = pc.join(broadcast(entries), "cand")
      .select(col("probe_id"), col("cand"), col("cos"))
    val visited = Rounds.fixed(rounds, start) { (visited, _) =>
      val frontier = visited.withColumn("rn", row_number().over(wP))
        .where(col("rn") <= beam)
        .select(col("probe_id"), col("cand").as("v"))
      // no distinct on the fanned-out neighbours: the visited-set groupBy
      // below collapses duplicates to the same max(cos) anyway, so the
      // dedup exchange per round is pure overhead (value-identical)
      val nbrs = frontier.join(adj, "v")
        .select(col("probe_id"), col("o").as("cand"))
      val scored = nbrs.join(pc, Seq("probe_id", "cand"))
      visited.union(scored)
        .groupBy(col("probe_id"), col("cand")).agg(max(col("cos")).as("cos"))
    }
    val beamTop = visited.where(col("cand") =!= col("probe_id"))
      .withColumn("rn", row_number().over(wP))
      .where(col("rn") <= k)
    val nv = visited.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("n_visited"))
    beamTop
      .join(truth.withColumn("hit", lit(1L)), Seq("probe_id", "cand"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .join(nv, "probe_id")
  }

  /** Session-scoped memo of the shared audit state, keyed by
    * (session, sfDir, params): q440 and q441 run back-to-back in Verify
    * and in every bench pass, and the state build (probe cosines + SRP-LSH
    * adjacency, both localCheckpointed) is their dominant shared cost —
    * building it once per session serves both audits from the same pinned
    * blocks. Safe because a dataset path is immutable within one JVM
    * (the fuzz harness rewrites seed dirs only BEFORE launching its
    * per-seed Verify JVM), and entries are dropped when their session is
    * stopped or replaced.
    */
  private def graphAnnStateFor(spark: SparkSession, sfDir: String,
                               nProbes: Int, k: Int, degree: Int,
                               nEntries: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    SharedState.getOrBuild(spark, sfDir,
      s"graphAnn:$nProbes:$k:$degree:$nEntries") {
      graphAnnState(Tables.embeddings(spark, sfDir),
        nProbes, k, degree, nEntries)
    }

  def graphAnnRecall(emb: DataFrame, nProbes: Int = 10, k: Int = 5,
                     degree: Int = 8, beam: Int = 8, rounds: Int = 3,
                     nEntries: Int = 4): DataFrame = {
    val (pc, truth, adj, entries) =
      graphAnnState(emb, nProbes, k, degree, nEntries)
    beamWalk(pc, truth, adj, entries, k, beam, rounds)
      .select(col("probe_id"), col("n_visited"), col("n_hit"),
        (round(col("n_hit").cast("double") / lit(k) * 1000000)
          / 1000000.0).as("recall"))
  }

  /** q441: beam-width sweep over ONE graph build (the q300/q434/q438
    * sweep-from-one-build discipline applied to q440): the state —
    * probe cosines, truth, adjacency, entries — is built once, and only
    * the walk re-runs at beam ∈ {4, 8, 16}. The resulting recall-vs-beam
    * curve with the visited-set size beside it is THE serving knob table
    * for a graph index: where the curve flattens is the beam a deployment
    * buys nothing past, and n_visited is what each increment costs
    * (visited ≈ entries + rounds·beam·degree — the per-probe compute
    * budget). Note recall is NOT formally monotone in beam under FIXED
    * rounds — a wider frontier can steer the walk toward a different
    * region and fixed rounds cut it off mid-detour — and after round one
    * even the visited sets are not formally nested; what the sweep
    * reports is the empirical curve, which is the deployment's actual
    * decision input.
    */
  def graphAnnBeamSweep(emb: DataFrame, nProbes: Int = 10, k: Int = 5,
                        degree: Int = 8, beams: Seq[Int] = Seq(4, 8, 16),
                        rounds: Int = 3, nEntries: Int = 4): DataFrame = {
    val (pc, truth, adj, entries) =
      graphAnnState(emb, nProbes, k, degree, nEntries)
    beams.map { b =>
      beamWalk(pc, truth, adj, entries, k, b, rounds)
        .agg(count(lit(1)).as("n_probes"),
          (round(sum(col("n_hit")).cast("double")
            / (count(lit(1)) * k).cast("double") * 1000000)
            / 1000000.0).as("mean_recall"),
          (round(sum(col("n_visited")).cast("double")
            / count(lit(1)).cast("double") * 10000) / 10000.0)
            .as("mean_visited"))
        .select(lit(b).as("beam"), col("n_probes"), col("mean_recall"),
          col("mean_visited"))
    }.reduce(_.unionAll(_))
  }

  /** q444: 1-bit (sign) embedding quantization recall — the fourth rung
    * of the suite's compression-accuracy ladder (int8 q65, PQ q377, JL
    * q414): each vector compresses to its 64 sign bits packed in ONE
    * BIGINT, candidate ranking is Hamming distance (bit_count of XOR,
    * ties on candidate id), audited as recall@k against the exact-cosine
    * truth. This is the binary-embedding deployment a 100 TB corpus
    * ships first — 8 bytes per vector, distance one XOR+popcount inside
    * whole-stage codegen, and the entire "index" fits where 1% of the
    * floats would. 63 sign bits, not 64: DuckDB's checked left-shift
    * cannot form a BIGINT's sign bit (1 << 63 overflows loudly) while
    * Spark wraps silently — dropping one dimension keeps the two
    * engines on the identical signature and costs the audit nothing.
    * Zero-norm vectors are dropped from both sides (the q440 guard:
    * their cosine is undefined).
    */
  def binaryEmbedRecall(emb: DataFrame, nProbes: Int = 10, k: Int = 5): DataFrame = {
    val e = asDoubles(emb).select(col("vec_id"), col("v"))
    val all = e.withColumn("nrm", normCol("v")).where(col("nrm") > 0)
    val sigs = all.select(col("vec_id"),
      posexplode(col("v")).as(Seq("i", "xd")))
      .where(col("i") < 63)
      .groupBy(col("vec_id"))
      .agg(sum(when(col("xd") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(0L)).as("sig"))
    val probes = all.where(col("vec_id") < nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pn"))
    val wT = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val truth = all.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        col("nrm").as("cn"))
      .crossJoin(broadcast(probes))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos", dotExpr("pv", "cv") / (col("pn") * col("cn")))
      .withColumn("rnk", row_number().over(wT))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"))
    val psig = sigs.join(broadcast(probes.select(col("probe_id"))),
        sigs("vec_id") === col("probe_id"))
      .select(col("probe_id"), col("sig").as("psig"))
    val wH = Window.partitionBy(col("probe_id"))
      .orderBy(col("hd"), col("neighbor_id"))
    val approx = sigs.select(col("vec_id").as("neighbor_id"), col("sig"))
      .crossJoin(broadcast(psig))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("hd", expr("bit_count(sig ^ psig)"))
      .withColumn("rnk", row_number().over(wH))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"))
    // truth/approx are nProbes·k rows BY CONSTRUCTION — broadcast them so
    // the audit tail never sort-merges two 50-row tables
    val hits = truth.join(broadcast(approx), Seq("probe_id", "neighbor_id"),
        "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    truth.groupBy(col("probe_id")).agg(count(lit(1)).as("n_true"))
      .join(broadcast(hits), Seq("probe_id"), "left_outer")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_true"),
        (round(coalesce(col("n_hits"), lit(0L)).cast("double")
          / col("n_true") * 10000) / 10000).as("recall"))
  }

  def binaryEmbedRecall(spark: SparkSession, sfDir: String): DataFrame =
    binaryEmbedRecall(Tables.embeddings(spark, sfDir))

  /** One beam walk per (session, sfDir, beam) at the default geometry —
    * q440's audit IS q441's beam-8 sweep point (same state, same rounds),
    * so the walk's tiny per-probe (n_visited, n_hit) table is built once
    * per pass and both consumers read it (guide §2.4).
    */
  private def beamWalkFor(spark: SparkSession, sfDir: String,
                          beam: Int): DataFrame =
    SharedState.getOrBuild(spark, sfDir, s"graphAnnWalk:10:5:8:4:$beam:3") {
      val (pc, truth, adj, entries) = graphAnnStateFor(spark, sfDir, 10, 5, 8, 4)
      Materialize.state(beamWalk(pc, truth, adj, entries, 5, beam, 3))
    }

  def graphAnnBeamSweep(spark: SparkSession, sfDir: String): DataFrame = {
    Seq(4, 8, 16).map { b =>
      beamWalkFor(spark, sfDir, b)
        .agg(count(lit(1)).as("n_probes"),
          (round(sum(col("n_hit")).cast("double")
            / (count(lit(1)) * 5).cast("double") * 1000000)
            / 1000000.0).as("mean_recall"),
          (round(sum(col("n_visited")).cast("double")
            / count(lit(1)).cast("double") * 10000) / 10000.0)
            .as("mean_visited"))
        .select(lit(b).as("beam"), col("n_probes"), col("mean_recall"),
          col("mean_visited"))
    }.reduce(_.unionAll(_))
  }

  def graphAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    beamWalkFor(spark, sfDir, 8)
      .select(col("probe_id"), col("n_visited"), col("n_hit"),
        (round(col("n_hit").cast("double") / lit(5) * 1000000)
          / 1000000.0).as("recall"))
  }
}

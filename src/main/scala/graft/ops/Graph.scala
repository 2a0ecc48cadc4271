package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed connected components — the last stage of a dedup pipeline:
  * near-dup PAIRS (from LSH / SimHash banding / prefix-filtered Jaccard)
  * become duplicate CLUSTERS, each with a canonical representative, so a
  * keep-one-per-cluster filter can actually drop rows.
  *
  * Two algorithms, same (id, comp=min id of component) contract:
  *
  *  - [[connectedComponents]] — large-star/small-star contraction
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC 2014). Converges in O(log n) rounds on ANY topology, long
  *    paths included, because each round re-points edges at the running
  *    component minimum instead of walking labels one hop at a time.
  *    This is the default: an adversarial corpus (template drift chaining
  *    thousands of docs into one long near-dup path) terminates just as
  *    fast as a clique.
  *  - [[minLabelComponents]] — one-hop min-label propagation. Round count
  *    = graph diameter, so it is only for graphs KNOWN to be shallow
  *    (band-collision dup clusters are near-cliques, diameter 2-4); it
  *    does less work per round (one join, no re-pointing) when that
  *    assumption holds, and fails loudly when it doesn't.
  */
object Graph {

  /** Star-contraction connected components.
    *
    * Each round applies large-star then small-star to a canonical
    * (u > v, distinct) edge list:
    *
    *  - large-star: every vertex u computes m = min(Γ(u) ∪ u) and
    *    re-points its STRICTLY LARGER neighbours at m — hubs hand their
    *    big neighbours straight to the minimum, halving long chains.
    *  - small-star: every vertex u (over its smaller neighbours Γ⁻) emits
    *    (v, m) for v ∈ Γ⁻(u) and (u, m) with m = min(Γ⁻(u) ∪ u) —
    *    flattening local trees into stars.
    *
    * The fixpoint is a forest of stars centred at each component's min
    * vertex, so labels read straight off the final edge list. Convergence
    * is detected with ONE action per round: the symmetric difference of
    * consecutive edge sets (union + groupBy + count==1, limit 1) — both
    * sets are distinct, so a count-1 group is a changed edge. Each round
    * localCheckpoints to truncate lineage; every shuffle is keyed on a
    * vertex id, never a cross product, and per-round volume never exceeds
    * 2|E| rows, so the O(log n) bound holds at any scale.
    *
    * @param edges two BIGINT columns (src, dst), undirected semantics —
    *              each row needs to appear in one direction only.
    * @return (id, comp) — comp is the min vertex id of the component.
    */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val verts = raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct()
    val e0 = raw.where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().transform(Materialize.state(_))

    val stars = if (e0.isEmpty) e0 else Rounds.untilConverged(maxIters, e0) { e =>
      // large-star over the symmetrized adjacency
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mLarge = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = sym.join(mLarge, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the big→small directed output (u > v holds by
      // construction: large emits (v, m) with v > u ≥ m)
      val mSmall = large.groupBy("u").agg(min("v").as("m"))
      large.join(mSmall, "u")
        .select(explode(array(
          struct(col("v").as("a"), col("m").as("b")),
          struct(col("u").as("a"), col("m").as("b")))).as("p"))
        .select(col("p.a").as("u"), col("p.b").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    } { (prev, next) =>
      // exact set-equality check: both sides are distinct, so any (u,v)
      // appearing once in the concatenation is in exactly one of the two
      next.union(prev).groupBy("u", "v").count()
        .where(col("count") === 1).limit(1).isEmpty
    }.getOrElse(Rounds.notConverged("connectedComponents", maxIters,
      "star contraction needs O(log n) rounds; raise maxIters"))
    verts
      .join(stars.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
  }

  /** Min-label propagation components — every vertex starts labelled with
    * its own id and each round takes the min of its neighbours' labels;
    * at fixpoint every vertex carries its component's min id. Round count
    * is the graph DIAMETER — use only where that is known-small (dup
    * clusters from band collisions are near-cliques, diameter 2-4); the
    * general-topology default is [[connectedComponents]].
    *
    * Scale posture: labels only ever decrease, so sum(label) over all
    * vertices is strictly monotone decreasing until fixpoint — convergence
    * is detected with a single cheap aggregate per round (decimal(38,0):
    * no overflow at any vertex-id scale), not a change-count self-join.
    * Each round's result is pinned to truncate lineage,
    * keeping the plan O(1) deep regardless of round count.
    *
    * @param edges two BIGINT columns (src, dst), undirected semantics —
    *              each row needs to appear in one direction only.
    * @return (id, comp) — comp is the min vertex id of the component.
    */
  def minLabelComponents(edges: DataFrame, maxIters: Int = 50): DataFrame =
    // A silent non-converged return would hand callers WRONG (split)
    // components; duplicate-cluster graphs converge in a handful of rounds,
    // so hitting the cap means the edge input isn't the near-clique shape
    // this propagation is designed for — fail loudly (callers wanting
    // topology-independence should be on connectedComponents instead).
    minLabelCore(edges, maxIters).getOrElse(Rounds.notConverged(
      "minLabelComponents", maxIters, "labels were still changing; raise " +
        "maxIters or use connectedComponents (star contraction) for " +
        "long-path graphs"))

  /** Auto-selecting components — the dispatch the two algorithms above
    * document: min-label propagation does less work per round (one join,
    * no edge re-pointing) but needs diameter-many rounds, which on the
    * near-clique graphs band-collision dedup produces (diameter 2-4)
    * makes it the cheaper path; star contraction is the only safe choice
    * on unknown topology. So: TRY min-label for `trialRounds` (a few
    * cheap rounds, ~diameter+1 actions); the moment it converges, done —
    * and if the graph turns out deeper than any plausible dup-cluster
    * shape, fall back to star contraction and pay its re-pointing cost
    * only then. The trial is bounded waste (trialRounds cheap rounds) on
    * the rare deep graph; on the common shallow graph it saves star
    * contraction's per-round symmetrize + two-phase re-point entirely.
    */
  def componentsAuto(edges: DataFrame, trialRounds: Int = 8,
                     maxIters: Int = 50): DataFrame = {
    // Pin the edge input ONCE. The trial and the star-contraction fallback
    // each consume `edges`; left lazy, the fallback re-executes the whole
    // upstream edge-producing pipeline a SECOND time (for LSH input the
    // full signature→band→bucket DAG — measured at the sf1 rehearsal as
    // q76 paying its 17 s candidate build twice). The converged path does
    // the same total work as before: one upstream evaluation, now into the
    // pinned frame instead of straight into the adjacency build.
    val pinned = Materialize.state(edges)
    minLabelCore(pinned, trialRounds)
      .getOrElse(connectedComponents(pinned, maxIters))
  }

  private def minLabelCore(edges: DataFrame, maxIters: Int): Option[DataFrame] = {
    val Array(srcCol, dstCol) = edges.columns
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // materialize the adjacency ONCE — without this every propagation round
    // would re-execute the whole upstream edge-producing pipeline (for LSH
    // input that's the full shingle->minhash->band DAG per round)
    val adj = e.union(e.select(col("v"), col("u"))).distinct().transform(Materialize.state(_))

    val labels = adj.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id"))
      .transform(Materialize.state(_))
    Rounds.untilConverged(maxIters, labels) { labels =>
      val nbrMin = adj
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"))
        .agg(min("comp").as("nbr_comp"))
      labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
    }(sumUnchanged(labels, "comp"))
  }

  /** Convergence test for monotone integer state: the values only ever
    * decrease, so sum(value) is strictly decreasing until the fixpoint and
    * one scalar aggregate per round detects it (decimal(38,0): no overflow
    * at any id scale). The previous round's sum is remembered, not
    * recomputed, so each round costs one aggregate job.
    */
  private def sumUnchanged(init: DataFrame,
                           c: String): (DataFrame, DataFrame) => Boolean = {
    def total(df: DataFrame) =
      Option(df.agg(sum(col(c).cast("decimal(38,0)"))).head().getDecimal(0))
        .map(BigDecimal(_))
    var last = total(init)
    (_, next) => {
      val s = total(next)
      val same = s == last
      last = s
      same
    }
  }

  /** Distributed PageRank by power iteration — importance scoring over a
    * directed entity graph (source-citation webs, customer→supplier flow,
    * doc-link graphs for crawl-frontier prioritisation).
    *
    * Each round is one shuffle: ranks join the edge list on the source,
    * every edge carries rank/out_degree to its destination, and a groupBy
    * on the destination sums the inflow. Dangling vertices (no out-edges)
    * can't be dropped — their mass leaks and ranks stop summing to 1 — so
    * their total rank is redistributed through the teleport. Convergence
    * is the L1 delta between successive rank vectors (one scalar action
    * per round, the connectedComponents idiom); non-convergence fails
    * loudly. Setup and round are [[pageRankSetup]]'s, shared with the
    * fixed-round and personalized variants.
    *
    * @param edges two BIGINT columns (src, dst), DIRECTED; parallel
    *              duplicate edges are collapsed.
    * @return (id, rank) — ranks sum to 1 over all vertices.
    */
  def pageRank(edges: DataFrame, damping: Double = 0.85, tol: Double = 1e-6,
               maxIters: Int = 120): DataFrame = {
    // error contracts by ~damping per round, so the defaults (0.85, 1e-6)
    // need ~log(tol)/log(damping) ≈ 85 rounds — size maxIters accordingly
    // when tightening tol
    val (init, round) = pageRankSetup(edges, None, damping)
    Rounds.untilConverged(maxIters, init)(round) { (prev, next) =>
      next.join(prev.select(col("id"), col("rank").as("prev")), "id")
        .agg(sum(abs(col("rank") - col("prev")))).head().getDouble(0) < tol
    }.getOrElse(Rounds.notConverged("pageRank", maxIters,
        s"L1 delta ≥ $tol; raise maxIters or loosen tol"))
      .select(col("id"), col("rank"))
  }

  /** Fixed-round PageRank — same power iteration as [[pageRank]] but an
    * exact, pre-agreed number of rounds and no convergence aggregate (one
    * fewer action per round). This is the ORACLE-CHECKABLE variant: a
    * fixed round count unrolls to plain SQL (one CTE per round), so the
    * result is comparable bit-for-bit against an independent engine,
    * which a "loop until |Δ| < tol" contract never is.
    */
  def pageRankFixed(edges: DataFrame, damping: Double, iters: Int): DataFrame = {
    val (init, round) = pageRankSetup(edges, None, damping)
    Rounds.fixed(iters, init)((ranks, _) => round(ranks))
      .select(col("id"), col("rank"))
  }

  /** Fixed-round PERSONALIZED PageRank (random walk with restart): the
    * teleport — both the (1−d) restart and the dangling mass — returns to
    * the SEED set only, so rank measures proximity to the seeds instead
    * of global importance. Same rounds as [[pageRankFixed]] with one
    * extra setup-time flag join to mark seeds.
    *
    * @param seeds one BIGINT column of seed vertex ids (must exist in the
    *              graph; duplicates ignored).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           damping: Double, iters: Int): DataFrame = {
    val (init, round) = pageRankSetup(edges, Some(seeds), damping)
    Rounds.fixed(iters, init)((ranks, _) => round(ranks))
      .select(col("id"), col("rank"))
  }

  /** The one PageRank setup and round behind [[pageRank]],
    * [[pageRankFixed]] and [[personalizedPageRank]]: returns the pinned
    * initial state and the round body.
    *
    * The static sides are hash-partitioned ON THE PER-ROUND JOIN KEY at
    * the session width and pinned by [[Materialize.state]], which keeps
    * that partitioning (a bare repartition(key) is coalesced, which no
    * pin keeps),
    * so a round joins the edge list and the degree table without
    * re-exchanging them. The rank state CARRIES deg (and the seed flag),
    * so a round needs no state⋈degs join. Against plain pins of bare
    * repartitions this cut q142 from 89 to 76 jobs a pass and q166 from 73
    * to 62, with wall time unchanged. (An older measurement read explicit
    * widths on e/degs/inflow 1.2× WORSE on the q142/q160/q166 trio; it
    * was taken while every pin dropped its partitioning, so the explicit
    * widths only added exchanges.)
    *
    * Teleport: without seeds, every vertex gets (1−d)/n + d·dang/n; with
    * seeds, each seed gets (1−d)/|S| + d·dang/|S| and every other vertex
    * 0 — the uniform case carries no seed column and makes no seed join.
    * The dangling total is an aggregate of the PREVIOUS round's pinned
    * state, read straight off those blocks as a broadcast one-row
    * aggregate (one tiny job, no driver `.head()`) instead of riding a
    * NULL-sentinel union through the inflow exchange, whose broadcast side
    * re-planned the whole join+union+groupBy subtree every round (~12
    * jobs/round profiled).
    *
    * Evaluation order of the update — teleport + d·inflow, with the
    * teleport's own terms in the order above, doubles throughout — is the
    * contract the unrolled SQL oracles replicate; don't reassociate it.
    * Determinism note: the inflow/dangling sums accumulate raw doubles in
    * partition-dependent order, so they are NOT bit-identical across runs
    * — unlike the decimal-snapped aggregates elsewhere in the repo. The
    * oracle still hash-matches by margin, not by construction: per-round
    * reassociation error is bounded by n·ε·Σ|x| ≈ 1e-12 on unit mass,
    * damped by 0.85 per round, while q142 reports ppm rounded to 1e-2 —
    * ten orders of magnitude of slack.
    */
  private def pageRankSetup(edges: DataFrame, seeds: Option[DataFrame],
                            damping: Double): (DataFrame, DataFrame => DataFrame) = {
    val Array(srcCol, dstCol) = edges.columns
    val e = Materialize.state(Relational.spread(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v")).distinct(), col("u")))
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
    val outDeg = e.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    // (id, deg[, seed]) for every vertex; deg NULL ⇔ dangling
    val withDeg = verts.join(outDeg, Seq("id"), "left")
    val (degs, start, teleport) = seeds match {
      case None =>
        val degs = Materialize.state(Relational.spread(withDeg, col("id")))
        val n = degs.count()
        (degs, lit(1.0 / n),
          lit((1.0 - damping) / n) + lit(damping) * col("dang") / lit(n))
      case Some(s) =>
        val sd = s.select(col(s.columns.head).as("id")).distinct()
          .transform(Materialize.state(_))
        val nS = sd.count()
        require(nS > 0, "personalizedPageRank needs a non-empty seed set")
        val degs = Materialize.state(Relational.spread(withDeg
          .join(sd.withColumn("seed", lit(true)), Seq("id"), "left")
          .withColumn("seed", coalesce(col("seed"), lit(false))), col("id")))
        (degs, when(col("seed"), lit(1.0 / nS)).otherwise(lit(0.0)),
          when(col("seed"),
            lit((1.0 - damping) / nS) + lit(damping) * col("dang") / lit(nS))
            .otherwise(lit(0.0)))
    }
    val static = degs.columns.toSeq.map(col)
    val round = (ranks: DataFrame) => {
      val dangling = ranks.where(col("deg").isNull)
        .agg(coalesce(sum("rank"), lit(0.0)).as("dang"))
      val inflow = ranks.where(col("deg").isNotNull)
        .join(e.withColumnRenamed("u", "id"), "id")
        .select(col("v").as("id"), (col("rank") / col("deg")).as("w"))
        .groupBy("id").agg(sum("w").as("inflow"))
      degs.join(inflow, Seq("id"), "left")
        .crossJoin(broadcast(dangling))
        .select(static :+ (teleport
          + lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"): _*)
    }
    (Materialize.state(degs.select(static :+ start.as("rank"): _*)), round)
  }

  /** q166: suppliers closest to the top customers — personalized PageRank
    * over the q142 bipartite purchase graph, seeded at the five customers
    * with the most orders (ties to the smaller custkey — deterministic).
    * Where q142 ranks global supplier importance, this ranks affinity TO A
    * COHORT: the restart pins the walk near the seed customers, so a
    * supplier scores by how much of the cohort's purchase flow reaches it.
    * Top-25 by ppm-rounded rank, supplier keys decoded from the negated
    * vertex ids.
    */
  def supplierAffinity(spark: SparkSession, sfDir: String,
                       nSeeds: Int = 5, topK: Int = 25): DataFrame = {
    val edges = custSuppPairsFor(spark, sfDir)
      .select(col("src"), (-col("dst")).as("dst"))
    val seeds = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").cast("bigint").as("id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("id")).limit(nSeeds).select("id")
    personalizedPageRank(edges, seeds, damping = 0.85, iters = 8)
      .where(col("id") < 0)
      .select((-col("id")).as("s_suppkey"),
        (round(col("rank") * lit(1e8)) / lit(100.0)).as("rank_ppm"))
      .orderBy(col("rank_ppm").desc, col("s_suppkey"))
      .limit(topK)
  }

  /** Distributed triangle counting via degree-ordered edge orientation —
    * the standard cohesion/quality metric for near-dup graphs (a dup
    * cluster whose edges close into triangles is a genuine clique; a hub
    * whose edges don't is a false-positive star).
    *
    * All-pairs wedge enumeration on a raw adjacency explodes on hubs: a
    * degree-m vertex contributes m²/2 wedges. Orienting every edge from
    * its lower-(degree, id) endpoint to the higher one makes each triangle
    * countable exactly once AND bounds any vertex's out-degree by
    * O(sqrt(m)) — a hub's edges all point INTO it, so it generates no
    * wedges. The count is then two equi-joins: oriented wedges
    * (a→b, a→c) semi-joined against the oriented edge (b→c).
    *
    * @param edges two BIGINT columns, undirected semantics; self-loops and
    *              duplicate/reversed rows are collapsed.
    * @return (id, triangles) — per-vertex triangle membership counts;
    *         vertices in no triangle are omitted.
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    // canonical undirected edge (min, max) — kills duplicates + reversals
    val und = raw.select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v")).distinct()
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) → high-(deg, id)
    val oriented = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    // wedges a→b, a→c (both leg orders kept): the closing edge b→c exists in
    // exactly ONE orientation, so the semi-join keeps each triangle once —
    // at its lowest-(deg, id) apex, with legs in orientation order
    val w1 = oriented
    val w2 = oriented.select(col("a"), col("b").as("c"))
    val triangles = w1.join(w2, "a").where(col("b") =!= col("c"))
      .join(oriented.select(col("a").as("b"), col("b").as("c")),
        Seq("b", "c"), "leftsemi")
    // a wedge (a,b,c) that closes is one triangle touching all three
    triangles.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** q142: supplier importance over the customer→supplier purchase graph.
    * Edges are distinct (customer, supplier) pairs from orders⋈lineitem;
    * supplier vertices are keyed by the NEGATED suppkey — TPC-H keys are
    * strictly positive at every scale factor, so negation keeps the two
    * key spaces disjoint without a magic additive offset (custkey crosses
    * any fixed offset around sf≈7). Ten fixed PageRank rounds (the oracle
    * unrolls the same ten in SQL); every supplier is dangling — all their
    * mass redistributes — so this exercises the dangling path on real
    * data. Ranks are reported in ppm.
    */
  def supplierPageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = custSuppPairsFor(spark, sfDir)
      .select(col("src"), (-col("dst")).as("dst"))
    pageRankFixed(edges, damping = 0.85, iters = 10)
      .select(col("id"),
        (round(col("rank") * lit(1e8)) / lit(100.0)).as("rank_ppm"))
  }

  /** q143: cohesion of the part co-purchase graph. An edge is a pair of
    * parts bought together in ≥2 distinct orders (the support threshold
    * keeps the graph at affinity pairs instead of the near-complete
    * one-off co-occurrence hairball); per-part triangle counts measure
    * how clique-like each part's affinity neighbourhood is. The per-order
    * self-join fans out at most items-per-order² — bounded, skew-free.
    */
  def copurchaseTriangles(spark: SparkSession, sfDir: String): DataFrame =
    triangleCount(copurchaseEdges(spark, sfDir))

  /** q396: k-truss peel census — the EDGE-cohesion member of the density
    * family (q146's k-core peels on vertex degree; the truss peels on
    * per-edge triangle support, the strictly stronger condition: every
    * surviving edge must close ≥ k−2 triangles WITHIN the survivor set).
    * Fixed peel rounds (the q259/q157 determinism convention — a fixed
    * round count with integer state is exactly replayable in the unrolled
    * oracle; n_dropped = 0 marks convergence): each round enumerates
    * triangles once on the canonical u<v edge set (one ordered 3-way
    * self-join, every triangle found exactly once), fans each triangle to
    * its 3 edges, aggregates support, and keeps edges at the threshold.
    * Output per round: pre-peel triangle count, edges dropped, edges
    * remaining — all integers, cross-engine parity for free.
    *
    * Scale: triangle enumeration is the q143 join (bounded by per-order
    * fan-out on this graph); rounds after the first run on the shrinking
    * survivor set. State between rounds is just the edge list,
    * checkpointed so lineage stays flat.
    */
  def ktrussPeel(edges: DataFrame, k: Int = 4, rounds: Int = 3): DataFrame = {
    var e = Materialize.state(edges)
    var prevN = e.agg(count(lit(1)).as("n_prev"))
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val tri = e.as("p1")
        .join(e.as("p2"), col("p2.u") === col("p1.v"))
        .join(e.as("p3"),
          col("p3.u") === col("p1.u") && col("p3.v") === col("p2.v"))
        .select(col("p1.u").as("a"), col("p1.v").as("b"), col("p2.v").as("c"))
        .transform(Materialize.state(_))
      val sup = tri.select(col("a").as("u"), col("b").as("v"))
        .unionAll(tri.select(col("b").as("u"), col("c").as("v")))
        .unionAll(tri.select(col("a").as("u"), col("c").as("v")))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
      e = e.join(sup, Seq("u", "v"), "left")
        .where(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select(col("u"), col("v"))
        .transform(Materialize.state(_))
      val row = tri.agg(count(lit(1)).as("n_tri"))
        .crossJoin(e.agg(count(lit(1)).as("n_edges")))
        .crossJoin(prevN)
        .select(lit(r).as("rnd"), col("n_tri"),
          (col("n_prev") - col("n_edges")).as("n_dropped"), col("n_edges"))
      out = if (out == null) row else out.unionByName(row)
      prevN = e.agg(count(lit(1)).as("n_prev"))
    }
    out
  }

  def ktruss(spark: SparkSession, sfDir: String): DataFrame =
    ktrussPeel(copurchaseEdges(spark, sfDir))

  /** Canonical (u < v) part co-purchase edges with support ≥ 2 distinct
    * orders — the shared input of q143/q144. Per-order self-join fan-out
    * is bounded by items-per-order². */
  private def copurchaseEdges(spark: SparkSession, sfDir: String): DataFrame =
    copurchaseEdgesWeighted(spark, sfDir).select(col("u"), col("v"))

  /** ONE co-purchase edge build per (session, sfDir): seventeen graph
    * queries (q143/q144/q145/q146/q157/q161/q170/q172/q173/q189/q199/
    * q219/q255/q360/q396/q422) consume this canonical supp≥2 edge table
    * (q172 with the weight, the rest the bare pair) — the per-order
    * self-join + support aggregate runs once per pass instead of once per
    * query (guide §2.4); the surviving edge list is small and pinned.
    *
    * The (order, part) rows are spread on the order key first, so the
    * distinct and the per-order self-join both run inside each partition
    * (the join's two sides share that one exchange) and the (u, v)
    * support aggregate is the build's only other exchange. The `merge`
    * hint keeps AQE from broadcasting the distinct side after its stage
    * runs — one row per line item, a large hash relation for the driver
    * to build and ship when the join needs no exchange at all.
    */
  private[graft] def copurchaseEdgesWeighted(spark: SparkSession,
                                             sfDir: String): DataFrame =
    SharedState.getOrBuild(spark, sfDir, "copurchaseEdges") {
      // distinct BEFORE the self-join: a part repeated across an order's
      // line items would otherwise fan the pair join out multiplicatively
      // and force a countDistinct de-dup inside the aggregate; on distinct
      // (order, part) rows every pair appears once per order, so plain
      // count() IS the support and the aggregate stays map-side-combinable
      val li = Relational.spread(Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey"), col("l_orderkey")).distinct()
      li.as("a").hint("merge")
        .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("supp"))
        .where(col("supp") >= 2)
        .select(col("u").cast("bigint"), col("v").cast("bigint"),
          col("supp").cast("bigint"))
        .transform(Materialize.state(_))
    }

  /** One distinct (customer, supplier) purchase-pair table per (session,
    * sfDir): the orders⋈lineitem join + distinct behind q142 (PageRank),
    * q160 (HITS) and q166 (personalized PageRank) runs once per pass.
    * Keys are BIGINT at the source, so the shared cast changes no schema.
    */
  private def custSuppPairsFor(spark: SparkSession, sfDir: String): DataFrame =
    SharedState.getOrBuild(spark, sfDir, "custSuppPairs") {
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(spark, sfDir)
          .select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("bigint").as("src"),
          col("l_suppkey").cast("bigint").as("dst"))
        .distinct().transform(Materialize.state(_))
    }

  /** Distributed k-core decomposition (coreness per vertex) by h-index
    * propagation: start from degrees and repeatedly replace each vertex's
    * value with the h-index of its neighbours' values (the largest h such
    * that ≥ h neighbours hold ≥ h). The sequence is per-vertex
    * non-increasing and converges to coreness (Lü et al., "The H-index of
    * a network node and its relation to degree and coreness", 2016) — so
    * the CC convergence idiom applies: sum(value) is strictly monotone
    * until fixpoint, one scalar aggregate per round detects it.
    *
    * Each round is one shuffle (neighbour-value join) plus one per-vertex
    * sorted window; a degree-m hub sorts m rows — linear in edges, never
    * m². Round count is bounded by the longest strictly-decreasing chain
    * (small in practice; loud failure at maxIters).
    *
    * Coreness is the dedup-graph robustness metric: a cluster whose
    * members sit in a high k-core is densely corroborated near-duplicate
    * structure; coreness 1 hanging off a cluster is a chance collision.
    *
    * @param edges two BIGINT columns, undirected semantics; self-loops
    *              and duplicate/reversed rows are collapsed.
    * @return (id, coreness)
    */
  def coreness(edges: DataFrame, maxIters: Int = 100): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .where(col("u") =!= col("v"))
    val adj = raw.union(raw.select(col("v"), col("u"))).distinct()
      .transform(Materialize.state(_))
    val c0 = adj.groupBy(col("u").as("id")).agg(count(lit(1)).as("c"))
      .transform(Materialize.state(_))
    Rounds.untilConverged(maxIters, c0) { c =>
      val nbr = adj.join(c.withColumnRenamed("id", "v")
        .withColumnRenamed("c", "nc"), "v")
      val w = Window.partitionBy("u").orderBy(col("nc").desc)
      nbr.withColumn("rn", row_number().over(w))
        .groupBy(col("u").as("id"))
        .agg(max(least(col("rn"), col("nc"))).as("c"))
    }(sumUnchanged(c0, "c"))
      .getOrElse(Rounds.notConverged("coreness", maxIters, "raise maxIters"))
      .select(col("id"), col("c").as("coreness"))
  }

  /** q145: Adamic–Adar link prediction on the co-purchase graph — for
    * every non-adjacent part pair, sum 1/ln(deg) over their common
    * neighbours; high score ⇒ "parts that should co-sell but don't yet".
    * Wedges are enumerated per apex, so a degree-m apex fans out m²/2 —
    * the apexDegCap drops super-hub apexes (whose 1/ln contribution is
    * smallest anyway) exactly like q50's maxDf valve; at test scales no
    * apex reaches the cap, so the oracle compares uncapped-identical.
    * Ranking sorts by the ROUNDED score so float-association noise can't
    * reorder near-ties differently across engines.
    */
  def adamicAdar(spark: SparkSession, sfDir: String, topK: Int = 20,
                 apexDegCap: Int = 1000): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg.where(col("deg") <= apexDegCap)
        .select(col("id").as("u"), col("deg")), "u")
      .select(col("u").as("apex"), col("v").as("nb"), col("deg"))
    val wedges = adj.as("x")
      .join(adj.as("y"), col("x.apex") === col("y.apex") &&
        col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("part_a"), col("y.nb").as("part_b"),
        (lit(1.0) / log(col("x.deg"))).as("wt"))
    wedges.groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("common_neighbors"), sum("wt").as("sc"))
      .join(e, col("part_a") === col("u") && col("part_b") === col("v"),
        "left_anti")
      .select(col("part_a"), col("part_b"), col("common_neighbors"),
        (round(col("sc") * lit(1000000)) / lit(1000000.0)).as("score"))
      .orderBy(col("score").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** q146: k-core decomposition of the part co-purchase graph — coreness
    * per part via [[coreness]] h-index propagation over the support≥2
    * co-purchase edges. Parts in a high core sit in densely interlocking
    * affinity structure (every member of a k-core co-sells with ≥ k other
    * members that each co-sell with ≥ k); core 1 is tree-like periphery.
    * The DuckDB oracle unrolls 16 fixed h-index rounds: the h-index
    * fixpoint is stable (applying H at the fixpoint is the identity), so
    * the converged Spark result compares exactly against any unroll depth
    * ≥ the convergence round count (observed: 10 rounds at sf0.01, 5 at
    * sf0.1).
    */
  def copurchaseKcore(spark: SparkSession, sfDir: String): DataFrame =
    coreness(copurchaseEdges(spark, sfDir))
      .select(col("id").as("part"), col("coreness"))

  /** q170: local clustering coefficient of the co-purchase graph — per
    * part, the fraction of its neighbour pairs that are themselves
    * connected: 2·triangles / (deg·(deg−1)). The micro-cohesion
    * complement of the global metrics: q143 counts a vertex's triangles,
    * q146 its depth, this NORMALIZES triangles by the possible wedge
    * count, separating genuine cliques (coeff → 1) from hubs whose
    * neighbourhoods don't interlock (coeff → 0) at equal triangle
    * counts. Cost: the q143 degree-ordered triangle count plus one
    * degree groupBy over the SAME checkpointed edge list (the lineitem
    * self-join runs once, not twice) — the division is one IEEE op on
    * exact integers.
    */
  def clusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val tri = triangleCount(e)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    deg.where(col("deg") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id").as("part"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (round(coalesce(col("triangles"), lit(0L)) * lit(2.0)
          / (col("deg") * (col("deg") - 1)) * lit(1000000))
          / lit(1000000.0)).as("clustering"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), made DETERMINISTIC: every vertex starts labelled with its own
    * id and each round SIMULTANEOUSLY adopts the label with the largest
    * summed edge weight among its neighbours, ties broken by smallest
    * label. The classic algorithm randomizes update order and tie-breaks
    * to escape oscillation; a distributed engine wants the opposite trade
    * — a fixed round count with total tie-order makes the result
    * reproducible and lets an unrolled-SQL oracle replay it exactly, and
    * synchronous rounds are what one-shuffle-per-round execution gives for
    * free. Communities are the coarse complement of coreness: coreness
    * says how deep a vertex sits, the label says WHICH dense region it
    * sits in.
    *
    * Weights: an optional third column holds integer edge weights, so a
    * label backed by few strong ties beats one backed by many weak ties
    * and the argmax compares exact sums. Without it every edge weighs 1,
    * and the summed weight is exactly the neighbour count.
    *
    * Per round: one join (neighbour label lookup), one (vertex, label)
    * weight aggregate, and a per-vertex argmax window whose partition
    * size is the vertex's DISTINCT neighbour-label count — bounded by
    * degree, collapsing toward 1 as labels converge; never a global sort.
    * The symmetrized adjacency is hash-partitioned on the VOTING vertex
    * `u` at an explicit width and pinned by [[Materialize.state]], which
    * keeps that partitioning: the aggregate and the window are keyed on
    * `u`, so neither exchanges. The label state's size is its stored
    * bytes, so the planner broadcasts it when it is small and the
    * round runs two jobs (the broadcast and the pin) with no shuffle; a
    * large state falls back to a shuffle join that exchanges `sym` on `v`.
    *
    * @param edges  (src, dst[, weight]) BIGINT columns, undirected — each
    *               edge in one direction only.
    * @param rounds fixed round count (diameter-scale rounds are overkill:
    *               LPA community structure stabilizes in a handful).
    * @return (id, label) — label is a community id drawn from the member
    *         vertex ids.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val Array(srcCol, dstCol, wCols @ _*) = edges.columns
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
      wCols.headOption.map(col).getOrElse(lit(1L)).as("wt"))
    val sym = Materialize.state(Relational.spread(
      e.union(e.select(col("v").as("u"), col("u").as("v"), col("wt"))), col("u")))
    // on sym's u-partitioning: the distinct plans no exchange
    val labels = sym.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    val wArg = Window.partitionBy(col("u")).orderBy(col("c").desc, col("label"))
    Rounds.fixed(rounds, labels) { (labels, _) =>
      sym.join(labels, sym("v") === labels("id"))
        .groupBy(col("u"), col("label")).agg(sum(col("wt")).as("c"))
        .withColumn("rn", row_number().over(wArg))
        .where(col("rn") === 1)
        .select(col("u").as("id"), col("label"))
    }
  }

  /** q157: label-propagation communities of the part co-purchase graph —
    * which dense co-purchase region each part belongs to, over the same
    * support≥2 edges as q143/q144/q146. Four synchronous rounds (the
    * oracle unrolls the same four in SQL).
    */
  def copurchaseCommunities(spark: SparkSession, sfDir: String): DataFrame =
    labelPropagation(copurchaseEdges(spark, sfDir), rounds = 4)
      .select(col("id").as("part"), col("label").as("community"))

  /** q173: power-law tail fit of the co-purchase degree distribution —
    * the Hill maximum-likelihood estimator α̂ = 1 + n / Σ ln(deg/dmin)
    * over vertices with deg ≥ dmin, with the tail fraction and max
    * degree for context. Degree distributions decide shuffle-skew
    * strategy (a heavy tail says salt-or-cap; α > 3 says the hub risk is
    * bounded), so the fit belongs next to the q62 key-skew census as
    * planning telemetry. One degree groupBy + one aggregate; each ln
    * term is snapped to 12-dp decimal before the order-free exact sum,
    * so the estimate is bit-deterministic on any partitioning.
    */
  def degreePowerLaw(spark: SparkSession, sfDir: String,
                     dmin: Int = 4): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val tail = deg.where(col("deg") >= dmin)
    val all = deg.agg(count(lit(1)).as("n_vertices"),
      max(col("deg")).as("max_deg"))
    tail
      .select(log(col("deg").cast("double") / dmin)
        .cast("decimal(28,12)").as("lnr"))
      .agg(count(lit(1)).as("n_tail"), sum(col("lnr")).as("s"))
      .crossJoin(broadcast(all))
      .select(col("n_vertices"), col("max_deg"), col("n_tail"),
        (round((col("n_tail").cast("double") / col("n_vertices")) * lit(1000000))
          / lit(1000000.0)).as("tail_frac"),
        (round((lit(1.0) + col("n_tail").cast("double")
          / col("s").cast("double")) * lit(1000000))
          / lit(1000000.0)).as("alpha_hat"))
  }

  /** q172: support-weighted communities of the co-purchase graph — the
    * weighted twin of q157: the same support≥2 edges, but each
    * neighbour's vote counts its co-purchase support, so communities
    * form around strong affinity cores instead of raw adjacency counts.
    */
  def copurchaseCommunitiesWeighted(spark: SparkSession,
                                    sfDir: String): DataFrame =
    labelPropagation(copurchaseEdgesWeighted(spark, sfDir), rounds = 4)
      .select(col("id").as("part"), col("label").as("community"))

  /** q189: rich-club coefficient curve of the co-purchase graph — for each
    * degree threshold t in a power-of-2 grid, the density φ(t) of the
    * subgraph induced by vertices with degree > t (Zhou & Mondragón 2004).
    * A rising φ(t) says hubs preferentially interconnect (a "rich club"),
    * which for a shuffle key means hot keys collide with each other — the
    * topology companion to q173's tail-fit telemetry. One degree groupBy,
    * two vertex-keyed joins to tag edge endpoints, then a broadcast
    * threshold-grid join and exact-integer counts; φ's single IEEE
    * division happens on the |grid|-row table.
    */
  def richClub(e: DataFrame, grid: Seq[Int]): DataFrame = {
    val spark = e.sparkSession
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    import spark.implicits._
    val ks = grid.toDF("t")
    val tagged = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val ek = tagged.crossJoin(broadcast(ks))
      .where(col("du") > col("t") && col("dv") > col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("e_club"))
    val nk = deg.crossJoin(broadcast(ks))
      .where(col("deg") > col("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_club"))
    nk.join(ek, Seq("t"), "left_outer")
      .select(col("t"), col("n_club"),
        coalesce(col("e_club"), lit(0L)).as("e_club"),
        (round(lit(2.0) * coalesce(col("e_club"), lit(0L))
          / (col("n_club").cast("double") * (col("n_club") - lit(1)))
          * lit(1000000)) / lit(1000000.0)).as("phi"))
      .where(col("n_club") >= 2)
  }

  def richClub(spark: SparkSession, sfDir: String): DataFrame =
    richClub(copurchaseEdges(spark, sfDir), Seq(1, 2, 4, 8, 16))

  /** q199: local-bridge census — edges that close NO triangle (no common
    * neighbour), i.e. the structurally fragile links whose removal
    * locally disconnects their endpoints (Granovetter's weak ties). For a
    * dup graph these are exactly the chance LSH collisions q143's
    * triangle count corroborates against; the census reports how much of
    * the graph is uncorroborated. Wedge enumeration fans out from each
    * edge's LOWER-degree endpoint (the q143 orientation idea applied
    * per-edge), so a hub edge costs its cheap side's degree, and the
    * triangle test is one adjacency semi-join — no per-edge neighbour
    * sets materialized.
    */
  def localBridges(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val tagged = e
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"),
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("hi"))
    val inTri = tagged
      .join(sym.select(col("u").as("lo"), col("v").as("w")), "lo")
      .where(col("w") =!= col("hi"))
      .join(sym.select(col("u").as("hi"), col("v").as("w")),
        Seq("hi", "w"), "left_semi")
      .select(col("u"), col("v")).distinct()
    val bridges = e.join(inTri, Seq("u", "v"), "left_anti")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(bridges.agg(count(lit(1)).as("n_bridges")))
      .select(col("n_edges"), col("n_bridges"),
        (round(col("n_bridges").cast("double") / col("n_edges")
          * lit(1000000)) / lit(1000000.0)).as("bridge_rate"))
  }

  def localBridges(spark: SparkSession, sfDir: String): DataFrame =
    localBridges(copurchaseEdges(spark, sfDir))

  /** q144: degree assortativity of the co-purchase graph — the Pearson
    * correlation between endpoint degrees over the symmetrized edge list
    * (each edge contributes both directions, the standard Newman
    * formulation). Positive ⇒ popular parts pair with popular parts
    * (hub-hub affinity); negative ⇒ hub-and-spoke. One degree groupBy +
    * two broadcast-size joins + a single scalar aggregate — no state
    * beyond the degree table, shuffle keyed on vertex id.
    */
  def degreeAssortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    sym
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .agg(
        (count(lit(1)) / lit(2)).cast("bigint").as("n_edges"),
        (round(avg(col("du")) * lit(1000000)) / lit(1000000.0)).as("avg_deg"),
        (round(corr(col("du"), col("dv")) * lit(1000000)) / lit(1000000.0))
          .as("assortativity"))
  }

  /** q161: neighbourhood-Jaccard link prediction — the set-overlap
    * complement of Adamic–Adar (q145): score(a,b) = |Γ(a)∩Γ(b)| /
    * |Γ(a)∪Γ(b)| over non-adjacent part pairs. Jaccard penalizes hub
    * endpoints (a hub's huge neighbourhood dilutes every union) where AA
    * penalizes hub APEXES, so the two rankings disagree exactly on
    * hub-adjacent candidates — running both is the standard link-prediction
    * ensemble. Same apex-capped wedge enumeration as q145 (fan-out bounded
    * per apex, never all-pairs), one extra broadcast-size degree join for
    * the union denominator. All-integer score inputs; the single division
    * is one IEEE op on exact integers, so cross-engine determinism needs no
    * noise-margin argument at all.
    */
  def jaccardNeighbors(edges: DataFrame, topK: Int, apexDegCap: Int): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val adj = sym.join(deg.where(col("deg") <= apexDegCap)
        .select(col("id").as("u")), "u")
      .select(col("u").as("apex"), col("v").as("nb"))
    val common = adj.as("x")
      .join(adj.as("y"), col("x.apex") === col("y.apex") &&
        col("x.nb") < col("y.nb"))
      .groupBy(col("x.nb").as("part_a"), col("y.nb").as("part_b"))
      .agg(count(lit(1)).as("common_neighbors"))
    common
      .join(e, col("part_a") === col("u") && col("part_b") === col("v"),
        "left_anti")
      .join(deg.select(col("id").as("part_a"), col("deg").as("da")), "part_a")
      .join(deg.select(col("id").as("part_b"), col("deg").as("db")), "part_b")
      .select(col("part_a"), col("part_b"), col("common_neighbors"),
        (round(col("common_neighbors").cast("double") /
          (col("da") + col("db") - col("common_neighbors")) * lit(1000000))
          / lit(1000000.0)).as("jaccard"))
      .orderBy(col("jaccard").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  def jaccardNeighbors(spark: SparkSession, sfDir: String): DataFrame =
    jaccardNeighbors(copurchaseEdges(spark, sfDir), topK = 20,
      apexDegCap = 1000)

  /** Fixed-round HITS (Kleinberg 1999) on a bipartite hub→authority edge
    * list, engineered for exact cross-engine replay: scores are stored as
    * 9-dp values and summed as DECIMAL(28,12) (exact, order-independent —
    * unlike double sums), and each round normalizes by the MAX score (also
    * exact) instead of the usual L2 norm, whose global float sum would
    * reintroduce partition-order noise. The one inexact op per round is a
    * single IEEE double division of two exactly-determined values, snapped
    * back to 9 dp — so an unrolled-SQL oracle replays the identical
    * arithmetic path bit-for-bit. Max-normalized HITS has the same
    * fixpoint direction as L2-normalized (normalization is a scalar), so
    * rankings are the textbook ones with the top score pinned at 1.
    *
    * Per round: two shuffles (authority sum keyed on dst, hub sum keyed on
    * src) and one broadcast one-row max join each — no driver action, no
    * collect; state is one row per vertex side. The edge list's bare
    * repartition is AQE-coalesced, so its pin keeps only its true size: at
    * the session width it ran q160 1.24× slower (same-JVM, sf0.1).
    *
    * @param edges (src, dst) BIGINT pairs, already distinct.
    * @return (id, side, score): side ∈ {hub, authority}, score ∈ (0, 1].
    */
  def hits(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src")).transform(Materialize.state(_))
    val snap = (c: org.apache.spark.sql.Column) =>
      (round(c * lit(1e9)) / lit(1e9)).cast("decimal(28,12)")
    var hubs = e.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1).cast("decimal(28,12)").as("score"))
    var auths: DataFrame = null
    for (_ <- 1 to rounds) {
      val araw = e.join(hubs, e("src") === hubs("id"))
        .groupBy(col("dst").as("id")).agg(sum(col("score")).as("raw"))
      val amax = araw.agg(max(col("raw")).as("mx"))
      auths = araw.join(broadcast(amax))
        .select(col("id"),
          snap(col("raw").cast("double") / col("mx").cast("double"))
            .as("score"))
        .transform(Materialize.state(_))
      val hraw = e.join(auths, e("dst") === auths("id"))
        .groupBy(col("src").as("id")).agg(sum(col("score")).as("raw"))
      val hmax = hraw.agg(max(col("raw")).as("mx"))
      hubs = hraw.join(broadcast(hmax))
        .select(col("id"),
          snap(col("raw").cast("double") / col("mx").cast("double"))
            .as("score"))
        .transform(Materialize.state(_))
    }
    hubs.select(col("id"), lit("hub").as("side"), col("score"))
      .union(auths.select(col("id"), lit("authority").as("side"), col("score")))
  }

  /** q160: HITS authority ranking of suppliers in the customer→supplier
    * order graph (edge when a customer's order contains the supplier's
    * line). Four max-normalized rounds via [[hits]]; authoritative
    * suppliers are those ordered from by the biggest-basket customers,
    * which plain order counts (q149) conflate with volume. Top-k by the
    * ROUNDED score so float near-ties cannot reorder across engines.
    */
  def supplierHits(spark: SparkSession, sfDir: String, topK: Int = 25): DataFrame = {
    val edges = custSuppPairsFor(spark, sfDir)
    hits(edges, rounds = 4)
      .where(col("side") === "authority")
      .select(col("id").as("s_suppkey"),
        (round(col("score").cast("double") * lit(1000000)) / lit(1000000.0))
          .as("authority"))
      .orderBy(col("authority").desc, col("s_suppkey"))
      .limit(topK)
  }

  /** Newman modularity of a community partition: Q = Σ_c (e_c/m −
    * (d_c/2m)²) over communities, where e_c counts intra-community edges,
    * d_c sums member degrees, m is the edge total. Everything is exact
    * integer counting until the final per-community double term, which is
    * decimal-snapped before the scalar total — so Q is deterministic and
    * oracle-replayable. Two label-lookup joins (both keyed on vertex id,
    * the same partitioning the LPA rounds already use) + two bounded
    * aggregates; no step touches more than the edge list once.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.toDF("u", "v")
    val lu = labels.toDF("u", "lu")
    val lv = labels.toDF("v", "lv")
    val internal = e.join(lu, Seq("u")).join(lv, Seq("v"))
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("community"))
      .agg(count(lit(1)).as("int_edges"))
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val dsum = deg.join(lu, Seq("u"))
      .groupBy(col("lu").as("community"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
    val m = e.agg(count(lit(1)).as("m"))
    val c = dsum.join(internal, Seq("community"), "left")
      .na.fill(0L, Seq("int_edges"))
      .crossJoin(broadcast(m))
      .withColumn("contrib",
        (col("int_edges").cast("double") / col("m")
          - (col("deg_sum").cast("double") / (lit(2) * col("m")))
            * (col("deg_sum").cast("double") / (lit(2) * col("m"))))
          .cast("decimal(28,18)"))
    val q = c.agg(sum(col("contrib")).cast("double").as("q"))
    c.crossJoin(broadcast(q))
      .where(col("n_nodes") >= 3)
      .select(col("community"), col("n_nodes"), col("int_edges"),
        col("deg_sum"),
        // + 0.0 folds IEEE negative zero (a tiny negative term rounded
        // to -0.0) onto +0.0 so the cross-engine hash can't split on it
        (round(col("contrib").cast("double") * lit(1000000))
          / lit(1000000.0) + lit(0.0)).as("contrib"),
        (round(col("q") * lit(1000000)) / lit(1000000.0) + lit(0.0))
          .as("modularity"))
  }

  /** q219: modularity audit of the q157 LPA partition on the co-purchase
    * graph — the "was that clustering any good" number (Q ≈ 0 means the
    * labels explain nothing beyond degree chance; Q ≳ 0.3 means real
    * community structure), reported per community (≥3 members) with the
    * graph-level Q on every row.
    */
  def communityModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    modularity(e, labelPropagation(e, rounds = 4))
  }

  /** Multi-round BFS distances from one source over an undirected edge
    * list — each round is ONE frontier⋈adjacency equi-join plus a
    * min-distance aggregate, the textbook distributed BFS (frontier size
    * is the only state; no per-vertex mutable structure). maxHops is
    * fixed and small, so the plan unrolls to a bounded join chain — which
    * is also what makes the result oracle-expressible as plain SQL.
    *
    * @return (id, dist) for vertices within maxHops; others omitted.
    */
  def bfsDistances(edges: DataFrame, source: DataFrame,
                   maxHops: Int): DataFrame = {
    val Array(srcCol, dstCol) = edges.columns
    val e = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val adj = e.union(e.select(col("v"), col("u"))).distinct()
      .transform(Materialize.state(_))
    val reach = source.toDF("id").withColumn("dist", lit(0))
    Rounds.fixed(maxHops, reach) { (reach, h) =>
      val next = adj.join(reach.where(col("dist") === h - 1)
          .withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id"), lit(h).as("dist"))
      reach.unionAll(next)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    }
  }

  /** q255: landmark distance census of the part co-purchase graph — BFS
    * ≤3 hops from the highest-degree part (the "how centralized is the
    * affinity graph" probe: a hub landmark reaching most vertices in 2-3
    * hops means a tight core; a large unreachable share means fragmented
    * product islands). The landmark is the max-degree vertex (ties to the
    * smallest id — deterministic), picked off the already-aggregated
    * degree table; unreachable-within-3 is reported as dist = -1.
    */
  def landmarkBfs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
    val deg = verts.join(
      e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg")), "id")
    val landmark = deg.orderBy(col("deg").desc, col("id")).limit(1)
      .select(col("id"))
    val dists = bfsDistances(e, landmark, maxHops = 3)
    verts.join(dists, Seq("id"), "left")
      .select(coalesce(col("dist"), lit(-1)).as("dist"))
      .groupBy(col("dist")).agg(count(lit(1)).as("n_parts"))
  }

  /** q256: co-purchase edge formation timeline — the month each support≥2
    * edge came into existence, defined as the month of the SECOND distinct
    * order containing the pair (the moment the support threshold is
    * crossed, so the graph the other q14x queries analyze is the cumulative
    * sum of this series). Pair fan-out is the same bounded per-order
    * self-join as [[copurchaseEdges]]; the second-order pick is a
    * row_number over each pair's support-many rows; the monthly census and
    * its running total run on the ≤months-many aggregate rows.
    */
  def edgeFormation(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    val pairs = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_orderkey").as("ok"),
        col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .join(ord, col("ok") === col("o_orderkey"))
    val w = Window.partitionBy(col("u"), col("v"))
      .orderBy(col("o_orderdate"), col("ok"))
    val formed = pairs.withColumn("rn", row_number().over(w))
      .where(col("rn") === 2) // support crosses 2 here
      .select((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .as("ym"))
      .groupBy(col("ym")).agg(count(lit(1)).as("edges_formed"))
    val cum = Window.orderBy(col("ym"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // running total over the bounded month table (≤ span months rows)
    formed.withColumn("edges_cum", sum(col("edges_formed")).over(cum))
  }

  /** q360: double-sweep diameter bound of the co-purchase graph (Magnien–
    * Latapy–Habib): BFS from the max-degree landmark, hop to the farthest
    * vertex found, BFS again — the second eccentricity is the classic
    * cheap diameter LOWER bound (exact on trees, near-tight on most real
    * graphs), and with q255's hub-centric census it brackets "how wide is
    * this graph really". Both sweeps are hop-capped (default 3, stated in
    * the column semantics): a reported bound of `maxHops` means "≥ cap",
    * never an exact diameter claim.
    *
    * Scale shape: two fixed-round [[bfsDistances]] frontier expansions
    * (one keyed join per hop, no driver loop over data), landmark/far
    * picks via TakeOrderedAndProject limit(1) with deterministic (metric,
    * id) tie-breaks, and a single-row broadcast assembly.
    */
  def diameterSweep(spark: SparkSession, sfDir: String,
                    maxHops: Int = 3): DataFrame = {
    val e = copurchaseEdges(spark, sfDir)
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    val lm = deg.orderBy(col("dg").desc, col("id")).limit(1)
      .select(col("id"))
    val d1 = bfsDistances(e, lm, maxHops)
    val far = d1.orderBy(col("dist").desc, col("id")).limit(1)
    val d2 = bfsDistances(e, far.select("id"), maxHops)
    lm.select(col("id").as("landmark_id"))
      .crossJoin(broadcast(d1.agg(max(col("dist")).as("ecc_landmark"),
        count(lit(1)).as("n_reached_from_landmark"))))
      .crossJoin(broadcast(far.select(col("id").as("far_id"))))
      .crossJoin(broadcast(d2.agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reached_from_far"))))
      .crossJoin(broadcast(verts.agg(count(lit(1)).as("n_verts"))))
  }

  /** q422: two-hop reach census — the graph-expansion profile (how many
    * distinct friends-of-friends each vertex reaches, excluding itself and
    * its direct neighbours), bucketed into a distribution. This is the
    * quantity that decides whether 2-hop features (GNN sampling, PPR
    * push, triangle-heavy heuristics) are affordable on a given graph: a
    * fat bucket tail means neighborhood explosion.
    *
    * Scale posture: the 2-hop self-join is capped at the MIDDLE vertex —
    * a degree-m hub as midpoint contributes m² pairs, so mids with degree
    * > capDeg are suppressed from path expansion (their count is carried
    * as an output column, the q74/q22 bucket-cap discipline) and every
    * surviving join key fans out ≤ capDeg². Distinct-before-count keeps
    * the census exact on the paths that remain.
    */
  def twoHopCensus(edges: DataFrame, capDeg: Int = 64): DataFrame = {
    val e = edges.toDF("a", "b")
    val adj = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
      .distinct()
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val mids = deg.where(col("deg") <= capDeg).select(col("u").as("mid"))
    val nSupp = deg.where(col("deg") > capDeg)
      .agg(count(lit(1)).as("n_suppressed_mids"))
    val two = adj.select(col("u"), col("v").as("mid"))
      .join(mids, "mid")
      .join(adj.select(col("u").as("mid"), col("v").as("w")), "mid")
      .where(col("w") =!= col("u"))
      .select(col("u"), col("w")).distinct()
      .join(adj.select(col("u"), col("v").as("w")), Seq("u", "w"),
        "left_anti")
    val n2 = two.groupBy(col("u")).agg(count(lit(1)).as("n2"))
    deg.select(col("u"))
      .join(n2, Seq("u"), "left").na.fill(0L, Seq("n2"))
      .withColumn("bucket", expr("(n2 div 10) * 10"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("n2")).as("min_n2"), max(col("n2")).as("max_n2"))
      .crossJoin(broadcast(nSupp))
  }

  def copurchaseTwoHop(spark: SparkSession, sfDir: String): DataFrame =
    twoHopCensus(copurchaseEdges(spark, sfDir))
}

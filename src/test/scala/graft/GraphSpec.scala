package graft

import graft.ops.Graph
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graft.Listeners
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

class GraphSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("ktrussPeel: K4 survives a 4-truss, the pendant triangle peels off") {
    // K4 on 1-4 (every edge closes 2 triangles) + triangle (4,5,6) whose
    // edges close only 1 each → dropped in round 1; round 2 converges
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val rows = Graph.ktrussPeel(e, k = 4, rounds = 3).orderBy($"rnd")
      .select("rnd", "n_tri", "n_dropped", "n_edges")
      .as[(Int, Long, Long, Long)].collect()
    assert(rows(0) === ((1, 5L, 3L, 6L)))
    assert(rows(1) === ((2, 4L, 0L, 6L)))
    assert(rows(2) === ((3, 4L, 0L, 6L)))
  }

  test("path graph needs multiple propagation rounds and still converges") {
    // 1-2-3-4-5-6-7-8: diameter 7, min label must travel the whole path
    val cc = components((1L to 7L).map(i => (i, i + 1)))
    assert(cc === (1L to 8L).map(_ -> 1L).toMap)
  }

  test("separate components keep separate labels") {
    val cc = components(Seq((10L, 11L), (11L, 12L), (20L, 21L), (30L, 31L)))
    assert(cc(10L) === 10L && cc(11L) === 10L && cc(12L) === 10L)
    assert(cc(20L) === 20L && cc(21L) === 20L)
    assert(cc(30L) === 30L && cc(31L) === 30L)
    assert(cc.size === 7)
  }

  test("hitting the round cap without convergence fails loudly") {
    // star contraction halves chains per round; a 64-vertex path cannot
    // collapse to a star in a single round — cap at 1 must throw
    val edges = (1L to 63L).map(i => (i, i + 1))
    val ex = intercept[IllegalArgumentException] {
      Graph.connectedComponents(edges.toDF("src", "dst"), maxIters = 1).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
    // PageRank's L1 delta cannot reach 1e-12 in two rounds off the
    // uniform start on a graph with a hub and a dangling vertex
    val pr = intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("s", "d"),
        tol = 1e-12, maxIters = 2).collect()
    }
    assert(pr.getMessage.contains("pageRank did not converge within 2 rounds"))
    // K4 plus a tail: the tail's degree-2 vertex drops to core 1 in the
    // first h-index round, so one round cannot confirm the fixpoint
    val k4Tail = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))
    val kc = intercept[IllegalArgumentException] {
      Graph.coreness(k4Tail.toDF("src", "dst"), maxIters = 1).collect()
    }
    assert(kc.getMessage.contains("coreness did not converge within 1 rounds"))
  }

  test("star contraction converges on a long path where min-label cannot") {
    // 2000-vertex path: diameter 1999, so one-hop min-label propagation
    // needs ~2000 rounds and must fail loudly at the default cap, while
    // large-star/small-star contraction needs only O(log n) rounds —
    // this is the adversarial template-drift chain from the dedup graphs
    val edges = (1L to 1999L).map(i => (i, i + 1))
    val cc = components(edges) // default maxIters = 50 >> log2(2000)
    assert(cc.size === 2000 && cc.values.forall(_ === 1L))
    val ex = intercept[IllegalArgumentException] {
      Graph.minLabelComponents(edges.toDF("src", "dst")).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("hits pins the top score at 1 and ranks the densest authority first") {
    // bipartite: customers 1,2,3 → suppliers 101,102.
    // 101 is cited by all three hubs, 102 by one → authority(101)=1 > 102.
    val edges = Seq((1L, 101L), (2L, 101L), (3L, 101L), (3L, 102L))
      .toDF("src", "dst")
    val rows = Graph.hits(edges, rounds = 4)
      .as[(Long, String, java.math.BigDecimal)].collect()
    val auth = rows.filter(_._2 == "authority")
      .map(r => r._1 -> r._3.doubleValue()).toMap
    val hubs = rows.filter(_._2 == "hub")
      .map(r => r._1 -> r._3.doubleValue()).toMap
    assert(auth(101L) === 1.0)
    assert(auth(102L) < auth(101L))
    // hub 3 cites both authorities → strictly the strongest hub
    assert(hubs(3L) === 1.0 && hubs(1L) < 1.0 && hubs(1L) === hubs(2L))
  }

  test("jaccard neighbors scores a shared-neighborhood pair exactly") {
    // 1 and 2 are non-adjacent, both linked to {3,4}; deg(1)=deg(2)=2 →
    // jaccard = 2/(2+2-2) = 1.0; pair (3,4) is adjacent → excluded.
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val rows = Graph.jaccardNeighbors(edges, topK = 10, apexDegCap = 1000)
      .select("part_a", "part_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(rows((1L, 2L)) === 1.0)
    assert(!rows.contains((3L, 4L)))
    // deg(3)=deg(4)=3, common {1,2} minus adjacency → not emitted for
    // the adjacent pair, and no pair involving an apex is double-counted
    assert(rows.keys.forall { case (a, b) => a < b })
  }

  test("personalized pagerank conserves mass and concentrates at the seed") {
    // seed 1 → {2,3}; 2→4; 3→4; 4 is dangling so its mass restarts at the
    // seed. Steady state: r1(1 + 0.85 + 0.7225) = 1 → seed highest, the
    // symmetric branches tie, and total mass stays exactly 1.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"),
        damping = 0.85, iters = 30)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(2L) === r(3L))
    assert(r(1L) > r(4L) && r(4L) > r(2L) && r(2L) > 0.0)
  }

  test("personalized pagerank gives zero to vertices unreachable from seeds") {
    // two disjoint stars; seeding only the first keeps the second at 0
    val edges = Seq((1L, 2L), (10L, 11L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(edges, Seq(1L).toDF("id"),
        damping = 0.85, iters = 10)
      .as[(Long, Double)].collect().toMap
    assert(r(10L) === 0.0 && r(11L) === 0.0)
    assert(r(1L) > 0.0 && r(2L) > 0.0)
  }

  test("min-label propagation agrees with star contraction on shallow graphs") {
    // two near-clique dup clusters + an isolated pair — the shape
    // minLabelComponents is specified for
    val edges = Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (2L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L),
      (20L, 21L))
    val star = components(edges)
    val label = Graph.minLabelComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(star === label)
  }

  test("edge direction is irrelevant") {
    // min vertex on the destination side
    val cc = components(Seq((5L, 1L), (2L, 5L)))
    assert(cc === Map(1L -> 1L, 2L -> 1L, 5L -> 1L))
  }

  // independent plain-Scala synchronous LPA for cross-validation
  private def referenceLpa(edges: Seq[(Long, Long)],
                           rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap(p => Seq(p, p.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (u, nbrs) =>
        val counts = nbrs.map(lab).groupBy(identity)
          .map { case (l, o) => (l, o.size) }
        // most frequent neighbour label, ties to the smallest label
        u -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  test("labelPropagation matches a plain synchronous reference") {
    // two 4-cliques joined by one bridge edge + an isolated pair
    val cliques = for {
      base <- Seq(0L, 10L); i <- 0 to 3; j <- (i + 1) to 3
    } yield (base + i, base + j)
    val edges = cliques ++ Seq((3L, 10L), (20L, 21L))
    val got = Graph.labelPropagation(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got === referenceLpa(edges, 4))
    // and the cliques actually resolve to separate communities
    assert(Seq(0L, 1L, 2L).map(got).distinct.size === 1)
    assert(Seq(10L, 11L, 12L, 13L).map(got).distinct.size === 1)
    assert(got(0L) !== got(11L))
  }

  test("labelPropagation matches the reference on a hub-heavy random graph") {
    val rnd = new scala.util.Random(7)
    // preferential-attachment-ish: later vertices attach to random earlier
    val edges = (1L to 120L).flatMap { v =>
      (1 to (1 + rnd.nextInt(3))).map(_ => (rnd.nextLong().abs % v, v))
    }.filter(p => p._1 != p._2).distinct
    val got = Graph.labelPropagation(edges.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === referenceLpa(edges, 3))
  }

  test("a labelPropagation round plans no shuffle exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 2L), (3L, 4L, 5L),
      (4L, 5L, 1L), (5L, 6L, 2L), (6L, 4L, 4L)).toDF("src", "dst", "w")
    Listeners.drain(spark)
    spark.listenerManager.register(l)
    val got = try {
      val r = Graph.labelPropagation(edges, rounds = 3).as[(Long, Long)].collect().toMap
      Listeners.drain(spark)
      r
    } finally spark.listenerManager.unregister(l)
    assert(got === referenceWeightedLpa(edges.as[(Long, Long, Long)].collect().toSeq, 3))
    plans.asScala.toSeq.takeRight(3).foreach { p =>
      assert(collect(p) { case x: ShuffleExchangeExec => x }.isEmpty, p.toString)
    }
    // the adjacency pin, then one pin per round
    assert(plans.size === 4)
  }

  test("co-purchase support counts an order once when it repeats a part") {
    // order 1 lists part 2 on three line items, order 4 lists part 3 twice
    val dir = java.nio.file.Files.createTempDirectory("graft_copurchase").toString
    Seq((1L, 1L), (1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 3L), (4L, 3L), (4L, 1L), (4L, 3L))
      .toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
    val got = Graph.copurchaseEdgesWeighted(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    // (1,2): orders 1-3; (1,3): orders 3-4; (2,3): order 3 only, below 2
    assert(got === Set((1L, 2L, 3L), (1L, 3L, 2L)))
  }

  // plain-Scala synchronous LPA whose vote is the summed edge weight
  private def referenceWeightedLpa(edges: Seq[(Long, Long, Long)],
                                   rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (u, v, w) => Seq((u, v, w), (v, u, w)) }
    val adj = sym.groupBy(_._1).map { case (u, es) => u -> es.map(e => (e._2, e._3)) }
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (u, nbrs) =>
        val votes = nbrs.groupBy(p => lab(p._1))
          .map { case (l, ps) => (l, ps.map(_._2).sum) }
        // heaviest neighbour label, ties to the smallest label
        u -> votes.toSeq.minBy { case (l, w) => (-w, l) }._1
      }
    }
    lab
  }

  test("weighted labelPropagation votes by summed weight, not by count") {
    // round 1: vertex 10 sees labels 1, 2 and 3 once each — by count the
    // tie goes to label 1, by weight its weight-9 tie to 3 wins
    val edges = Seq((1L, 2L, 5L), (1L, 10L, 1L), (2L, 10L, 1L),
      (3L, 10L, 9L), (3L, 4L, 2L))
    val got = Graph.labelPropagation(edges.toDF("src", "dst", "w"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    val want = referenceWeightedLpa(edges, 2)
    assert(got === want)
    assert(want !== referenceLpa(edges.map(e => (e._1, e._2)), 2))
    // and on a random weighted graph over more rounds
    val rnd = new scala.util.Random(11)
    val random = (1L to 80L).flatMap { v =>
      (1 to (1 + rnd.nextInt(3))).map(_ =>
        (rnd.nextLong().abs % v, v, 1L + rnd.nextInt(6)))
    }.filter(p => p._1 != p._2).groupBy(p => (p._1, p._2)).values.map(_.head).toSeq
    val gotRandom = Graph.labelPropagation(random.toDF("src", "dst", "w"), rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(gotRandom === referenceWeightedLpa(random, 4))
  }

  // independent plain-Scala power iteration for cross-validation
  private def referencePageRank(edges: Seq[(Long, Long)], d: Double,
                                iters: Int): Map[Long, Double] = {
    val e = edges.distinct
    val verts = e.flatMap(p => Seq(p._1, p._2)).distinct
    val n = verts.size
    val out = e.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    var r = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = verts.filterNot(out.contains).map(r).sum
      val inflow = e.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / out(u).size }.sum
      }
      val base = (1.0 - d) / n + d * dangling / n
      r = verts.map(v => v -> (base + d * inflow.getOrElse(v, 0.0))).toMap
    }
    r
  }

  test("pageRank matches a plain power iteration, dangling mass included") {
    // 4 links into a hub, hub links out to one page, page 5 dangles
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (1L, 2L), (2L, 3L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), tol = 1e-10, maxIters = 300)
      .as[(Long, Double)].collect().toMap
    val want = referencePageRank(edges, 0.85, iters = 200)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-7, s"vertex $v") }
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // the hub collects more rank than any of its pointers
    assert(got(4L) > got(1L) && got(4L) > got(2L) && got(4L) > got(3L))
  }

  test("pageRankFixed matches the reference at the same round count") {
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 5L), (1L, 2L), (2L, 3L))
    val got = Graph.pageRankFixed(edges.toDF("src", "dst"), 0.85, 10)
      .as[(Long, Double)].collect().toMap
    val want = referencePageRank(edges, 0.85, iters = 10)
    assert(got.keySet === want.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - want(v)) < 1e-12, s"vertex $v") }
  }

  test("pageRank on a cycle is uniform") {
    val got = Graph.pageRank(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d"),
      tol = 1e-10).as[(Long, Double)].collect().toMap
    got.values.foreach(r => assert(math.abs(r - 1.0 / 3) < 1e-8))
  }

  private def triangles(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCount(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  // brute-force reference: count closed vertex triples
  private def referenceTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val verts = und.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    val tris = for {
      a <- verts; b <- verts if a < b && und((a, b))
      c <- verts if b < c && und((b, c)) && und((a, c))
    } yield Seq(a, b, c)
    tris.flatten.groupBy(identity).map { case (v, xs) => v -> xs.size.toLong }
  }

  test("triangleCount on K4: each vertex in 3 triangles") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(triangles(k4) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCount: paths and stars have none; messy input collapses") {
    assert(triangles(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === Map.empty)
    assert(triangles(Seq((9L, 1L), (9L, 2L), (9L, 3L))) === Map.empty)
    // triangle given with a reversal, a duplicate, and a self-loop
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (2L, 2L))
    assert(triangles(messy) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  private def coreness(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.coreness(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  // reference: degeneracy ordering — repeatedly remove a minimum-degree
  // vertex; coreness is the running max of the degree at removal
  private def referenceCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import scala.collection.mutable
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    for ((a, b) <- edges if a != b) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val core = mutable.Map.empty[Long, Long]
    var k = 0L
    while (adj.nonEmpty) {
      val v = adj.keys.minBy(x => (adj(x).size, x))
      k = math.max(k, adj(v).size.toLong)
      core(v) = k
      for (n <- adj(v)) adj(n) -= v
      adj -= v
    }
    core.toMap
  }

  test("coreness: K4 with a tail is core 3 plus core 1") {
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSeq
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L))
    assert(coreness(edges) ===
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("coreness agrees with degeneracy ordering on a hub-heavy random graph") {
    var state = 98765L
    def next(mod: Long): Long = { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state % mod }
    val rnd = (1 to 200).map(_ => (next(30L), next(30L)))
    val hub = (1L to 25L).map(v => (0L, v))
    val edges = (rnd ++ hub).filter(p => p._1 != p._2)
    assert(coreness(edges) === referenceCoreness(edges))
  }

  test("triangleCount agrees with brute force on a hub-heavy random graph") {
    // deterministic LCG; vertex 0 made a hub so orientation actually matters
    var state = 12345L
    def next(mod: Long): Long = { state = (state * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; state % mod }
    val rnd = (1 to 120).map(_ => (next(25L), next(25L)))
    val hub = (1L to 20L).map(v => (0L, v))
    val edges = rnd ++ hub
    assert(triangles(edges) === referenceTriangles(edges))
  }

  test("bfsDistances finds shortest hop counts on a path with a chord") {
    // path 1-2-3-4-5 plus chord 1-4: dist(4) = 2 via the chord, not 3;
    // 6-7 is a separate component, unreachable from 1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (6L, 7L))
      .toDF("u", "v")
    val src = Seq(1L).toDF("id")
    val d = Graph.bfsDistances(e, src, maxHops = 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Int]("dist")).toMap
    assert(d === Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
  }
}

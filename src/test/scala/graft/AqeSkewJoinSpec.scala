package graft

import org.apache.spark.sql.functions._

/** SURVEY §4 claims AQE handles residual join skew at cluster scale; this
  * spec makes that claim TESTED rather than asserted (the counterpart of
  * SkewJoinSpec, which proves the manual salting path): a deliberately
  * skewed key must actually trigger AQE's skew-split on the executed plan —
  * the join node carries the `skew=true` marker only when
  * OptimizeSkewedJoin split the oversized partition into parallel reads.
  */
class AqeSkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("a deliberately skewed key triggers AQE skew-split in the final plan") {
    val pad = "x" * 128
    // one hot key carrying ~20k padded rows vs a 99-key long tail: with 4
    // shuffle partitions the hot partition dwarfs the median
    val left = ((1 to 20000).map(i => (1L, s"$pad$i")) ++
      (2L to 100L).flatMap(k => (1 to 20).map(i => (k, s"t$k-$i"))))
      .toDF("k", "payload")
    val right = (1L to 100L).map(k => (k, s"dim$k")).toDF("k", "attr")

    // no broadcast (skew-split only applies to shuffle joins) and
    // test-sized skew thresholds — production keeps the defaults
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB") {
      val joined = left.join(right, "k")
      // collect() drives THIS DataFrame's QueryExecution (count() would
      // spawn a separate one and leave this plan unexecuted/non-final)
      assert(joined.collect().length === 20000 + 99 * 20)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), s"expected an executed adaptive plan:\n$plan")
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the join skew-split in:\n$plan")
    }
  }

  test("q446's dense-integer band-bucket key is AQE-splittable — a hot band triggers the runtime skew split") {
    import graft.ops.Ranges
    // q446's design claim (SURVEY/Scaladoc): because the band join is an
    // EQUI join on floor(e/band), a hot band is an ordinary oversized
    // shuffle partition that OptimizeSkewedJoin can split — unlike an
    // inequality/nested-loop formulation, which AQE cannot touch. Fixture:
    // 2000 distinct padded non-ref series (high-entropy payload so lz4
    // can't crush the MapStatus sizes) piling 20k events into ONE 300 s
    // band, vs a sparse tail; the ref series ("a_ref" = lexicographic min)
    // has events inside the hot band so the join also produces matches.
    val pad = "y" * 96
    val t0 = 1700000100L // NOT a band boundary multiple — generic placement
    val refRows = (0 until 5).map(i => ("a_ref", t0 + i * 60L)) ++
      (1 to 5).map(i => ("a_ref", t0 + 100000L * i))
    val hotRows = (0 until 2000).flatMap(k => (0 until 10).map(j =>
      (s"hot_${k}_$pad", t0 + (k * 10 + j) % 300L)))
    val tailRows = (0 until 50).flatMap(k => (0 until 20).map(j =>
      (s"tail_$k", t0 + 200000L + k * 7919L + j * 331L)))
    val events = (refRows ++ hotRows ++ tailRows)
      .toDF("event_type", "es")
      .select($"event_type", $"es".cast("timestamp").as("ts"))

    // shuffle join only (the 1-row ref lookup keeps its explicit
    // broadcast hint); 16 partitions so the 3 replicated hot-band ids
    // land in a few partitions while the median partition stays tiny;
    // test-sized skew thresholds — production keeps the defaults
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB") {
      val res = Ranges.bandJoin(events)
      val n = res.collect().length
      assert(n > 0, "hot band must produce matched series rows")
      val plan = res.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"expected AQE to skew-split the hot band bucket in:\n$plan")
    }
  }

  test("dedup joins are structurally outside AQE skew-split's reach; the DF cap removes the hot pair mass") {
    import graft.ops.Dedup
    // 600 documents, each otherwise-unique, all sharing ONE boilerplate
    // 3-gram built from padded words (so the hot shuffle partition trips
    // the test-sized byte threshold) — the Zipfian stop-shingle scenario
    // of SURVEY §4 / Dedup's scale notes
    // Skew detection reads COMPRESSED shuffle sizes (MapStatus), and the
    // hot rows are (doc_id, constant-string) pairs that lz4 crushes — so
    // the fixture separates the masses: 2000 hot docs that are EXACTLY the
    // padded hot phrase (one shingle each, no heavy boundary shingles
    // polluting the tail partitions) vs 500 short unique-text tail docs.
    val pad = "z" * 100
    val docs = ((0 until 2000).map(i => (i.toLong, s"${pad}1 ${pad}2 ${pad}3", "s")) ++
      (0 until 500).map(i => ((10000 + i).toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e", "s")))
      .toDF("doc_id", "text", "source")

    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB") {
      // MEASURED BOUNDARY, pinned as assertions: AQE skew-split cannot
      // reach the dedup joins, for two structural reasons —
      //
      // (a) the inverted-index SELF-join is hot on BOTH sides of the same
      //     key; OptimizeSkewedJoin splits one side and replicates the
      //     other, so a both-sides-hot partition is unsplittable;
      // (b) every other join in the family (sh ⋈ freq annotation, the
      //     candidate verify) has an AGGREGATE (distinct / groupBy) as a
      //     join child, and the rule's pattern only matches
      //     Sort ← ShuffleQueryStage directly on both children (a
      //     repartition() interpose doesn't help either — the rule
      //     restricts itself to ENSURE_REQUIREMENTS shuffle origins).
      //
      // A threshold above 1 keeps the OUTPUT empty (hot pairs have jaccard
      // exactly 1.0) so the collects are cheap while the joins still chew
      // the full 2M-pair hot mass. If either assertion flips on a Spark
      // upgrade, AQE learned a new trick — revisit Dedup's scale notes.
      val direct = Dedup.ngramJaccard(docs, minJaccard = 1.01)
      assert(direct.collect().isEmpty)
      val planD = direct.queryExecution.executedPlan.toString
      assert(planD.contains("isFinalPlan=true"))
      assert(!planD.contains("skew=true"),
        "AQE claims to split a both-sides-hot self-join now — revisit the Dedup scale notes")

      val pref = Dedup.ngramJaccardPrefix(docs, minJaccard = 1.01)
      assert(pref.collect().isEmpty)
      val planP = pref.queryExecution.executedPlan.toString
      assert(planP.contains("isFinalPlan=true"))
      assert(!planP.contains("skew=true"),
        "AQE now splits joins with aggregate children — revisit the Dedup scale notes")

      // the DF-capped path never materializes the hot mass at all: the
      // boilerplate shingle (df = 600 > 5) is cut before the join, so the
      // candidate pair count collapses from the hot key's 600·599/2 to 0
      val sh = Dedup.shingles(docs)
      val hotPairs = sh.toDF("doc_a", "sh")
        .join(sh.toDF("doc_b", "sh"), Seq("sh"))
        .where($"doc_a" < $"doc_b").count()
      assert(hotPairs >= 2000L * 1999 / 2)
      val keep = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
        .where($"df" <= 5).select("sh")
      val cappedPairs = sh.join(keep, "sh").select("doc_id", "sh").toDF("doc_a", "sh")
        .join(sh.join(keep, "sh").select("doc_id", "sh").toDF("doc_b", "sh"), Seq("sh"))
        .where($"doc_a" < $"doc_b").count()
      assert(cappedPairs === 0L)
      assert(Dedup.ngramJaccardCapped(docs, minJaccard = 0.5, maxDf = 5).count() === 0L)
    }
  }
}

package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit regression gate: the invariants a human would check by reading
  * the Explain dump, promoted to assertions so a future change that degrades
  * a plan (lost pushdown, a dimension join falling back to sort-merge, an
  * accidental cartesian product) fails `sbt test` instead of needing a
  * 50-plan re-read.
  *
  * Plans are only ANALYZED + physically planned, never executed — the whole
  * suite costs seconds.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.explainString(FormattedMode)
    }

  test("every query plan builds") {
    assert(plans.size === SparkEntry.queries.size)
  }

  test("no unintentional cartesian product anywhere") {
    // BroadcastNestedLoopJoin against a broadcast probe/centroid set is a
    // deliberate design in the similarity queries; a CartesianProduct node
    // (both sides unbroadcast) is never acceptable.
    for ((name, plan) <- plans)
      assert(!plan.contains("CartesianProduct"),
        s"$name plan contains a CartesianProduct")
  }

  test("star-schema dimension joins broadcast, never sort-merge") {
    val plan = plans("q15_region_rollup")
    assert(!plan.contains("SortMergeJoin"),
      "region rollup fell back to SortMergeJoin for a dimension join")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      "expected >=3 broadcast joins in lineitem x supplier x nation x region")
  }

  test("aggregation queries keep map-side partial aggregation") {
    val plan = plans("q13_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      "pricing summary lost its partial (map-side) aggregate")
  }

  test("column pruning reaches the parquet scan") {
    val plan = plans("q13_pricing_summary")
    assert(!plan.contains("l_comment"),
      "pricing summary scan reads l_comment — projection not pruned")
  }

  test("filters push into the parquet scan") {
    val plan = plans("q46_ship_priority")
    assert(plan.contains("PushedFilters: ["), "no pushed-filter section")
    assert(!plan.contains("PushedFilters: []"),
      "ship priority pushed no filters to parquet")
  }

  test("market share broadcasts its dimensions") {
    val plan = plans("q66_market_share")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "q66 lost its broadcast dimension joins")
  }

  test("tfidf and pmi keep map-side partial aggregation") {
    for (name <- Seq("q58_tfidf", "q60_bigram_pmi"))
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost partial aggregation")
  }

  test("weighted sample plans a distributed top-k, not a global sort") {
    assert(plans("q64_weighted_sample").contains("TakeOrderedAndProject"),
      "q64 should go through TakeOrderedAndProject for its global top-k")
  }

  test("sensor ranking reads the fact table at most twice") {
    // one scan for the per-signal envelope+bounds dimension, one for the
    // binning pass; a third scan (the round-1 shape: separate split-bounds
    // pass) must not creep back in
    val nScans = "Scan parquet".r.findAllIn(plans("q05_sensor_rank")).size
    assert(nScans <= 2, s"q05 scans events $nScans times (expected <= 2)")
  }

  test("srp-lsh broadcasts the hyperplane table, never shuffles it") {
    // the declared q74 serves the session-shared pair table (a checkpoint
    // scan), so the property is pinned on the plan of the BUILD itself —
    // the DataFrame-level srpLshAuto the shared state executes once per
    // bench pass
    val plan = ops.Similarity.srpLshAuto(Tables.embeddings(spark, sfDir))
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("BroadcastExchange"),
      "q74 build should broadcast the tiny planes dimension")
  }

  test("decontamination broadcasts the eval-gram side") {
    assert(plans("q78_decontam_flags").contains("BroadcastHashJoin"),
      "q78's eval-gram join should be a broadcast hash join")
  }

  // distinct scan NODES: FormattedMode prints each node in the tree AND the
  // detail section, so a raw substring count double-counts
  private def nScans(name: String): Int =
    """\(\d+\) Scan parquet""".r.findAllIn(plans(name)).size

  test("mixture plan touches the corpus exactly once") {
    assert(nScans("q75_mixture_plan") == 1,
      s"q75 scans documents ${nScans("q75_mixture_plan")} times (expected 1)")
  }

  test("curation funnel reads documents at most twice") {
    assert(nScans("q77_curation_funnel") <= 2,
      s"q77 scans documents ${nScans("q77_curation_funnel")} times (expected <= 2)")
  }

  test("sessionization windows partition per user — no global sort except output order") {
    val plan = plans("q79_sessionization")
    assert(plan.contains("hashpartitioning(user_id"),
      "q79 session windows should hash-partition by user_id")
    assert("rangepartitioning".r.findAllIn(plan).size <= 1,
      "q79 should have at most the final output ordering as a range exchange")
  }

  test("lm scoring keeps map-side partial aggregation") {
    assert("HashAggregate".r.findAllIn(plans("q81_lm_score")).size >= 2,
      "q81 lost partial aggregation")
  }

  test("dsir scoring keeps map-side partial aggregation") {
    assert("HashAggregate".r.findAllIn(plans("q92_dsir_weights")).size >= 2,
      "q92 lost partial aggregation")
  }

  test("scd2 and session analytics shuffle once on the series key") {
    for (name <- Seq("q94_scd2_intervals", "q99_basket_lift",
                     "q100_session_paths", "q105_point_in_time"))
      assert(plans(name).contains("hashpartitioning(user_id"),
        s"$name should hash-partition by user_id")
  }

  test("single-pass stats queries: partial agg kept, trend dim broadcast") {
    // q125/q127 compute all their moments in ONE conditional aggregation —
    // losing map-side combine would ship every event row to the reducers
    for (name <- Seq("q125_welch_weekend", "q127_linear_trend")) {
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost its partial (map-side) aggregate")
      assert(!plans(name).contains("SortMergeJoin"),
        s"$name fell back to a sort-merge join")
    }
  }

  test("tpch join shapes: dims broadcast, disjunction stays one join") {
    for (name <- Seq("q132_local_supplier_volume", "q133_cross_nation_trade"))
      assert(plans(name).contains("BroadcastHashJoin"),
        s"$name lost its broadcast dimension joins")
    // the OR-of-ANDs must be a residual on ONE lineitem⨝part join — three
    // unioned scans would read the fact table three times at 100 TB
    // (FormattedMode prints each scan in the tree AND its detail block, so
    // count the per-scan Location lines)
    val p = plans("q134_disjunctive_revenue")
    assert("Location: InMemoryFileIndex".r.findAllIn(p).size <= 2,
      "q134 disjunction expanded into extra table scans")
    assert(p.contains("LessThanOrEqual(l_quantity"),
      "q134 lost the shared l_quantity<=30 envelope pushdown")
    // Catalyst should also derive the per-side OR envelope into part's scan
    assert(p.contains("Or(Or(And(EqualTo(p_brand"),
      "q134 lost the derived per-side OR pushdown on part")
  }

  test("rank-filter top-N queries get the WindowGroupLimit pushdown") {
    // row_number() <= k filters should plan a WindowGroupLimit below the
    // Window (partial per-partition limit before the shuffle, final after) —
    // without it, every group sorts ALL its rows at 100 TB just to keep k
    for (name <- Seq("q16_window_topn", "q58_tfidf", "q36_heavy_hitters"))
      assert(plans(name).contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit rank-limit pushdown")
  }

  test("chunk plan is map-only: no shuffle except the output ordering") {
    // the queries() entry appends an orderBy for deterministic output, so
    // exactly one range exchange is expected — any hash exchange means the
    // chunking stopped being a pure map
    val plan = plans("q90_chunk_plan")
    assert(!plan.contains("hashpartitioning"),
      "q90 chunking should be a pure map — found a hash shuffle")
    assert("rangepartitioning".r.findAllIn(plan).size <= 1)
  }

  test("AQE reuses the shared shingle stage at runtime — corpus tokenized once") {
    // the static plan prints the shingle subtree once per consumer; the
    // EXECUTED adaptive plan must collapse them via stage reuse, or a 100 TB
    // corpus gets re-tokenized for sizes/frequencies/prefix/verify. The
    // declared q21 now serves the session-shared truth table at K = 1, so
    // the property is pinned on the prefix-join build that shared state
    // executes once per bench pass.
    val df = ops.Dedup.ngramJaccardPrefix(Tables.documents(spark, sfDir))
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("isFinalPlan=true"))
    assert(s.contains("Reused"),
      "no stage/exchange reuse in the prefix-join build's executed plan")
  }

  test("round-4 widening: one-scan aggregates keep partial aggregation") {
    // the inference/EVT suites must reduce map-side — a lost partial agg
    // means every raw row crosses the shuffle
    for (name <- Seq("q206_jarque_bera", "q208_anova_f", "q209_bartlett",
                     "q210_cohens_d", "q216_unpivot_measures",
                     "q222_tokenizer_fertility", "q234_time_weighted_avg"))
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost its map-side partial aggregate")
  }

  test("q236 column profile is a single lineitem scan through Expand") {
    val plan = plans("q236_column_profile")
    // the formatted dump names each node twice (tree + detail section)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size == 1,
      "column profile re-scans lineitem — the multi-distinct Expand " +
        "should profile all columns in one pass")
    assert(plan.contains("Expand"),
      "multi-distinct no longer plans through Expand")
  }

  test("q237 orphan anti-joins are hash joins (BNLJ only on 1-row counts)") {
    val plan = plans("q237_fk_orphans")
    assert("BroadcastHashJoin LeftAnti".r.findAllIn(plan).size == 3,
      "an orphan check lost its broadcast hash anti join")
  }

  test("q221 naive-bayes priors and vocab broadcast to the scoring join") {
    val plan = plans("q221_naive_bayes")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1
      || plan.contains("BroadcastExchange"),
      "NB scoring joins lost their broadcast sides")
  }

  test("q230 json parse stays in the scan projection (no extra exchange)") {
    val plan = plans("q230_json_props")
    assert(plan.contains("from_json"), "q230 no longer parses with from_json")
    // one shuffle for the final groupBy is expected; a second would mean
    // the parse forced a materialization
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 1,
      "q230 introduced an extra exchange around the JSON parse")
  }

  test("round-5 broadcast contracts: quantile fences, OLS brands, tide") {
    // q261: the per-series Q1/Q3 fence table must broadcast back to the
    // fact scan, never shuffle it
    assert(plans("q261_iqr_outliers").contains("BroadcastExchange"),
      "q261 fences no longer broadcast")
    // q274: the nation dim and tide aggregate are broadcast by hint
    assert("BroadcastHashJoin".r.findAllIn(plans("q274_against_tide"))
      .size >= 2, "q274 lost its broadcast joins")
    // q276: nation dim broadcast on the 4-way star
    assert(plans("q276_price_volume_mix").contains("BroadcastHashJoin"),
      "q276 nation join fell back to shuffle")
  }

  test("round-5 aggregates keep map-side partial combine") {
    for (name <- Seq("q247_ols_normal_eq", "q253_norm_funnel",
                     "q263_grouped_ols", "q272_mode_per_group",
                     "q277_fanout_profile"))
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost partial aggregation")
  }

  test("q250 rolling distinct fans out the distinct table, not the fact") {
    // the 7x explode must consume the already-deduped (day, user) table:
    // in the formatted dump (root first, scans deepest) some HashAggregate
    // must sit DEEPER than the Generate — if the explode ran on the raw
    // fact, Generate would be the deepest operator above the scan
    val plan = plans("q250_rolling_distinct")
    val gen = plan.indexOf("Generate")
    assert(gen >= 0, "q250 lost its explode")
    assert(plan.lastIndexOf("HashAggregate") > gen,
      "q250 explodes before deduplicating (fan-out on the raw fact)")
  }

  test("global-order analytics run the two-pass prefix shape, not one task") {
    // q119/q121/q238/q244/q264 order an unbounded-key aggregate globally;
    // each must go through Prefix.over — local windows hash-partitioned by
    // the range bucket id — and never a single-task ntile/row_number/sum
    // window over the whole aggregate
    for (name <- Seq("q119_abc_classes", "q121_revenue_gini",
                     "q238_pareto_frontier", "q244_lorenz_deciles",
                     "q264_rfm_segments", "q309_spend_migration",
                     "q325_abc_xyz", "q342_top_heavy")) {
      val plan = plans(name)
      assert(plan.contains("hashpartitioning(__prefix_pid"),
        s"$name lost the distributed prefix shape (no __prefix_pid partition)")
      assert(!plan.contains("ntile("),
        s"$name still plans a single-task ntile window")
      // every UNPARTITIONED window must consume the per-bucket totals
      // (__t_ columns, <= bucket-count rows) — never the data itself.
      // Partitioned windows show three bracket lists in their detail
      // Arguments (exprs, partition, order); unpartitioned show two.
      val winBlock = """\(\d+\) Window\nInput[^\n]*: (\[[^\n]*\])\nArguments: ([^\n]*)""".r
      for (m <- winBlock.findAllMatchIn(plan)) {
        val partitioned = "\\], \\[".r.findAllIn(m.group(2)).size == 2
        // bounded-by-construction inputs: the per-bucket totals (__t_,
        // <= bucket count) and q244's 10-row decile rollup
        if (!partitioned && !m.group(1).contains("decile#"))
          assert(m.group(1).contains("__t_"),
            s"$name has an unpartitioned Window over ${m.group(1)} — " +
              "a single task holds that whole input")
      }
    }
  }

  test("round-6 widening: moment-heavy aggregates keep map-side combine") {
    // the moment/entropy suites must reduce map-side — a lost partial agg
    // ships every raw row to the reducers at 100 TB
    for (name <- Seq("q306_theil_decomposition", "q316_bimodality",
                     "q321_mutual_information", "q326_pairwise_contrasts",
                     "q293_simpson_diversity", "q312_brand_revenue_corr"))
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost its map-side partial aggregate")
  }

  test("round-6 widening: scalar/dimension sides broadcast") {
    for (name <- Seq("q315_decayed_share", "q305_nation_gini",
                     "q307_diff_in_diff"))
      assert(plans(name).contains("BroadcastExchange")
        || plans(name).contains("BroadcastHashJoin"),
        s"$name lost its broadcast side")
  }

  test("round-6 batches 12-15: broadcast sides survive planning") {
    // label directory (q346), grand totals (q347), global span (q350),
    // ending total (q353), sampler spine counts (q355)
    for (name <- Seq("q346_triplet_margin", "q347_icc_ship_delay",
                     "q350_clumpiness", "q353_price_endings"))
      assert(plans(name).contains("BroadcastExchange")
        || plans(name).contains("BroadcastHashJoin"),
        s"$name lost its broadcast side")
  }

  test("round-6 batches 12-15: moment aggregates keep map-side combine") {
    for (name <- Seq("q344_chunk_ttr", "q345_wilson_returns",
                     "q348_taylor_law", "q356_kish_ess",
                     "q351_semivariogram", "q357_von_neumann"))
      assert("HashAggregate".r.findAllIn(plans(name)).size >= 2,
        s"$name lost its map-side partial aggregate")
  }

  test("round-6 batches 12-15: windows shuffle on their entity key") {
    // q349/q350/q352/q357 windows must partition on their entity key — a
    // missing partition spec would single-task the whole fact table. The
    // Arguments bracket-count heuristic is ambiguous for order-less
    // windows, so pin the keyed exchange directly AND assert every
    // windowspecdefinition leads with that key. (q355's windows run on
    // the 4096-row bin spine and q343's on the day table — bounded by
    // construction, documented in their scaladoc.)
    val keyed = Seq(
      "q349_purchase_entropy" -> "o_custkey",
      "q350_clumpiness" -> "o_custkey",
      "q352_priority_markov" -> "o_custkey",
      "q357_von_neumann" -> "event_type")
    for ((name, key) <- keyed) {
      val plan = plans(name)
      assert(plan.contains(s"hashpartitioning($key"),
        s"$name window input is not hash-partitioned on $key")
      for (m <- """windowspecdefinition\(([a-z_0-9]+)""".r
             .findAllMatchIn(plan))
        assert(m.group(1) == key,
          s"$name has a window keyed on ${m.group(1)}, expected $key")
    }
  }

  test("q406 sketch builds are per-side TakeOrdered, never a 2-partition sort") {
    // the per-side k-minimum sketch must plan as TakeOrderedAndProject
    // branches (per-partition heaps of k) — a row_number window partitioned
    // by the 2-valued side flag puts ALL distinct shingle hashes of a
    // corpus half into one task's sort at 100 TB
    val plan = plans("q406_sketch_resemblance")
    assert("""\(\d+\) TakeOrderedAndProject""".r.findAllIn(plan).size >= 2,
      "q406 lost its per-side TakeOrderedAndProject branches")
    assert(!plan.contains("hashpartitioning(even"),
      "q406 re-grew a window/sort partitioned on the 2-valued side flag")
  }

  test("round-9/10 ANN newcomers: rank-limit pushdown survives, no lost broadcast") {
    // the graph-ANN and recsys audits are window-top-k machines — losing
    // WindowGroupLimit means every probe's full candidate list sorts at scale
    assert(plans("q391_ivfpq_recall").contains("WindowGroupLimit"),
      "q391 lost the WindowGroupLimit rank-limit pushdown")
    // q440/q441's declared plans read the session-shared beam walk (a
    // checkpoint scan, like q423/q439's rec pipeline); the rank-limit
    // property is pinned on the walk build itself
    val walkPlan = ops.Similarity.graphAnnRecall(
      Tables.embeddings(spark, sfDir))
      .queryExecution.explainString(FormattedMode)
    assert(walkPlan.contains("WindowGroupLimit"),
      "q440/q441 walk build lost the WindowGroupLimit rank-limit pushdown")
    // q423/q439's declared plans read the session-shared rec pipeline (a
    // checkpoint scan); the rank-limit property is pinned on the build
    val knnPlan = ops.Recommend.itemKnnEval(Tables.orders(spark, sfDir),
      Tables.lineitem(spark, sfDir))
      .queryExecution.explainString(FormattedMode)
    assert(knnPlan.contains("WindowGroupLimit"),
      "q423/q439 build lost the WindowGroupLimit rank-limit pushdown")
    // the PQ comparison's codebook/alloc joins must stay broadcast
    assert(plans("q393_balanced_pq").contains("BroadcastHashJoin"),
      "q393 lost its broadcast codebook/alloc joins")
  }

  test("round-11 newcomers: broadcast contracts and join shapes") {
    // q442: the per-flag fit and qhat tables are |flags| rows — broadcast,
    // never a sort-merge back to the fact table
    assert(!plans("q442_conformal_interval").contains("SortMergeJoin"),
      "q442's fit/qhat joins fell back to sort-merge")
    // q444: sign signatures rank through WindowGroupLimit; the audit-tail
    // truth/approx joins (nProbes·k rows) broadcast
    assert(plans("q444_binary_embed_recall").contains("WindowGroupLimit"),
      "q444 lost the hamming/truth top-k pushdown")
    assert(!plans("q444_binary_embed_recall").contains("SortMergeJoin"),
      "q444's 50-row audit-tail joins fell back to sort-merge")
    // q446: the band join is an EQUI join on the bucket id — an
    // inequality-only join would plan a nested loop over the DATA sides
    // (the 1-row ref_type broadcast is the only BNLJ allowed)
    val p446 = plans("q446_band_join")
    assert(p446.contains("explode([-1,0,1])"),
      "q446 lost the 3-bucket replication (the equi-join key source)")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p446).size <= 2,
      "q446 grew a nested-loop join beyond the 1-row ref broadcasts")
    // q445/q447: the part dimension broadcasts
    for (name <- Seq("q445_stratified_ate", "q447_woe_iv"))
      assert(plans(name).contains("BroadcastHashJoin"),
        s"$name lost its broadcast part-dimension join")
  }

  test("whole-stage codegen covers the relational core") {
    // The AQE wrapper hides codegen spans until execution; the static plan
    // (AQE off) shows them.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      for (name <- Seq("q13_pricing_summary", "q14_top_revenue",
                       "q16_window_topn", "q45_window_suite")) {
        val plan = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        assert(plan.contains("codegen id"),
          s"$name has no whole-stage-codegen span (no [codegen id : N] marker)")
      }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query is also expressed as DuckDB-runnable SQL in [[oracleSql]];
  * column names, types and rounding are aligned on both sides (SURVEY.md §3).
  * Queries end with an ORDER BY over their natural key so output is
  * deterministic regardless of partitioning.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SensorRank.sensorRank(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_resample_avg" -> ((s, d) =>
      TimeSeries.resampleAvg(s, d).orderBy(col("event_type"), col("bucket_start"))),
    "q02_resample_ffill" -> ((s, d) =>
      TimeSeries.resampleFfill(s, d).orderBy(col("event_type"), col("grid_start"))),
    "q03_rolling_avg" -> ((s, d) =>
      TimeSeries.rollingAvg(s, d).orderBy(col("user_id"), col("event_id"))),
    "q04_range_flags" -> ((s, d) =>
      Ranges.rangeFlags(s, d).orderBy(col("event_type"), col("in_anomaly"))),
    "q05_sensor_rank" -> ((s, d) =>
      SensorRank.sensorRank(s, d).orderBy(col("rank"))),
    "q06_anomaly_ranges" -> ((s, d) =>
      Ranges.anomalyRanges(s, d).orderBy(col("user_id"), col("range_start"))),
    "q07_off_condition" -> ((s, d) =>
      Ranges.offCondition(s, d).orderBy(col("event_type"))),
    "q08_train_test_split" -> ((s, d) =>
      Ranges.trainTestSplit(s, d).orderBy(col("event_type"), col("phase"))),
    "q09_diag_expand" -> ((s, d) =>
      Ranges.diagExpand(s, d).orderBy(col("event_type"))),
    "q10_schema_infer" -> ((s, d) =>
      Ranges.schemaInfer(s, d).orderBy(col("event_type"))),
    "q11_seq_extract" -> ((s, d) =>
      TimeSeries.seqExtract(s, d).orderBy(col("seq"), col("event_type"))),
    "q12_interp_linear" -> ((s, d) =>
      TimeSeries.interpLinear(s, d).orderBy(col("event_type"), col("grid_start"))),
    "q13_pricing_summary" -> ((s, d) =>
      Relational.pricingSummary(s, d).orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q14_top_revenue" -> ((s, d) => Relational.topRevenue(s, d)),
    "q15_region_rollup" -> ((s, d) =>
      Relational.regionRollup(s, d).orderBy(col("r_name"), col("n_name"))),
    "q16_window_topn" -> ((s, d) =>
      Relational.windowTopN(s, d).orderBy(col("o_custkey"), col("rk"))),
    "q17_semi_anti" -> ((s, d) =>
      Relational.semiAnti(s, d).orderBy(col("c_mktsegment"))),
    "q18_decorrelated_agg" -> ((s, d) =>
      Relational.decorrelatedAgg(s, d).orderBy(col("o_custkey"))),
    "q20_dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(s, d).orderBy(col("source"))),
    // the exact-audit config: prefix-filtered (AllPairs) pair join inside
    // ONE data-derived md5 stratum (~5k docs at any scale; K=1 at driver
    // SFs so the full exact join still gates there). DedupSpec asserts the
    // underlying prefix path equals the direct inverted-index join.
    "q21_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardStratumAudit(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q22_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q23_simhash" -> ((s, d) =>
      Dedup.simhash(s, d).orderBy(col("doc_id"))),
    "q24_embed_neardup" -> ((s, d) =>
      Dedup.embedNearDup(s, d).orderBy(col("label"), col("vec_a"), col("vec_b"))),
    "q25_cosine_topk" -> ((s, d) =>
      Similarity.cosineTopK(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q26_ivf_ann" -> ((s, d) =>
      Similarity.ivfAnn(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q27_lang_id" -> ((s, d) =>
      TextAnalysis.langId(s, d).orderBy(col("lang"), col("pred_lang"))),
    "q28_quality_score" -> ((s, d) =>
      TextAnalysis.qualityScore(s, d).orderBy(col("doc_id"))),
    "q29_token_count" -> ((s, d) =>
      TextAnalysis.tokenCount(s, d).orderBy(col("lang"))),
    "q30_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(s, d).orderBy(col("fp"))),
    "q31_multimodal_meta" -> ((s, d) =>
      Multimodal.multimodalMeta(s, d).orderBy(col("kind"))),
    "q32_stream_windowed" -> ((s, d) =>
      graft.streaming.EventStream.windowedAgg(s, d).orderBy(col("win_start"), col("event_type"))),
    "q33_asof_join" -> ((s, d) =>
      TimeSeries.asofJoin(s, d).orderBy(col("event_id"))),
    "q34_percentiles" -> ((s, d) =>
      Relational.percentileSummary(s, d).orderBy(col("event_type"))),
    "q35_revenue_rollup" -> ((s, d) =>
      Relational.revenueRollup(s, d).orderBy(col("r_name"), col("n_name"))),
    "q36_heavy_hitters" -> ((s, d) =>
      TextAnalysis.heavyHitters(s, d).orderBy(col("lang"), col("rn"))),
    "q37_event_pivot" -> ((s, d) =>
      Relational.eventPivot(s, d).orderBy(col("user_id"))),
    // self-validating: estimate values aren't cross-engine portable, so the
    // output carries exact counts + a sketch-within-tolerance assertion the
    // oracle checks (it expects sketch_ok = true)
    "q38_sketch_distinct" -> ((s, d) =>
      Sketches.sketchDistinct(s, d).orderBy(col("event_type"))),
    "q39_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q40_gap_census" -> ((s, d) =>
      TimeSeries.gapCensus(s, d).orderBy(col("event_type"))),
    "q41_zscore_outliers" -> ((s, d) =>
      TimeSeries.zscoreOutliers(s, d).orderBy(col("event_type"), col("rn"))),
    "q42_autocorr" -> ((s, d) =>
      TimeSeries.autocorr(s, d).orderBy(col("user_id"))),
    "q43_ann_recall" -> ((s, d) =>
      Similarity.annRecall(s, d).orderBy(col("probe_id"))),
    "q44_corr_matrix" -> ((s, d) =>
      TimeSeries.corrMatrix(s, d).orderBy(col("type_a"), col("type_b"))),
    "q45_window_suite" -> ((s, d) =>
      Relational.windowSuite(s, d).orderBy(col("user_id"), col("event_id"))),
    "q46_ship_priority" -> ((s, d) => Relational.shipPriority(s, d)),
    "q47_edit_distance" -> ((s, d) =>
      Dedup.editDistancePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q48_funnel" -> ((s, d) =>
      Ranges.funnelConversion(s, d).orderBy(col("user_id"))),
    "q49_mad" -> ((s, d) =>
      Ranges.madPerSeries(s, d).orderBy(col("event_type"))),
    // oracle joins on the raw 32-char substrings; hash-join equivalence holds
    // because rolling_hash is a 61-bit double hash (collisions ~impossible)
    "q50_chunk_overlap" -> ((s, d) =>
      Dedup.chunkOverlap(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q51_hourly_heatmap" -> ((s, d) =>
      TimeSeries.hourlyHeatmap(s, d).orderBy(col("dow"), col("hod"))),
    "q52_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(s, d).orderBy(col("doc_id"))),
    "q53_repetition_filters" -> ((s, d) =>
      TextAnalysis.repetitionFilters(s, d).orderBy(col("doc_id"))),
    "q54_stratified_sample" -> ((s, d) =>
      Curation.stratifiedSample(s, d).orderBy(col("doc_id"))),
    "q55_seq_packing" -> ((s, d) =>
      Curation.seqPacking(s, d).orderBy(col("doc_id"))),
    "q56_centroid_quality" -> ((s, d) =>
      Similarity.centroidQuality(s, d).orderBy(col("label"))),
    "q57_zipf_slope" -> ((s, d) =>
      TextAnalysis.zipfSlope(s, d).orderBy(col("lang"))),
    "q58_tfidf" -> ((s, d) =>
      TextAnalysis.tfidfTopTerms(s, d).orderBy(col("doc_id"), col("rn"))),
    "q59_minhash_accuracy" -> ((s, d) =>
      Dedup.minhashEstimate(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q60_bigram_pmi" -> ((s, d) =>
      TextAnalysis.bigramPmi(s, d).orderBy(col("lang"), col("rn"))),
    "q61_contamination" -> ((s, d) =>
      Dedup.sourceContamination(s, d).orderBy(col("source_a"), col("source_b"))),
    "q62_key_skew" -> ((s, d) =>
      Diagnostics.keySkew(s, d).orderBy(col("bucket"))),
    "q63_cohort_retention" -> ((s, d) =>
      Ranges.cohortRetention(s, d).orderBy(col("cohort_week"), col("week_offset"))),
    "q64_weighted_sample" -> ((s, d) =>
      Curation.weightedSample(s, d).orderBy(col("rn"))),
    "q65_quantized_recall" -> ((s, d) =>
      Similarity.quantizedRecall(s, d).orderBy(col("probe_id"))),
    "q66_market_share" -> ((s, d) =>
      Relational.marketShare(s, d).orderBy(col("o_year"))),
    "q67_transitions" -> ((s, d) =>
      Ranges.transitionMatrix(s, d).orderBy(col("from_type"), col("to_type"))),
    "q68_source_scorecard" -> ((s, d) =>
      TextAnalysis.sourceScorecard(s, d).orderBy(col("source"))),
    "q69_ship_delay_sla" -> ((s, d) =>
      Relational.shipDelayPercentiles(s, d).orderBy(col("o_orderpriority"))),
    "q70_degree_census" -> ((s, d) =>
      Relational.orderDegreeCensus(s, d).orderBy(col("bucket"))),
    "q71_seasonal_index" -> ((s, d) =>
      TimeSeries.seasonalIndex(s, d).orderBy(col("event_type"), col("dow"))),
    "q72_importance_evolution" -> ((s, d) =>
      SensorRank.importanceEvolution(s, d).orderBy(col("rnk"), col("bucket"))),
    "q73_lsh_census" -> ((s, d) =>
      Dedup.lshBucketCensus(s, d).orderBy(col("band"))),
    "q74_srp_lsh" -> ((s, d) =>
      Similarity.srpLsh(s, d).orderBy(col("vec_a"), col("vec_b"))),
    "q75_mixture_plan" -> ((s, d) =>
      Curation.mixturePlan(s, d).orderBy(col("lang"))),
    "q76_semantic_prune" -> ((s, d) =>
      Similarity.semanticPrune(s, d).orderBy(col("vec_id"))),
    "q77_curation_funnel" -> ((s, d) =>
      Curation.curationFunnel(s, d).orderBy(col("source"))),
    "q78_decontam_flags" -> ((s, d) =>
      Dedup.decontamFlags(s, d).orderBy(col("doc_id"))),
    "q79_sessionization" -> ((s, d) =>
      Ranges.sessionization(s, d).orderBy(col("user_id"), col("sess_n"))),
    "q80_pipeline_manifest" -> ((s, d) =>
      Curation.pipelineManifest(s, d).orderBy(col("doc_id"))),
    "q81_lm_score" -> ((s, d) =>
      TextAnalysis.lmScore(s, d).orderBy(col("doc_id"))),
    "q82_bm25_topk" -> ((s, d) =>
      Retrieval.bm25TopK(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q83_leakage_safe_split" -> ((s, d) =>
      Dedup.leakageSafeSplit(s, d).orderBy(col("split"))),
    "q84_attribution" -> ((s, d) =>
      Attribution.lastTouch(s, d).orderBy(col("purchase_id"))),
    "q85_embedding_stats" -> ((s, d) =>
      Similarity.embeddingStats(s, d).orderBy(col("dim"))),
    "q86_novelty_census" -> ((s, d) =>
      TextAnalysis.noveltyCensus(s, d).orderBy(col("source"))),
    "q87_drift_psi" -> ((s, d) =>
      Drift.driftPsi(s, d).orderBy(col("rnk"))),
    "q88_pii_scrub" -> ((s, d) =>
      TextAnalysis.piiScrubCensus(s, d).orderBy(col("source"))),
    "q89_quantile_accuracy" -> ((s, d) =>
      Sketches.quantileAccuracy(s, d).orderBy(col("grp"))),
    "q90_chunk_plan" -> ((s, d) =>
      Curation.chunkPlan(s, d).orderBy(col("doc_id"), col("chunk_idx"))),
    "q91_cluster_balance" -> ((s, d) =>
      Similarity.clusterBalance(s, d).orderBy(col("label"))),
    "q92_dsir_weights" -> ((s, d) =>
      TextAnalysis.dsirWeights(s, d).orderBy(col("doc_id"))),
    "q93_cluster_keep_best" -> ((s, d) =>
      Dedup.clusterKeepBest(s, d).orderBy(col("doc_id"))),
    "q94_scd2_intervals" -> ((s, d) =>
      Ranges.scd2Intervals(s, d).orderBy(col("user_id"), col("seg_n"))),
    "q95_length_histogram" -> ((s, d) =>
      Curation.lengthHistogram(s, d).orderBy(col("lang"), col("bucket"))),
    "q96_containment" -> ((s, d) =>
      Dedup.containmentPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q97_rolling_quantiles" -> ((s, d) =>
      TimeSeries.rollingQuantiles(s, d).orderBy(col("user_id"), col("event_id"))),
    // self-validating like q38: sketch estimates aren't cross-engine
    // portable, so exact counts anchor the hash and ok-flags carry the
    // sketch/merge accuracy contract
    "q98_sketch_rollup" -> ((s, d) =>
      Sketches.sketchRollup(s, d).orderBy(col("source"))),
    "q99_basket_lift" -> ((s, d) =>
      Ranges.basketLift(s, d).orderBy(col("type_a"), col("type_b"))),
    "q100_session_paths" -> ((s, d) =>
      Ranges.sessionPaths(s, d).orderBy(col("rnk"))),
    "q101_rate_spikes" -> ((s, d) =>
      TimeSeries.rateSpikes(s, d).orderBy(col("user_id"), col("rn"))),
    "q102_burstiness" -> ((s, d) =>
      TimeSeries.burstiness(s, d).orderBy(col("user_id"))),
    "q103_centroid_margins" -> ((s, d) =>
      Similarity.centroidMargins(s, d).orderBy(col("label"))),
    "q104_sole_late_supplier" -> ((s, d) =>
      Relational.soleLateSuppliers(s, d).orderBy(col("rnk"))),
    "q105_point_in_time" -> ((s, d) =>
      Ranges.pointInTimeJoin(s, d).orderBy(col("event_id"))),
    "q106_maint_overlap" -> ((s, d) =>
      Ranges.maintenanceOverlap(s, d).orderBy(col("user_id"))),
    "q107_promo_share" -> ((s, d) =>
      Relational.promoShareMonthly(s, d).orderBy(col("ship_month"))),
    "q109_returns_impact" -> ((s, d) =>
      Relational.returnsImpact(s, d).orderBy(col("rnk"))),
    "q110_ewma" -> ((s, d) =>
      TimeSeries.ewma(s, d).orderBy(col("user_id"), col("event_id"))),
    "q111_changepoint" -> ((s, d) =>
      TimeSeries.changepoint(s, d).orderBy(col("user_id"))),
    "q112_idle_customers" -> ((s, d) =>
      Relational.idleCustomers(s, d).orderBy(col("c_mktsegment"))),
    "q113_token_entropy" -> ((s, d) =>
      TextAnalysis.tokenEntropy(s, d).orderBy(col("doc_id"))),
    "q114_order_backlog" -> ((s, d) =>
      Relational.orderBacklog(s, d).orderBy(col("day_num"))),
    "q115_source_divergence" -> ((s, d) =>
      TextAnalysis.sourceDivergence(s, d).orderBy(col("src_a"), col("src_b"))),
    "q116_seasonal_outliers" -> ((s, d) =>
      TimeSeries.seasonalOutliers(s, d).orderBy(col("event_type"), col("rn"))),
    "q117_supplier_hhi" -> ((s, d) =>
      Relational.supplierHhi(s, d).orderBy(col("n_name"))),
    "q118_stickiness" -> ((s, d) =>
      Ranges.stickiness(s, d).orderBy(col("wk"))),
    "q119_abc_classes" -> ((s, d) =>
      Relational.abcClassification(s, d).orderBy(col("cls"))),
    "q120_priority_mix" -> ((s, d) =>
      Relational.priorityMix(s, d).orderBy(col("m"), col("prio"))),
    "q121_revenue_gini" -> ((s, d) => Relational.revenueGini(s, d)),
    "q122_norm_outliers" -> ((s, d) =>
      Similarity.normOutliers(s, d).orderBy(col("label"), col("rn"))),
    "q123_length_psi" -> ((s, d) =>
      TextAnalysis.lengthPsi(s, d).orderBy(col("source"))),
    "q124_merged_incidents" -> ((s, d) =>
      Ranges.mergedIncidents(s, d).orderBy(col("user_id"))),
    "q125_welch_weekend" -> ((s, d) =>
      TimeSeries.welchWeekend(s, d).orderBy(col("event_type"))),
    "q126_session_durations" -> ((s, d) =>
      Ranges.sessionDurations(s, d).orderBy(col("bucket"))),
    "q127_linear_trend" -> ((s, d) =>
      TimeSeries.linearTrend(s, d).orderBy(col("event_type"))),
    "q128_ks_drift" -> ((s, d) =>
      Drift.ksDrift(s, d).orderBy(col("event_type"))),
    "q129_heaps_law" -> ((s, d) =>
      TextAnalysis.heapsLaw(s, d).orderBy(col("lang"))),
    "q130_mann_whitney" -> ((s, d) =>
      TimeSeries.mannWhitney(s, d).orderBy(col("event_type"))),
    "q131_dominant_period" -> ((s, d) =>
      TimeSeries.dominantPeriod(s, d).orderBy(col("event_type"))),
    "q132_local_supplier_volume" -> ((s, d) =>
      Relational.localSupplierVolume(s, d).orderBy(col("nation"))),
    "q133_cross_nation_trade" -> ((s, d) =>
      Relational.crossNationTrade(s, d)
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))),
    "q134_disjunctive_revenue" -> ((s, d) =>
      Relational.disjunctiveRevenue(s, d).orderBy(col("p_brand"))),
    "q135_survival" -> ((s, d) =>
      Ranges.survivalCurve(s, d).orderBy(col("t_day"))),
    "q136_matryoshka_recall" -> ((s, d) =>
      Similarity.matryoshkaRecall(s, d).orderBy(col("trunc_dim"))),
    "q137_rrf_fusion" -> ((s, d) =>
      Retrieval.rrfFusion(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q138_rank_churn" -> ((s, d) =>
      TextAnalysis.rankChurn(s, d).orderBy(col("lang"))),
    "q139_cusum" -> ((s, d) =>
      TimeSeries.cusum(s, d).orderBy(col("event_type"))),
    "q140_quantile_drift" -> ((s, d) =>
      Drift.quantileDrift(s, d).orderBy(col("event_type"))),
    "q141_winsorized" -> ((s, d) =>
      Drift.winsorizedStats(s, d).orderBy(col("event_type"))),
    "q108_cohort_ltv" -> ((s, d) =>
      Relational.cohortLtv(s, d).orderBy(col("cohort_wk"), col("age_wk"))),
    "q142_supplier_pagerank" -> ((s, d) =>
      Graph.supplierPageRank(s, d).orderBy(col("id"))),
    "q143_copurchase_triangles" -> ((s, d) =>
      Graph.copurchaseTriangles(s, d).orderBy(col("id"))),
    "q144_assortativity" -> ((s, d) => Graph.degreeAssortativity(s, d)),
    "q145_adamic_adar" -> ((s, d) => Graph.adamicAdar(s, d)),
    "q146_copurchase_kcore" -> ((s, d) =>
      Graph.copurchaseKcore(s, d).orderBy(col("part"))),
    "q147_revenue_scan" -> ((s, d) => Relational.revenueScan(s, d)),
    "q148_profit_by_nation" -> ((s, d) =>
      Relational.profitByNation(s, d).orderBy(col("nation"), col("o_year"))),
    "q149_top_supplier" -> ((s, d) => Relational.topSupplier(s, d)),
    "q150_small_qty_revenue" -> ((s, d) => Relational.smallQtyRevenue(s, d)),
    "q151_big_orders" -> ((s, d) => Relational.bigOrders(s, d)),
    "q152_theil_sen" -> ((s, d) =>
      TimeSeries.theilSen(s, d).orderBy(col("event_type"))),
    "q153_lead_lag" -> ((s, d) =>
      TimeSeries.leadLag(s, d).orderBy(col("type_a"), col("type_b"))),
    "q154_benford" -> ((s, d) =>
      Diagnostics.benfordCensus(s, d).orderBy(col("event_type"), col("digit"))),
    "q155_bootstrap_ci" -> ((s, d) =>
      Diagnostics.bootstrapCi(s, d).orderBy(col("event_type"))),
    "q156_substring_spans" -> ((s, d) =>
      Dedup.substringSpans(s, d)
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))),
    "q157_communities" -> ((s, d) =>
      Graph.copurchaseCommunities(s, d).orderBy(col("part"))),
    "q158_span_removal" -> ((s, d) =>
      Dedup.spanRemoval(s, d).orderBy(col("doc_id"))),
    "q159_cust_opportunity" -> ((s, d) =>
      Relational.custOpportunity(s, d).orderBy(col("nation"))),
    "q160_hits_authority" -> ((s, d) => Graph.supplierHits(s, d)),
    "q161_jaccard_neighbors" -> ((s, d) => Graph.jaccardNeighbors(s, d)),
    "q162_peak_census" -> ((s, d) =>
      TimeSeries.peakCensus(s, d).orderBy(col("event_type"))),
    "q163_source_dup_matrix" -> ((s, d) =>
      Dedup.sourceDupMatrix(s, d).orderBy(col("src_a"), col("src_b"))),
    "q164_reorder_gaps" -> ((s, d) =>
      Relational.reorderGaps(s, d).orderBy(col("c_mktsegment"))),
    "q165_mmr_topk" -> ((s, d) =>
      Similarity.mmrTopK(s, d).orderBy(col("rnk"))),
    "q166_supplier_affinity" -> ((s, d) => Graph.supplierAffinity(s, d)),
    "q167_min_price_supplier" -> ((s, d) => Relational.minPriceSupplier(s, d)),
    "q168_hurst_rs" -> ((s, d) =>
      TimeSeries.hurstRs(s, d).orderBy(col("event_type"))),
    "q169_asof_forward" -> ((s, d) =>
      TimeSeries.asofForward(s, d).orderBy(col("o_orderkey"))),
    "q170_clustering_coeff" -> ((s, d) =>
      Graph.clusteringCoeff(s, d).orderBy(col("part"))),
    "q171_funnel_latency" -> ((s, d) => Ranges.funnelLatency(s, d)),
    "q172_weighted_communities" -> ((s, d) =>
      Graph.copurchaseCommunitiesWeighted(s, d).orderBy(col("part"))),
    "q173_degree_power_law" -> ((s, d) => Graph.degreePowerLaw(s, d)),
    "q174_seasonal_strength" -> ((s, d) =>
      TimeSeries.seasonalStrength(s, d).orderBy(col("event_type"))),
    "q175_priority_wait" -> ((s, d) =>
      Relational.priorityWait(s, d).orderBy(col("o_orderpriority"))),
    "q176_late_ship_mix" -> ((s, d) =>
      Relational.lateShipMix(s, d).orderBy(col("ship_year"))),
    "q177_custdist" -> ((s, d) =>
      Relational.custDist(s, d).orderBy(col("c_count"))),
    "q178_supplier_breadth" -> ((s, d) =>
      Relational.supplierBreadth(s, d).orderBy(col("p_brand"), col("p_size"))),
    "q179_dominant_supplier" -> ((s, d) =>
      Relational.dominantSupplier(s, d).orderBy(col("s_suppkey"))),
    "q180_rolling_moments" -> ((s, d) =>
      TimeSeries.rollingMoments(s, d).orderBy(col("event_type"), col("event_id"))),
    "q181_runs_test" -> ((s, d) =>
      TimeSeries.runsTest(s, d).orderBy(col("event_type"))),
    "q182_drawdown" -> ((s, d) =>
      TimeSeries.drawdown(s, d).orderBy(col("event_type"))),
    "q183_variance_ratio" -> ((s, d) =>
      TimeSeries.varianceRatio(s, d).orderBy(col("event_type"))),
    "q184_run_length_census" -> ((s, d) =>
      TimeSeries.runLengthCensus(s, d).orderBy(col("event_type"), col("bucket"))),
    "q185_template_prefix" -> ((s, d) =>
      TextAnalysis.templatePrefix(s, d).orderBy(col("prefix_fp"))),
    "q186_soft_dedup_weights" -> ((s, d) =>
      Dedup.softDedupWeights(s, d).orderBy(col("source"))),
    "q187_quality_temperature" -> ((s, d) =>
      Curation.qualityTemperatureSample(s, d).orderBy(col("source"))),
    "q188_rerank_recall" -> ((s, d) =>
      Similarity.rerankRecall(s, d).orderBy(col("probe_id"))),
    "q189_rich_club" -> ((s, d) =>
      Graph.richClub(s, d).orderBy(col("t"))),
    "q190_important_parts" -> ((s, d) =>
      Relational.importantParts(s, d).orderBy(col("l_partkey"))),
    "q191_vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(s, d).orderBy(col("lang"))),
    "q192_lsh_scurve" -> ((s, d) =>
      Dedup.lshScurveAudit(s, d).orderBy(col("decile"))),
    "q193_pacf" -> ((s, d) =>
      TimeSeries.pacf(s, d).orderBy(col("event_type"))),
    "q194_durbin_watson" -> ((s, d) =>
      TimeSeries.durbinWatson(s, d).orderBy(col("event_type"))),
    "q195_asset_dedup" -> ((s, d) =>
      Multimodal.assetDedup(s, d).orderBy(col("kind"))),
    "q196_resize_plan" -> ((s, d) =>
      Multimodal.resizePlan(s, d).orderBy(col("asset_id"))),
    "q197_frame_plan" -> ((s, d) =>
      Multimodal.frameSamplePlan(s, d).orderBy(col("asset_id"), col("frame_idx"))),
    "q198_detection_f1" -> ((s, d) => Ranges.detectionF1(s, d)),
    "q199_local_bridges" -> ((s, d) => Graph.localBridges(s, d)),
    "q200_pca_power" -> ((s, d) =>
      Similarity.pcaPower(s, d).orderBy(col("dim"))),
    "q201_kendall_tau" -> ((s, d) =>
      TimeSeries.kendallTau(s, d).orderBy(col("type_a"), col("type_b"))),
    "q202_spearman_daily" -> ((s, d) =>
      TimeSeries.spearmanDaily(s, d).orderBy(col("type_a"), col("type_b"))),
    "q203_cross_entropy" -> ((s, d) =>
      TextAnalysis.crossEntropyDrift(s, d).orderBy(col("source"))),
    "q204_cube_revenue" -> ((s, d) =>
      Relational.cubeRevenue(s, d).orderBy(col("gid"), col("rflag"), col("lstatus"))),
    "q205_position_attribution" -> ((s, d) =>
      Attribution.positionAttribution(s, d).orderBy(col("touch_pos"))),
    "q206_jarque_bera" -> ((s, d) =>
      StatTests.jarqueBera(s, d).orderBy(col("event_type"))),
    "q207_chi_square" -> ((s, d) =>
      StatTests.chiSquare(s, d)
        .orderBy(col("o_orderpriority"), col("o_orderstatus"))),
    "q208_anova_f" -> ((s, d) => StatTests.anovaF(s, d)),
    "q209_bartlett" -> ((s, d) => StatTests.bartlett(s, d)),
    "q210_cohens_d" -> ((s, d) =>
      StatTests.cohensD(s, d).orderBy(col("event_type"))),
    "q211_partial_corr" -> ((s, d) =>
      StatTests.partialCorr(s, d).orderBy(col("x"), col("y"), col("z"))),
    "q212_block_maxima" -> ((s, d) =>
      ExtremeStats.blockMaximaGumbel(s, d).orderBy(col("event_type"))),
    "q213_hill_tail" -> ((s, d) =>
      ExtremeStats.hillTail(s, d).orderBy(col("event_type"))),
    "q214_records_census" -> ((s, d) =>
      ExtremeStats.recordsCensus(s, d).orderBy(col("event_type"))),
    "q215_turning_points" -> ((s, d) =>
      ExtremeStats.turningPoints(s, d).orderBy(col("event_type"))),
    "q216_unpivot_measures" -> ((s, d) =>
      Relational.unpivotMeasures(s, d).orderBy(col("measure"))),
    "q217_range_frame_revenue" -> ((s, d) =>
      Relational.rangeFrameRevenue(s, d)
        .orderBy(col("o_custkey"), col("d"))),
    "q218_mom_growth" -> ((s, d) =>
      Relational.momGrowth(s, d).orderBy(col("nation"), col("ym"))),
    "q219_modularity" -> ((s, d) =>
      Graph.communityModularity(s, d).orderBy(col("community"))),
    "q220_grouping_sets" -> ((s, d) =>
      Relational.groupingSetsMix(s, d)
        .orderBy(col("gid"), col("rflag"), col("lstatus"), col("yr"))),
    "q221_naive_bayes" -> ((s, d) =>
      TextAnalysis.naiveBayesSource(s, d)
        .orderBy(col("actual"), col("predicted"))),
    "q222_tokenizer_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(s, d).orderBy(col("source"))),
    "q223_filtered_ann" -> ((s, d) =>
      Similarity.filteredAnn(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q224_mann_kendall" -> ((s, d) =>
      StatTests.seasonalMannKendall(s, d).orderBy(col("event_type"))),
    "q225_pot_exceedances" -> ((s, d) =>
      ExtremeStats.potExceedances(s, d).orderBy(col("event_type"))),
    "q226_nprobe_curve" -> ((s, d) =>
      Similarity.nprobeCurve(s, d).orderBy(col("nprobe"))),
    "q227_logreg_newton" -> ((s, d) => Regression.logisticNewton(s, d)),
    "q228_sax_motifs" -> ((s, d) =>
      Sax.saxMotifs(s, d).orderBy(col("event_type"), col("rnk"))),
    "q229_paragraph_dedup" -> ((s, d) =>
      Dedup.paragraphDedup(s, d).orderBy(col("source"))),
    "q230_json_props" -> ((s, d) =>
      SemiStructured.jsonProps(s, d)
        .orderBy(col("event_type"), col("k_bucket"))),
    "q231_vector_profile" -> ((s, d) =>
      SemiStructured.vectorProfile(s, d).orderBy(col("vec_id"))),
    "q232_window_tail" -> ((s, d) =>
      SemiStructured.windowTail(s, d)
        .orderBy(col("user_id"), col("event_id"))),
    "q233_rolling_corr" -> ((s, d) =>
      StatTests.rollingCorr(s, d).orderBy(col("h"))),
    "q234_time_weighted_avg" -> ((s, d) =>
      TimeSeries.timeWeightedAvg(s, d).orderBy(col("event_type"))),
    "q235_top_types_concat" -> ((s, d) =>
      Relational.topTypesConcat(s, d).orderBy(col("user_id"))),
    "q236_column_profile" -> ((s, d) =>
      Relational.columnProfile(s, d).orderBy(col("col_name"))),
    "q237_fk_orphans" -> ((s, d) =>
      Relational.fkOrphans(s, d).orderBy(col("relation"))),
    "q238_pareto_frontier" -> ((s, d) =>
      Relational.paretoFrontier(s, d).orderBy(col("l_partkey"))),
    "q239_ljung_box" -> ((s, d) =>
      StatTests.ljungBox(s, d).orderBy(col("event_type"))),
    "q240_grubbs" -> ((s, d) =>
      StatTests.grubbs(s, d).orderBy(col("event_type"))),
    "q241_proportion_z" -> ((s, d) =>
      StatTests.proportionZ(s, d).orderBy(col("event_type"))),
    "q242_odds_ratio" -> ((s, d) => StatTests.oddsRatio(s, d)),
    "q243_weighted_median" -> ((s, d) =>
      Relational.weightedMedianPrice(s, d).orderBy(col("l_returnflag"))),
    "q244_lorenz_deciles" -> ((s, d) =>
      Relational.lorenzDeciles(s, d).orderBy(col("decile"))),
    "q245_entropy_rate" -> ((s, d) =>
      Ranges.entropyRate(s, d).orderBy(col("from_type"))),
    "q246_hopping_peaks" -> ((s, d) =>
      Ranges.hoppingPeaks(s, d).orderBy(col("event_type"), col("rnk"))),
    "q247_ols_normal_eq" -> ((s, d) => Regression.olsNormalEq(s, d)),
    "q248_decision_stump" -> ((s, d) => Regression.decisionStump(s, d)),
    "q249_period_set_ops" -> ((s, d) =>
      Relational.periodSetOps(s, d).orderBy(col("segment"))),
    "q250_rolling_distinct" -> ((s, d) =>
      Relational.rollingDistinctUsers(s, d).orderBy(col("day_num"))),
    "q251_holt_linear" -> ((s, d) =>
      TimeSeries.holtLinear(s, d).orderBy(col("event_type"))),
    "q252_savitzky_golay" -> ((s, d) =>
      TimeSeries.savitzkyGolay(s, d).orderBy(col("event_type"), col("event_id"))),
    "q253_norm_funnel" -> ((s, d) =>
      Dedup.normFunnel(s, d).orderBy(col("source"))),
    "q254_dup_inflation" -> ((s, d) =>
      Dedup.dupInflation(s, d).orderBy(col("source"))),
    "q255_landmark_bfs" -> ((s, d) =>
      Graph.landmarkBfs(s, d).orderBy(col("dist"))),
    "q256_edge_formation" -> ((s, d) =>
      Graph.edgeFormation(s, d).orderBy(col("ym"))),
    "q257_knn_graph" -> ((s, d) =>
      Similarity.knnGraphCensus(s, d).orderBy(col("label"))),
    "q258_brown_forsythe" -> ((s, d) =>
      StatTests.brownForsythe(s, d).orderBy(col("event_type"))),
    "q259_kmeans_fixed" -> ((s, d) =>
      Similarity.kmeansFixed(s, d).orderBy(col("cluster"))),
    "q260_event_dedup" -> ((s, d) =>
      Relational.eventDedupCensus(s, d).orderBy(col("event_type"))),
    "q261_iqr_outliers" -> ((s, d) =>
      Ranges.iqrOutliers(s, d).orderBy(col("event_type"))),
    "q262_readability" -> ((s, d) =>
      TextAnalysis.readability(s, d).orderBy(col("doc_id"))),
    "q263_grouped_ols" -> ((s, d) =>
      Regression.groupedOls(s, d).orderBy(col("p_brand"))),
    "q264_rfm_segments" -> ((s, d) =>
      Relational.rfmSegments(s, d).orderBy(col("segment"))),
    "q265_binseg_two_level" -> ((s, d) =>
      TimeSeries.binsegTwoLevel(s, d).orderBy(col("event_type"), col("level"))),
    "q266_silhouette" -> ((s, d) =>
      Similarity.silhouette(s, d).orderBy(col("label"))),
    "q267_tfidf_cosine" -> ((s, d) =>
      TextAnalysis.tfidfCosinePairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q268_negative_samples" -> ((s, d) =>
      Curation.negativeSamples(s, d).orderBy(col("source"))),
    "q269_dup_transitivity" -> ((s, d) => Dedup.dupTransitivity(s, d)),
    "q270_calibration_bins" -> ((s, d) =>
      Regression.calibrationBins(s, d).orderBy(col("bin"))),
    "q271_lifecycle_states" -> ((s, d) =>
      Ranges.lifecycleStates(s, d).orderBy(col("wk"))),
    "q272_mode_per_group" -> ((s, d) =>
      Relational.modePerGroup(s, d).orderBy(col("l_returnflag"))),
    "q273_holt_winters" -> ((s, d) =>
      TimeSeries.holtWinters(s, d).orderBy(col("event_type"))),
    "q274_against_tide" -> ((s, d) =>
      Relational.againstTide(s, d).orderBy(col("nation"))),
    "q275_vocab_overlap" -> ((s, d) =>
      TextAnalysis.vocabOverlap(s, d).orderBy(col("src_a"), col("src_b"))),
    "q276_price_volume_mix" -> ((s, d) =>
      Relational.priceVolumeMix(s, d).orderBy(col("nation"))),
    "q277_fanout_profile" -> ((s, d) =>
      Relational.fanoutProfile(s, d).orderBy(col("relation"), col("bucket"))),
    "q278_source_minhash" -> ((s, d) =>
      Dedup.sourceMinhash(s, d).orderBy(col("src_a"), col("src_b"))),
    "q279_retention_halflife" -> ((s, d) =>
      Ranges.retentionHalflife(s, d).orderBy(col("week_offset"))),
    "q280_rollup_consistency" -> ((s, d) =>
      Relational.rollupConsistency(s, d).orderBy(col("yr"), col("mo"))),
    "q281_compressibility" -> ((s, d) =>
      TextAnalysis.compressibility(s, d).orderBy(col("source"))),
    "q282_session_conversion" -> ((s, d) =>
      Ranges.sessionConversion(s, d).orderBy(col("entry_type"))),
    "q283_detector_agreement" -> ((s, d) =>
      Ranges.detectorAgreement(s, d).orderBy(col("event_type"))),
    "q284_lang_purity" -> ((s, d) =>
      TextAnalysis.langPurity(s, d).orderBy(col("source"))),
    "q285_basket_confidence" -> ((s, d) =>
      Relational.basketConfidence(s, d).orderBy(col("rnk"))),
    "q286_profile_neighbors" -> ((s, d) =>
      TimeSeries.profileNeighbors(s, d).orderBy(col("event_type"))),
    "q287_kalman_level" -> ((s, d) =>
      TimeSeries.kalman1d(s, d).orderBy(col("event_type"))),
    "q288_kpss_level" -> ((s, d) =>
      TimeSeries.kpssLevel(s, d).orderBy(col("event_type"))),
    "q289_rolling_median" -> ((s, d) =>
      TimeSeries.rollingMedian(s, d).orderBy(col("event_type"), col("day"))),
    "q290_interval_coverage" -> ((s, d) =>
      Ranges.intervalCoverage(s, d).orderBy(col("event_type"))),
    "q291_delivery_percentiles" -> ((s, d) =>
      Relational.deliveryPercentiles(s, d).orderBy(col("prio"))),
    "q292_markov_stationary" -> ((s, d) =>
      Relational.markovStationary(s, d).orderBy(col("state"))),
    "q293_simpson_diversity" -> ((s, d) =>
      TextAnalysis.simpsonDiversity(s, d).orderBy(col("source"))),
    "q294_gap_acf" -> ((s, d) =>
      TimeSeries.gapAcf(s, d).orderBy(col("event_type"))),
    "q295_weighted_jaccard" -> ((s, d) =>
      TextAnalysis.weightedJaccard(s, d).orderBy(col("src_a"), col("src_b"))),
    "q296_boosted_stumps" -> ((s, d) =>
      Regression.boostedStumps(s, d).orderBy(col("round"))),
    "q297_target_encoding" -> ((s, d) =>
      Regression.targetEncoding(s, d).orderBy(col("cat"), col("fold"))),
    "q298_radius_profile" -> ((s, d) =>
      Similarity.radiusProfile(s, d).orderBy(col("label"), col("shell"))),
    "q299_absorbing_time" -> ((s, d) =>
      Relational.absorbingTime(s, d).orderBy(col("state"))),
    "q300_jaccard_sweep" -> ((s, d) =>
      Dedup.jaccardThresholdSweep(s, d).orderBy(col("threshold"))),
    "q301_peak_concurrency" -> ((s, d) =>
      Ranges.peakConcurrency(s, d).orderBy(col("event_type"))),
    "q302_cvm_drift" -> ((s, d) =>
      Drift.cvmDrift(s, d).orderBy(col("event_type"))),
    "q303_knn_hubness" -> ((s, d) =>
      Similarity.knnHubness(s, d).orderBy(col("label"), col("occ"))),
    "q304_burrows_delta" -> ((s, d) =>
      TextAnalysis.burrowsDelta(s, d).orderBy(col("src_a"), col("src_b"))),
    "q305_nation_gini" -> ((s, d) =>
      Relational.nationGini(s, d).orderBy(col("n_name"))),
    "q306_theil_decomposition" -> ((s, d) =>
      Relational.theilDecomposition(s, d)),
    "q307_diff_in_diff" -> ((s, d) => Relational.diffInDiff(s, d)),
    "q308_cold_start" -> ((s, d) =>
      Relational.coldStartCensus(s, d)
        .orderBy(col("cohort_year"), col("cohort_month"))),
    "q309_spend_migration" -> ((s, d) =>
      Relational.spendMigration(s, d).orderBy(col("q_from"), col("q_to"))),
    "q310_token_burstiness" -> ((s, d) =>
      TextAnalysis.tokenBurstiness(s, d).orderBy(col("token"))),
    "q311_repurchase_latency" -> ((s, d) =>
      Relational.repurchaseLatency(s, d).orderBy(col("segment"))),
    "q312_brand_revenue_corr" -> ((s, d) =>
      Relational.brandRevenueCorr(s, d)
        .orderBy(col("brand_a"), col("brand_b"))),
    "q313_intrinsic_dim" -> ((s, d) =>
      Similarity.intrinsicDim(s, d).orderBy(col("label"))),
    "q314_energy_distance" -> ((s, d) =>
      Drift.energyDistance(s, d).orderBy(col("event_type"))),
    "q315_decayed_share" -> ((s, d) =>
      Relational.decayedShare(s, d).orderBy(col("p_brand"))),
    "q316_bimodality" -> ((s, d) =>
      TimeSeries.bimodality(s, d).orderBy(col("event_type"))),
    "q317_adf_test" -> ((s, d) =>
      TimeSeries.adfTest(s, d).orderBy(col("event_type"))),
    "q318_holt_damped" -> ((s, d) =>
      TimeSeries.holtDamped(s, d).orderBy(col("event_type"))),
    "q319_croston" -> ((s, d) =>
      TimeSeries.croston(s, d).orderBy(col("l_partkey"))),
    "q320_gap_percentiles" -> ((s, d) =>
      TimeSeries.gapPercentiles(s, d).orderBy(col("event_type"))),
    "q321_mutual_information" -> ((s, d) =>
      StatTests.mutualInformation(s, d)),
    "q323_dim_variance" -> ((s, d) =>
      Similarity.dimVariance(s, d).orderBy(col("dim"))),
    "q324_anomaly_mtbf" -> ((s, d) =>
      TimeSeries.anomalyMtbf(s, d).orderBy(col("event_type"))),
    "q325_abc_xyz" -> ((s, d) =>
      Relational.abcXyz(s, d).orderBy(col("abc"), col("xyz"))),
    "q326_pairwise_contrasts" -> ((s, d) =>
      StatTests.pairwiseContrasts(s, d)
        .orderBy(col("type_a"), col("type_b"))),
    "q327_neyman_allocation" -> ((s, d) =>
      Curation.neymanAllocation(s, d).orderBy(col("source"))),
    "q328_forecast_reconciliation" -> ((s, d) =>
      TimeSeries.forecastReconciliation(s, d)),
    "q329_brand_cagr" -> ((s, d) =>
      Relational.brandCagr(s, d).orderBy(col("p_brand"))),
    "q330_survivor_bias" -> ((s, d) =>
      Dedup.survivorBias(s, d).orderBy(col("source"))),
    "q331_price_elasticity" -> ((s, d) =>
      Relational.priceElasticity(s, d).orderBy(col("p_brand"))),
    "q332_nbd_fit" -> ((s, d) => Relational.nbdFit(s, d)),
    "q333_mase_baselines" -> ((s, d) =>
      TimeSeries.maseBaselines(s, d).orderBy(col("event_type"))),
    "q334_char_entropy" -> ((s, d) =>
      TextAnalysis.charEntropy(s, d).orderBy(col("source"))),
    "q335_session_depth" -> ((s, d) =>
      Ranges.sessionDepth(s, d).orderBy(col("log2_depth"))),
    "q336_type_user_overlap" -> ((s, d) =>
      Ranges.typeUserOverlap(s, d).orderBy(col("type_a"), col("type_b"))),
    "q337_weibull_fit" -> ((s, d) =>
      Ranges.weibullFit(s, d).orderBy(col("segment"))),
    "q338_order_day_streaks" -> ((s, d) =>
      Relational.orderDayStreaks(s, d)),
    "q339_priority_inversion" -> ((s, d) =>
      Relational.priorityInversionDays(s, d)),
    "q340_lognormal_fit" -> ((s, d) =>
      TextAnalysis.lognormalFit(s, d).orderBy(col("source"))),
    "q341_quantile_shift" -> ((s, d) =>
      Drift.quantileShift(s, d).orderBy(col("event_type"), col("quantile"))),
    "q342_top_heavy" -> ((s, d) => Relational.topHeavyRatio(s, d)),
    "q343_bass_diffusion" -> ((s, d) => Regression.bassDiffusion(s, d)),
    "q344_chunk_ttr" -> ((s, d) =>
      TextAnalysis.chunkTtr(s, d).orderBy(col("source"))),
    "q345_wilson_returns" -> ((s, d) =>
      Relational.wilsonReturns(s, d).orderBy(col("ship_dow"))),
    "q346_triplet_margin" -> ((s, d) =>
      Similarity.tripletMargin(s, d).orderBy(col("label"))),
    "q347_icc_ship_delay" -> ((s, d) => StatTests.iccShipDelay(s, d)),
    "q348_taylor_law" -> ((s, d) =>
      TimeSeries.taylorLaw(s, d).orderBy(col("event_type"))),
    "q349_purchase_entropy" -> ((s, d) =>
      Relational.purchaseEntropy(s, d).orderBy(col("c_mktsegment"))),
    "q350_clumpiness" -> ((s, d) =>
      Relational.clumpiness(s, d).orderBy(col("c_mktsegment"))),
    "q351_semivariogram" -> ((s, d) =>
      TimeSeries.semivariogram(s, d)
        .orderBy(col("event_type"), col("h_days"))),
    "q352_priority_markov" -> ((s, d) =>
      Relational.priorityTransitions(s, d)
        .orderBy(col("from_priority"), col("to_priority"))),
    "q353_price_endings" -> ((s, d) =>
      Relational.priceEndings(s, d).orderBy(col("cents_ending"))),
    "q354_flow_reciprocity" -> ((s, d) => Relational.flowReciprocity(s, d)),
    "q356_kish_ess" -> ((s, d) =>
      Curation.kishEss(s, d).orderBy(col("source"))),
    "q355_sampler_uniformity" -> ((s, d) =>
      Curation.samplerUniformity(s, d).orderBy(col("source"))),
    "q357_von_neumann" -> ((s, d) =>
      TimeSeries.vonNeumann(s, d).orderBy(col("event_type"))),
    "q358_participation_ratio" -> ((s, d) =>
      Similarity.participationRatio(s, d).orderBy(col("label"))),
    "q359_ql_bm25_agreement" -> ((s, d) =>
      Retrieval.qlBm25Agreement(s, d).orderBy(col("probe_id"))),
    "q360_diameter_sweep" -> ((s, d) => Graph.diameterSweep(s, d)),
    "q361_churn_hazard" -> ((s, d) =>
      Relational.churnHazard(s, d).orderBy(col("tenure_weeks"))),
    "q362_fulfillment_spread" -> ((s, d) =>
      Relational.fulfillmentSpread(s, d).orderBy(col("size_bucket"))),
    "q363_calendar_r2" -> ((s, d) =>
      TimeSeries.calendarR2(s, d).orderBy(col("event_type"))),
    "q364_cluster_purity" -> ((s, d) =>
      Dedup.clusterPurity(s, d)
        .orderBy(col("cluster_size"), col("n_sources"))),
    "q365_value_precision" -> ((s, d) =>
      TimeSeries.valuePrecision(s, d)
        .orderBy(col("event_type"), col("decimals"))),
    "q366_market_churn" -> ((s, d) =>
      Relational.marketChurn(s, d).orderBy(col("from_year"))),
    "q367_tail_dependence" -> ((s, d) =>
      ExtremeStats.tailDependence(s, d)
        .orderBy(col("type_a"), col("type_b"))),
    "q368_extremal_index" -> ((s, d) =>
      ExtremeStats.extremalIndex(s, d).orderBy(col("event_type"))),
    "q369_cramers_v" -> ((s, d) => StatTests.cramersV(s, d)),
    "q370_median_polish" -> ((s, d) =>
      TimeSeries.medianPolish(s, d).orderBy(col("event_type"))),
    "q371_acf_half_life" -> ((s, d) =>
      TimeSeries.acfHalfLife(s, d).orderBy(col("event_type"))),
    "q372_catalog_dynamics" -> ((s, d) =>
      Relational.catalogDynamics(s, d).orderBy(col("ym"))),
    "q373_first_value_ltv" -> ((s, d) =>
      Relational.firstValueLtv(s, d).orderBy(col("c_mktsegment"))),
    "q374_mean_residual_life" -> ((s, d) =>
      Relational.meanResidualLife(s, d).orderBy(col("threshold_days"))),
    "q375_weekday_entropy" -> ((s, d) =>
      Relational.weekdayEntropy(s, d).orderBy(col("c_mktsegment"))),
    "q376_discount_monotonicity" -> ((s, d) =>
      Relational.discountMonotonicity(s, d).orderBy(col("disc_pct"))),
    "q377_pq_recall" -> ((s, d) =>
      Similarity.pqRecall(s, d).orderBy(col("probe_id"))),
    "q378_kruskal_wallis" -> ((s, d) =>
      StatTests.kruskalWallis(s, d).orderBy(col("event_type"))),
    "q379_cliffs_delta" -> ((s, d) =>
      StatTests.cliffsDelta(s, d).orderBy(col("event_type"))),
    "q380_ndcg_quantized" -> ((s, d) =>
      Similarity.ndcgQuantized(s, d).orderBy(col("probe_id"))),
    "q381_period_fold" -> ((s, d) =>
      TimeSeries.periodFold(s, d).orderBy(col("event_type"))),
    "q382_pq_distortion" -> ((s, d) =>
      Similarity.pqDistortion(s, d).orderBy(col("subspace"), col("codeword"))),
    "q383_friedman" -> ((s, d) =>
      StatTests.friedman(s, d).orderBy(col("event_type"))),
    "q384_page_trend" -> ((s, d) =>
      StatTests.pageTrend(s, d).orderBy(col("event_type"))),
    "q385_dunn_posthoc" -> ((s, d) =>
      StatTests.dunnPosthoc(s, d).orderBy(col("type_a"), col("type_b"))),
    "q386_rbo_quantized" -> ((s, d) =>
      Similarity.rboQuantized(s, d).orderBy(col("probe_id"))),
    "q387_jonckheere" -> ((s, d) =>
      StatTests.jonckheere(s, d).orderBy(col("type_a"), col("type_b"))),
    "q388_quade" -> ((s, d) =>
      StatTests.quade(s, d).orderBy(col("event_type"))),
    // the DF-capped dedup configurations — caps chosen to BITE at sf0.01 so
    // the web-scale code path is what the oracle gates
    "q389_capped_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardCapped(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q390_capped_containment" -> ((s, d) =>
      Dedup.containmentPairsCapped(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q391_ivfpq_recall" -> ((s, d) =>
      Similarity.ivfPqRecall(s, d).orderBy(col("probe_id"))),
    "q392_kcenter_coreset" -> ((s, d) =>
      Similarity.kcenterCoreset(s, d).orderBy(col("k"))),
    "q393_balanced_pq" -> ((s, d) =>
      Similarity.balancedPq(s, d).orderBy(col("alloc"), col("subspace"))),
    "q394_bpe_merges" -> ((s, d) =>
      TextAnalysis.bpeMerges(s, d).orderBy(col("rnd"))),
    "q395_dedup_aware_mixture" -> ((s, d) =>
      Curation.dedupAwareMixture(s, d).orderBy(col("source"))),
    "q396_ktruss" -> ((s, d) =>
      Graph.ktruss(s, d).orderBy(col("rnd"))),
    "q397_abtt" -> ((s, d) => Similarity.abtt(s, d)),
    "q398_theta_forecast" -> ((s, d) =>
      TimeSeries.thetaForecast(s, d).orderBy(col("event_type"))),
    "q399_wand_prune" -> ((s, d) =>
      Retrieval.wandPrune(s, d).orderBy(col("probe_id"))),
    "q400_dup_spectrum" -> ((s, d) =>
      Dedup.dupSpectrum(s, d).orderBy(col("multiplicity"))),
    "q401_shard_balance" -> ((s, d) =>
      Curation.shardBalance(s, d).orderBy(col("shard"))),
    "q402_confident_errors" -> ((s, d) =>
      TextAnalysis.confidentErrors(s, d)
        .orderBy(col("actual"), col("suggested"))),
    "q403_split_leakage" -> ((s, d) => Dedup.splitLeakage(s, d)),
    "q404_kmv_sketch" -> ((s, d) =>
      Sketches.kmvSketch(s, d).orderBy(col("rank"))),
    "q405_order_runs" -> ((s, d) => Curation.orderRuns(s, d)),
    "q406_sketch_resemblance" -> ((s, d) => Sketches.sketchResemblance(s, d)),
    "q407_sax_discords" -> ((s, d) =>
      Sax.saxDiscords(s, d).orderBy(col("event_type"), col("rnk"))),
    "q408_lm_gap" -> ((s, d) => TextAnalysis.lmGap(s, d)),
    "q409_mcnemar" -> ((s, d) =>
      StatTests.mcnemar(s, d).orderBy(col("event_type"))),
    "q410_cochran_q" -> ((s, d) =>
      StatTests.cochranQ(s, d).orderBy(col("event_type"))),
    "q411_permutation_entropy" -> ((s, d) =>
      TimeSeries.permutationEntropy(s, d).orderBy(col("event_type"))),
    "q412_rm3_expansion" -> ((s, d) =>
      Retrieval.rm3Expansion(s, d).orderBy(col("probe_id"), col("rnk"))),
    "q413_kn_bigram" -> ((s, d) =>
      TextAnalysis.knBigram(s, d).orderBy(col("source"))),
    "q414_jl_distortion" -> ((s, d) =>
      Similarity.jlDistortion(s, d).orderBy(col("dprime"))),
    "q415_hampel" -> ((s, d) =>
      TimeSeries.hampelCensus(s, d).orderBy(col("user_id"))),
    "q416_forecast_ensemble" -> ((s, d) =>
      TimeSeries.forecastEnsemble(s, d).orderBy(col("event_type"))),
    "q417_ppmi_cooc" -> ((s, d) =>
      TextAnalysis.ppmiCooc(s, d).orderBy(col("rnk"))),
    "q418_funnel_steps" -> ((s, d) =>
      Ranges.funnelSteps(s, d).orderBy(col("dow"))),
    "q419_zip_fit" -> ((s, d) =>
      Relational.zipFit(s, d).orderBy(col("event_type"))),
    "q420_arch_lm" -> ((s, d) =>
      TimeSeries.archLm(s, d).orderBy(col("event_type"))),
    "q421_bbit_minhash" -> ((s, d) =>
      Dedup.bbitMinhash(s, d).orderBy(col("doc_a"), col("doc_b"))),
    "q422_two_hop" -> ((s, d) =>
      Graph.copurchaseTwoHop(s, d).orderBy(col("bucket"))),
    "q423_item_knn" -> ((s, d) => Recommend.itemKnnEval(s, d)),
    "q424_phash_pairs" -> ((s, d) =>
      Multimodal.phashPairs(s, d).orderBy(col("n_shared_bands"))),
    "q425_count_min" -> ((s, d) =>
      Sketches.countMin(s, d).orderBy(col("rnk"))),
    "q426_price_index" -> ((s, d) =>
      Relational.priceIndex(s, d).orderBy(col("y"))),
    "q427_k_anonymity" -> ((s, d) =>
      Curation.kAnonymity(s, d).orderBy(col("bucket"))),
    "q428_keyness" -> ((s, d) =>
      TextAnalysis.keyness(s, d).orderBy(col("rnk"))),
    "q429_simpsons_reversal" -> ((s, d) =>
      Relational.simpsonsReversal(s, d).orderBy(col("nation"))),
    "q430_pca_deflation" -> ((s, d) =>
      Similarity.pcaDeflation(s, d).orderBy(col("dim"))),
    "q431_scaling_law" -> ((s, d) =>
      TextAnalysis.scalingLaw(s, d).orderBy(col("frac"))),
    "q432_knn_label_agreement" -> ((s, d) =>
      Similarity.knnLabelAgreement(s, d).orderBy(col("label"))),
    "q433_pca_outliers" -> ((s, d) =>
      Similarity.pcaOutliers(s, d).orderBy(col("rnk"))),
    "q434_bm25_sweep" -> ((s, d) =>
      Retrieval.bm25Sweep(s, d).orderBy(col("k1"), col("b"))),
    "q435_pearson_residuals" -> ((s, d) =>
      StatTests.pearsonResiduals(s, d)
        .orderBy(col("nation"), col("priority"))),
    "q436_dedup_overlap" -> ((s, d) =>
      Dedup.dedupDetectorOverlap(s, d).orderBy(col("detector"))),
    "q437_langid_prf" -> ((s, d) =>
      TextAnalysis.langIdPrf(s, d).orderBy(col("cls"))),
    "q438_minhash_k_sweep" -> ((s, d) =>
      Dedup.minhashKSweep(s, d).orderBy(col("k"))),
    "q439_rec_coverage" -> ((s, d) => Recommend.recCoverage(s, d)),
    "q440_graph_ann" -> ((s, d) =>
      Similarity.graphAnnRecall(s, d).orderBy(col("probe_id"))),
    "q441_beam_sweep" -> ((s, d) =>
      Similarity.graphAnnBeamSweep(s, d).orderBy(col("beam"))),
    "q442_conformal_interval" -> ((s, d) =>
      graft.ops.Regression.conformalInterval(s, d).orderBy(col("flag"))),
    "q443_cuped" -> ((s, d) =>
      graft.ops.StatTests.cuped(s, d).orderBy(col("event_type"))),
    "q444_binary_embed_recall" -> ((s, d) =>
      Similarity.binaryEmbedRecall(s, d).orderBy(col("probe_id"))),
    "q445_stratified_ate" -> ((s, d) =>
      graft.ops.StatTests.stratifiedAte(s, d).orderBy(col("brand"))),
    "q446_band_join" -> ((s, d) =>
      graft.ops.Ranges.bandJoin(s, d).orderBy(col("event_type"))),
    "q447_woe_iv" -> ((s, d) =>
      graft.ops.Regression.woeIv(s, d).orderBy(col("brand"))),
    "q448_sequential_boundary" -> ((s, d) =>
      graft.ops.StatTests.sequentialBoundary(s, d)
        .orderBy(col("event_type"), col("look"))),
    "q449_power_mde" -> ((s, d) =>
      graft.ops.StatTests.powerMde(s, d).orderBy(col("event_type")))
  )

  def oracleSql: Map[String, String] = Map(
    "q01_resample_avg" ->
      """SELECT event_type, CAST(floor(epoch(ts)/300)*300 AS BIGINT) AS bucket_start,
        | round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 AS avg_value, round(min(value),4) AS min_value,
        | round(max(value),4) AS max_value, count(*) AS n
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q02_resample_ffill" ->
      """WITH b AS (SELECT CAST(floor(min(epoch(ts))/3600)*3600 AS BIGINT) mn,
        |                  CAST(floor(max(epoch(ts))/3600)*3600 AS BIGINT) mx FROM events),
        |g AS (SELECT t.event_type, b.mn + 3600*gs.g AS grid_start
        |      FROM b, (SELECT DISTINCT event_type FROM events) t, generate_series(0,2000) gs(g)
        |      WHERE b.mn + 3600*gs.g <= b.mx),
        |h AS (SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) grid_start,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value) v
        |      FROM events GROUP BY 1,2)
        |SELECT g.event_type, g.grid_start,
        | round(last_value(h.v IGNORE NULLS) OVER (PARTITION BY g.event_type ORDER BY g.grid_start
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*10000)/10000 AS value_ffill
        |FROM g LEFT JOIN h ON g.event_type=h.event_type AND g.grid_start=h.grid_start
        |ORDER BY 1,2""".stripMargin,
    "q03_rolling_avg" ->
      """SELECT user_id, event_id,
        | CAST(row_number() OVER w AS INT) AS rn,
        | round((CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   / count(value) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))*10000)/10000 AS roll_avg
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q04_range_flags" ->
      """WITH ranges AS (
        | SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) range_start,
        |        max(CAST(floor(epoch(ts)) AS BIGINT)) range_end
        | FROM events WHERE event_type='error'
        | GROUP BY user_id, CAST(floor(epoch(ts)/86400)*86400 AS BIGINT)),
        |flagged AS (
        | SELECT e.event_id, e.event_type, e.value,
        |        max(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS in_anomaly
        | FROM events e LEFT JOIN ranges r
        |   ON e.user_id = r.user_id
        |  AND CAST(floor(epoch(e.ts)) AS BIGINT) BETWEEN r.range_start AND r.range_end
        | GROUP BY e.event_id, e.event_type, e.value)
        |SELECT event_type, in_anomaly, count(*) AS n, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 AS avg_value
        |FROM flagged GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q05_sensor_rank" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |sp AS (SELECT CAST(floor(min(e)+(max(e)-min(e))*0.75) AS BIGINT) split_e FROM ev),
        |st AS (SELECT event_type, min(value) vmin, max(value) vmax,
        |              (max(value)-min(value))/20 width FROM ev GROUP BY 1),
        |binned AS (
        | SELECT ev.event_type, CASE WHEN ev.e < sp.split_e THEN 'u' ELSE 'v' END phase,
        |        CASE WHEN st.width = 0 THEN 0
        |             ELSE least(CAST(floor((ev.value - st.vmin)/st.width) AS BIGINT), 19) END bin
        | FROM ev JOIN st ON ev.event_type = st.event_type CROSS JOIN sp),
        |counts AS (SELECT event_type, phase, bin, count(*) c FROM binned GROUP BY 1,2,3),
        |totals AS (SELECT event_type, phase, CAST(sum(c) AS BIGINT) total FROM counts GROUP BY 1,2),
        |grid AS (SELECT st.event_type, st.width, gs.g AS bin, ph.phase
        |         FROM st, generate_series(0,19) gs(g),
        |              (SELECT 'u' AS phase UNION ALL SELECT 'v') ph),
        |dens AS (SELECT g.event_type, g.phase, g.bin,
        |           coalesce(CAST(c.c AS DOUBLE)/t.total/(CASE WHEN g.width = 0 THEN 1.0 ELSE g.width END), 0.0) d
        |         FROM grid g
        |         LEFT JOIN counts c ON g.event_type=c.event_type AND g.phase=c.phase AND g.bin=c.bin
        |         LEFT JOIN totals t ON g.event_type=t.event_type AND g.phase=t.phase),
        |ranked AS (SELECT event_type, phase, d,
        |             row_number() OVER (PARTITION BY event_type, phase ORDER BY d, bin) pos
        |           FROM dens),
        |scores AS (SELECT u.event_type, round(CAST(sum(CAST(abs(u.d - v.d) AS DECIMAL(28,20))) AS DOUBLE)/count(*)*1000000)/1000000 score
        |           FROM ranked u JOIN ranked v
        |             ON u.event_type=v.event_type AND u.pos=v.pos AND u.phase='u' AND v.phase='v'
        |           GROUP BY 1)
        |SELECT event_type, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, event_type) AS INT) rank
        |FROM scores ORDER BY rank""".stripMargin,
    "q06_anomaly_ranges" ->
      """WITH errs AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) e
        |              FROM events WHERE event_type='error'),
        |s AS (SELECT user_id, e,
        |        CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
        |               OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800
        |             THEN 1 ELSE 0 END new_session
        |      FROM errs),
        |s2 AS (SELECT user_id, e,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
        |       FROM s)
        |SELECT user_id, min(e) range_start, max(e) range_end, count(*) n_events
        |FROM s2 GROUP BY user_id, sess HAVING count(*) >= 2
        |ORDER BY user_id, range_start""".stripMargin,
    "q07_off_condition" ->
      """SELECT event_type,
        | CAST(sum(CASE WHEN value >= 10.0 THEN 1 ELSE 0 END) AS BIGINT) n_on,
        | CAST(sum(CASE WHEN value >= 10.0 THEN 0 ELSE 1 END) AS BIGINT) n_off,
        | round(CAST(sum(CAST(CASE WHEN value >= 10.0 THEN value END AS DECIMAL(18,6))) AS DOUBLE)
        |   /count(CASE WHEN value >= 10.0 THEN value END)*10000)/10000 avg_on_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_train_test_split" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |sp AS (SELECT CAST(floor(min(e)+(max(e)-min(e))*0.7) AS BIGINT) split_e FROM ev)
        |SELECT event_type, CASE WHEN e < split_e THEN 'train' ELSE 'eval' END phase,
        | count(*) n, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 avg_value
        |FROM ev, sp GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q09_diag_expand" ->
      """SELECT event_type,
        | round(CAST(sum(CAST(CAST(regexp_extract(props,'([0-9]+)',1) AS INT) AS DECIMAL(18,6))) AS DOUBLE)
        |   /count(props)*10000)/10000 avg_diag,
        | max(CAST(regexp_extract(props,'([0-9]+)',1) AS INT)) max_diag,
        | count(DISTINCT CAST(regexp_extract(props,'([0-9]+)',1) AS INT)) n_distinct_diag,
        | round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_schema_infer" ->
      """SELECT event_type, count(*) n_rows, count(DISTINCT user_id) n_users,
        | min(CAST(floor(epoch(ts)) AS BIGINT)) min_ts, max(CAST(floor(epoch(ts)) AS BIGINT)) max_ts,
        | round(min(value),4) min_value, round(max(value),4) max_value, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q11_seq_extract" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |b AS (SELECT CAST(floor((min(e)+(max(e)-min(e))*0.75)/300)*300 AS BIGINT) eval_start FROM ev)
        |SELECT CAST(floor((e - eval_start)/300.0) AS BIGINT) seq, event_type, count(*) n,
        | min(e - eval_start) min_rel, max(e - eval_start) max_rel, round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 avg_value
        |FROM ev, b WHERE e >= eval_start AND floor((e - eval_start)/300.0) < 3
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q12_interp_linear" ->
      """WITH b AS (SELECT CAST(floor(min(epoch(ts))/3600)*3600 AS BIGINT) mn,
        |                  CAST(floor(max(epoch(ts))/3600)*3600 AS BIGINT) mx FROM events),
        |g AS (SELECT t.event_type, b.mn + 3600*gs.g AS grid_start
        |      FROM b, (SELECT DISTINCT event_type FROM events) t, generate_series(0,2000) gs(g)
        |      WHERE b.mn + 3600*gs.g <= b.mx),
        |h AS (SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) grid_start,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value) v
        |      FROM events GROUP BY 1,2),
        |j AS (SELECT g.event_type, g.grid_start, h.v
        |      FROM g LEFT JOIN h ON g.event_type=h.event_type AND g.grid_start=h.grid_start),
        |n AS (SELECT event_type, grid_start, v,
        |  last_value(v IGNORE NULLS) OVER w1 pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN grid_start END IGNORE NULLS) OVER w1 pt,
        |  first_value(v IGNORE NULLS) OVER w2 nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN grid_start END IGNORE NULLS) OVER w2 nt
        | FROM j WINDOW
        |  w1 AS (PARTITION BY event_type ORDER BY grid_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  w2 AS (PARTITION BY event_type ORDER BY grid_start ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, grid_start,
        | round((CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
        |  ELSE pv + (nv-pv)*(grid_start-pt)/(nt-pt) END)*10000)/10000 value_interp
        |FROM n ORDER BY 1,2""".stripMargin,
    "q13_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(CAST(sum(CAST(round(l_quantity*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE),4) sum_qty,
        | round(CAST(sum(CAST(round(l_extendedprice*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE),4) sum_base_price,
        | round(CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE),4) sum_disc_price,
        | round(CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*(1+l_tax)*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE),4) sum_charge,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/count(l_quantity)*10000)/10000 avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)/count(l_extendedprice)*10000)/10000 avg_price,
        | round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/count(l_discount)*10000)/10000 avg_disc, count(*) count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q14_top_revenue" ->
      """WITH rev AS (
        | SELECT o.o_custkey, round(sum(l.l_extendedprice*(1-l.l_discount)),4) revenue,
        |        count(*) n_items
        | FROM lineitem l JOIN orders o ON l.l_orderkey=o.o_orderkey GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, r.revenue, r.n_items
        |FROM rev r JOIN customer c ON r.o_custkey=c.c_custkey
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "q15_region_rollup" ->
      """SELECT r.r_name, n.n_name,
        | round(CAST(sum(CAST(l.l_extendedprice*(1-l.l_discount)
        |   AS DECIMAL(28,6))) AS DOUBLE)*10000)/10000 revenue,
        | count(*) n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey=s.s_suppkey
        |JOIN nation n ON s.s_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q16_window_topn" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,4) o_totalprice,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) rk
        |FROM orders QUALIFY rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q17_semi_anti" ->
      """SELECT c.c_mktsegment, count(*) n_customers
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey=c.c_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey=c.c_custkey AND o.o_totalprice > 200000.0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_decorrelated_agg" ->
      """WITH a AS (SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) cust_avg
        |  FROM orders GROUP BY 1)
        |SELECT o.o_custkey, count(*) n_above, round(max(o.o_totalprice),4) max_price,
        | round(max(a.cust_avg)*10000)/10000 cust_avg_price
        |FROM orders o JOIN a USING (o_custkey) WHERE o.o_totalprice > a.cust_avg*1.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q20_dedup_exact" ->
      """WITH hs AS (SELECT doc_id, source,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) hv FROM documents),
        |k AS (SELECT hv, min(doc_id) keeper FROM hs GROUP BY 1)
        |SELECT source, count(*) n_docs,
        | CAST(sum(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT) n_kept,
        | CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) n_dups
        |FROM hs JOIN k USING (hv) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_ngram_jaccard" ->
      """WITH k AS (SELECT greatest(CAST(1 AS BIGINT),
        |     CAST(floor(count(*)/5000.0) AS BIGINT)) k_strata FROM documents),
        |sd0 AS (SELECT doc_id, text,
        |     md5('jstrat:'||CAST(doc_id AS VARCHAR)) h FROM documents),
        |sd AS (SELECT doc_id, text FROM sd0 CROSS JOIN k
        |  WHERE CAST(
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |    (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |    (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |    (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |    (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)
        |    % k_strata = 0),
        |d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM sd),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT doc_a, doc_b, n_shared,
        | round(CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared), 6) jaccard,
        | k_strata
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |CROSS JOIN k
        |WHERE CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared) >= 0.5
        |ORDER BY 1,2""".stripMargin,
    "q22_minhash_lsh" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig, count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64)
        |SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared_bands
        |FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q23_simhash" ->
      """WITH d AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |tok0 AS (SELECT doc_id, unnest(string_split(t, ' ')) w FROM d),
        |tok AS (SELECT doc_id, md5(w) hv FROM tok0),
        |bx AS (SELECT doc_id, hv, unnest(generate_series(0, 59)) j FROM tok),
        |v AS (SELECT doc_id, j,
        |        CAST(floor((instr('0123456789abcdef', substr(hv, CAST(j//4 AS INT) + 1, 1)) - 1)
        |          / power(2, j % 4)) AS BIGINT) % 2 AS bit
        |      FROM bx),
        |s AS (SELECT doc_id, j, sum(bit*2 - 1) sv FROM v GROUP BY 1,2)
        |SELECT doc_id, CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) simhash
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q24_embed_neardup" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |p AS (SELECT a.label, a.vec_id vec_a, b.vec_id vec_b,
        |        CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx a JOIN xx b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
        |      GROUP BY 1,2,3)
        |SELECT p.label, vec_a, vec_b, round(dot/(na.nrm*nb.nrm), 6) cosine
        |FROM p JOIN n na ON vec_a = na.vec_id JOIN n nb ON vec_b = nb.vec_id
        |WHERE dot/(na.nrm*nb.nrm) >= 0.4
        |ORDER BY 1,2,3""".stripMargin,
    "q25_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |d AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id
        |       WHERE np.nrm > 0 AND nc.nrm > 0),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |        CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS INT) rnk
        |      FROM sc)
        |SELECT probe_id, rnk, neighbor_id, round(cos, 6) cosine
        |FROM r WHERE rnk <= 5 ORDER BY 1,2""".stripMargin,
    "q26_ivf_ann" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |cent AS (SELECT label, i, CAST(sum(CAST(v AS DECIMAL(30,20))) AS DOUBLE)/count(*) c
        |         FROM xx GROUP BY 1,2),
        |cn AS (SELECT label, sqrt(CAST(sum(CAST(c*c AS DECIMAL(18,16))) AS DOUBLE)) cnrm
        |       FROM cent GROUP BY 1),
        |pd AS (SELECT p.vec_id probe_id, cent.label,
        |         CAST(sum(CAST(p.v*cent.c AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM xx p JOIN cent ON p.i = cent.i WHERE p.vec_id < 10 GROUP BY 1,2),
        |ps AS (SELECT probe_id, pd.label, dot/(np.nrm*cn.cnrm) ccos
        |       FROM pd JOIN n np ON probe_id = np.vec_id JOIN cn ON pd.label = cn.label),
        |short AS (SELECT probe_id, label FROM (
        |    SELECT probe_id, label,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, label) crk
        |    FROM ps) WHERE crk <= 2),
        |d AS (SELECT s.probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM short s JOIN xx c ON c.label = s.label
        |        JOIN xx p ON p.vec_id = s.probe_id AND p.i = c.i
        |      WHERE c.vec_id <> s.probe_id GROUP BY 1,2),
        |sc AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id
        |       WHERE np.nrm > 0 AND nc.nrm > 0),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |        CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS INT) rnk
        |      FROM sc)
        |SELECT probe_id, rnk, neighbor_id, round(cos, 6) cosine
        |FROM r WHERE rnk <= 5 ORDER BY 1,2""".stripMargin,
    "q27_lang_id" ->
      """WITH d AS (SELECT lang, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |s AS (SELECT lang, len(w) n_tok,
        |        len(list_filter(w, t -> list_contains(
        |          ['the','a','of','and','to','in','is','it'], t))) n_stop
        |      FROM d)
        |SELECT lang, CASE WHEN n_stop*1000 >= n_tok*80 THEN 'en' ELSE 'other' END pred_lang,
        | count(*) n_docs, CAST(sum(n_tok) AS BIGINT) total_tokens,
        | round(CAST(sum(n_stop) AS DOUBLE)/sum(n_tok), 6) stop_ratio
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q28_quality_score" ->
      """WITH d AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |f AS (SELECT doc_id, length(t) n_chars, len(string_split(t, ' ')) n_words,
        |        length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) n_punct,
        |        len(list_filter(string_split(t, ' '), x -> list_contains(
        |          ['the','a','of','and','to','in','is','it'], x))) n_stop
        |      FROM d)
        |SELECT doc_id, n_chars, n_words,
        | round(CAST(n_chars - (n_words - 1) AS DOUBLE)/n_words*10000)/10000 avg_word_len,
        | round(CAST(n_punct AS DOUBLE)/n_chars*10000)/10000 punct_ratio,
        | round(CAST(n_stop AS DOUBLE)/n_words*10000)/10000 stop_ratio,
        | round((least(CAST(n_words AS DOUBLE)/100.0, 1.0)*0.5
        |   + (1.0 - CAST(n_punct AS DOUBLE)/n_chars)*0.3
        |   + least(CAST(n_stop AS DOUBLE)/n_words*5.0, 1.0)*0.2)*10000)/10000 quality
        |FROM f WHERE n_chars > 0 ORDER BY 1""".stripMargin,
    "q29_token_count" ->
      """WITH t AS (SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+', 0) w FROM documents),
        |p AS (SELECT lang, len(w) n_tok,
        |        list_sum(list_transform(w, x -> length(x))) n_tok_chars FROM t),
        |agg AS (SELECT lang, count(*) n_docs, CAST(sum(n_tok) AS BIGINT) total_tokens,
        |          round(CAST(sum(n_tok) AS DOUBLE)/count(*), 4) avg_tokens,
        |          round(CAST(sum(n_tok_chars) AS DOUBLE)/sum(n_tok), 4) avg_token_len
        |        FROM p GROUP BY 1),
        |dt AS (SELECT lang, count(DISTINCT tok) n_distinct_tokens
        |       FROM (SELECT lang, unnest(w) tok FROM t) GROUP BY 1)
        |SELECT agg.lang, n_docs, total_tokens, avg_tokens, avg_token_len, n_distinct_tokens
        |FROM agg JOIN dt ON agg.lang = dt.lang ORDER BY 1""".stripMargin,
    "q30_fingerprint" ->
      """WITH f AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))), ' ')) fp
        | FROM documents)
        |SELECT fp, count(*) n_docs, min(doc_id) first_doc, max(doc_id) last_doc
        |FROM f GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin,
    "q31_multimodal_meta" ->
      """WITH m AS (SELECT doc_id asset_id, strlen(text) n_bytes, md5(text) digest FROM documents),
        |k AS (SELECT asset_id, n_bytes, digest,
        |        CASE WHEN asset_id % 3 = 0 THEN 'image'
        |             WHEN asset_id % 3 = 1 THEN 'audio' ELSE 'video' END kind
        |      FROM m),
        |x AS (SELECT kind, asset_id, n_bytes, digest,
        |  CASE WHEN kind = 'image' THEN
        |    ((instr('0123456789abcdef', substr(digest,1,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,2,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,3,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,4,1))-1)) % 1024 + 16 END width,
        |  CASE WHEN kind = 'image' THEN
        |    ((instr('0123456789abcdef', substr(digest,5,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,6,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,7,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,8,1))-1)) % 1024 + 16 END height,
        |  CASE WHEN kind <> 'image' THEN
        |    ((instr('0123456789abcdef', substr(digest,9,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,10,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,11,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,12,1))-1)) % 60000 + 1000 END duration_ms
        |  FROM k)
        |SELECT kind, count(*) n_assets, CAST(sum(n_bytes) AS BIGINT) total_bytes,
        | count(DISTINCT digest) n_distinct,
        | round(avg(width), 4) avg_width, round(avg(height), 4) avg_height,
        | round(avg(duration_ms), 4) avg_duration_ms
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q32_stream_windowed" ->
      """SELECT CAST(floor(epoch(ts)/600)*600 AS BIGINT) win_start, event_type,
        | count(*) n,
        | round((CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*))*10000)/10000 avg_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q33_asof_join" ->
      """WITH j AS (SELECT e.event_id, e.user_id, o.o_orderkey,
        |   CAST(floor(epoch(o.o_orderdate)) AS BIGINT) oe,
        |   row_number() OVER (PARTITION BY e.event_id
        |     ORDER BY epoch(o.o_orderdate) DESC, o.o_orderkey DESC) rn
        | FROM events e JOIN orders o
        |   ON o.o_custkey = e.user_id
        |  AND CAST(floor(epoch(o.o_orderdate)) AS BIGINT) <= CAST(floor(epoch(e.ts)) AS BIGINT))
        |SELECT event_id, user_id, o_orderkey AS last_orderkey, oe AS last_order_e
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q34_percentiles" ->
      """SELECT event_type, round(quantile_cont(value, 0.5), 4) p50,
        | round(quantile_cont(value, 0.9), 4) p90, count(*) n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q35_revenue_rollup" ->
      """SELECT r.r_name, n.n_name,
        | round(CAST(sum(CAST(round(l.l_extendedprice*(1-l.l_discount)*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE),4) revenue, count(*) n_items
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey=s.s_suppkey
        |JOIN nation n ON s.s_nationkey=n.n_nationkey
        |JOIN region r ON n.n_regionkey=r.r_regionkey
        |GROUP BY ROLLUP(r.r_name, n.n_name) ORDER BY 1,2""".stripMargin,
    "q36_heavy_hitters" ->
      """WITH t AS (SELECT lang, unnest(string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) tok FROM documents),
        |c AS (SELECT lang, tok, count(*) n FROM t GROUP BY 1,2)
        |SELECT lang, tok, n, CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS INT) rn
        |FROM c QUALIFY rn <= 5 ORDER BY 1,4""".stripMargin,
    "q37_event_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) n_click,
        | CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) n_error,
        | CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) n_purchase,
        | CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) n_signup,
        | CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) n_view,
        | count(*) n_total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q38_sketch_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) exact_users, count(*) n,
        | true AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q39_simhash_pairs" ->
      """WITH d AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |tok0 AS (SELECT doc_id, unnest(string_split(t, ' ')) w FROM d),
        |tok AS (SELECT doc_id, md5(w) hv FROM tok0),
        |bx AS (SELECT doc_id, hv, unnest(generate_series(0, 59)) j FROM tok),
        |v AS (SELECT doc_id, j,
        |        CAST(floor((instr('0123456789abcdef', substr(hv, CAST(j//4 AS INT) + 1, 1)) - 1)
        |          / power(2, j % 4)) AS BIGINT) % 2 AS bit
        |      FROM bx),
        |s AS (SELECT doc_id, j, sum(bit*2 - 1) sv FROM v GROUP BY 1,2),
        |sig AS (SELECT doc_id, CAST(sum(CASE WHEN sv > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) simhash
        |        FROM s GROUP BY 1),
        |bands AS (SELECT doc_id, simhash, bs.b, (simhash >> (bs.b*15)) & 32767 bv
        |          FROM sig, (SELECT unnest(generate_series(0, 3)) b) bs),
        |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, a.simhash sa, b.simhash sb
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY 1,2""".stripMargin,
    "q40_gap_census" ->
      """WITH b AS (SELECT CAST(floor(min(epoch(ts))/3600)*3600 AS BIGINT) mn,
        |                  CAST(floor(max(epoch(ts))/3600)*3600 AS BIGINT) mx FROM events),
        |g AS (SELECT t.event_type, b.mn + 3600*gs.g AS grid_start
        |      FROM b, (SELECT DISTINCT event_type FROM events) t, generate_series(0,2000) gs(g)
        |      WHERE b.mn + 3600*gs.g <= b.mx),
        |h AS (SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) grid_start
        |      FROM events GROUP BY 1,2),
        |e AS (SELECT g.event_type, g.grid_start FROM g WHERE NOT EXISTS (
        |        SELECT 1 FROM h WHERE h.event_type = g.event_type AND h.grid_start = g.grid_start)),
        |r0 AS (SELECT event_type, grid_start,
        |        CASE WHEN lag(grid_start) OVER w IS NULL
        |               OR grid_start - lag(grid_start) OVER w > 3600 THEN 1 ELSE 0 END brk
        |      FROM e WINDOW w AS (PARTITION BY event_type ORDER BY grid_start)),
        |r1 AS (SELECT event_type, grid_start, sum(brk) OVER (PARTITION BY event_type
        |        ORDER BY grid_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) run FROM r0),
        |runs AS (SELECT event_type, run, count(*) run_len FROM r1 GROUP BY 1,2),
        |gc AS (SELECT event_type, count(*) n_buckets FROM g GROUP BY 1),
        |agg AS (SELECT event_type, CAST(sum(run_len) AS BIGINT) n_empty,
        |         max(run_len) longest_gap, count(*) n_gaps FROM runs GROUP BY 1)
        |SELECT gc.event_type, gc.n_buckets, coalesce(agg.n_empty, 0) n_empty,
        | coalesce(agg.longest_gap, 0) longest_gap, coalesce(agg.n_gaps, 0) n_gaps
        |FROM gc LEFT JOIN agg ON gc.event_type = agg.event_type ORDER BY 1""".stripMargin,
    "q41_zscore_outliers" ->
      """WITH st AS (SELECT event_type, count(*) n,
        |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s,
        |   CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) sq
        | FROM events GROUP BY 1),
        |st2 AS (SELECT event_type, s/n mean, sqrt((sq - s*s/n)/(n-1)) sd FROM st),
        |z AS (SELECT e.event_type, e.event_id, (e.value - mean)/sd z
        |      FROM events e JOIN st2 USING (event_type)),
        |r AS (SELECT event_type, event_id, z,
        |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY abs(z) DESC, event_id) AS INT) rn
        |      FROM z)
        |SELECT event_type, rn, event_id, round(z*10000)/10000 z
        |FROM r WHERE rn <= 5 ORDER BY 1,2""".stripMargin,
    "q42_autocorr" ->
      """WITH m AS (SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) mu,
        |            count(*) n FROM events GROUP BY 1),
        |l AS (SELECT e.user_id, m.mu, m.n, e.value,
        |        lag(e.value) OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) prev
        |      FROM events e JOIN m USING (user_id)),
        |a AS (SELECT user_id, max(n) n,
        |   CAST(sum(CAST((value-mu)*(prev-mu) AS DECIMAL(28,16))) AS DOUBLE) num,
        |   CAST(sum(CAST((value-mu)*(value-mu) AS DECIMAL(28,16))) AS DOUBLE) den
        | FROM l GROUP BY 1)
        |SELECT user_id, n, round(num/den*10000)/10000 r1 FROM a ORDER BY 1""".stripMargin,
    "q43_ann_recall" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |d1 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc1 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d1 JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id),
        |truth AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc1) WHERE rnk <= 5),
        |cent AS (SELECT label, i, CAST(sum(CAST(v AS DECIMAL(30,20))) AS DOUBLE)/count(*) c
        |         FROM xx GROUP BY 1,2),
        |cn AS (SELECT label, sqrt(CAST(sum(CAST(c*c AS DECIMAL(18,16))) AS DOUBLE)) cnrm
        |       FROM cent GROUP BY 1),
        |pd AS (SELECT p.vec_id probe_id, cent.label,
        |         CAST(sum(CAST(p.v*cent.c AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM xx p JOIN cent ON p.i = cent.i WHERE p.vec_id < 10 GROUP BY 1,2),
        |ps AS (SELECT probe_id, pd.label, dot/(np.nrm*cn.cnrm) ccos
        |       FROM pd JOIN n np ON probe_id = np.vec_id JOIN cn ON pd.label = cn.label),
        |short AS (SELECT probe_id, label FROM (
        |    SELECT probe_id, label,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, label) crk
        |    FROM ps) WHERE crk <= 2),
        |d2 AS (SELECT s.probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM short s JOIN xx c ON c.label = s.label
        |        JOIN xx p ON p.vec_id = s.probe_id AND p.i = c.i
        |      WHERE c.vec_id <> s.probe_id GROUP BY 1,2),
        |sc2 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d2 JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id),
        |approx AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc2) WHERE rnk <= 5),
        |hits AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN approx a
        |          ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id GROUP BY 1),
        |tot AS (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1)
        |SELECT tot.probe_id, coalesce(n_hits, 0) n_hits, n_true,
        | round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 recall
        |FROM tot LEFT JOIN hits ON tot.probe_id = hits.probe_id ORDER BY 1""".stripMargin,
    "q44_corr_matrix" ->
      """WITH b AS (SELECT event_type, CAST(floor(epoch(ts)/300)*300 AS BIGINT) bucket,
        |   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value) v
        | FROM events GROUP BY 1,2),
        |j AS (SELECT a.event_type type_a, c.event_type type_b, a.v va, c.v vb
        |      FROM b a JOIN b c ON a.bucket = c.bucket AND a.event_type < c.event_type),
        |s AS (SELECT type_a, type_b, count(*) n,
        |   CAST(sum(CAST(va AS DECIMAL(28,16))) AS DOUBLE) sx,
        |   CAST(sum(CAST(vb AS DECIMAL(28,16))) AS DOUBLE) sy,
        |   CAST(sum(CAST(va*vb AS DECIMAL(28,12))) AS DOUBLE) sxy,
        |   CAST(sum(CAST(va*va AS DECIMAL(28,12))) AS DOUBLE) sxx,
        |   CAST(sum(CAST(vb*vb AS DECIMAL(28,12))) AS DOUBLE) syy
        | FROM j GROUP BY 1,2)
        |SELECT type_a, type_b, n,
        | round((n*sxy - sx*sy)/sqrt((n*sxx - sx*sx)*(n*syy - sy*sy))*10000)/10000 corr
        |FROM s ORDER BY 1,2""".stripMargin,
    "q45_window_suite" ->
      """SELECT user_id, event_id,
        | CAST(ntile(4) OVER w AS INT) quartile,
        | round((value - lag(value, 1) OVER w)*10000)/10000 delta_prev,
        | round(cume_dist() OVER w*10000)/10000 cd,
        | lead(event_type, 1) OVER w next_type
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q46_ship_priority" ->
      """SELECT o.o_orderkey, CAST(floor(epoch(o.o_orderdate)) AS BIGINT) order_e,
        | round(sum(l.l_extendedprice*(1-l.l_discount)),4) revenue, count(*) n_items
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderdate < TIMESTAMP '1995-03-15' AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1,2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q47_edit_distance" ->
      """WITH d AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t,
        |            string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |           FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pairs AS (SELECT doc_a, doc_b FROM inter
        |          JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |          WHERE CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared) >= 0.5)
        |SELECT p.doc_a, p.doc_b, levenshtein(da.t, db.t) edit_dist,
        | length(da.t) len_a, length(db.t) len_b
        |FROM pairs p JOIN d da ON p.doc_a = da.doc_id JOIN d db ON p.doc_b = db.doc_id
        |ORDER BY 1,2""".stripMargin,
    "q48_funnel" ->
      """WITH s AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) e
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id p_user, CAST(floor(epoch(ts)) AS BIGINT) pe
        |      FROM events WHERE event_type = 'purchase'),
        |conv AS (SELECT s.user_id, s.event_id,
        |           max(CASE WHEN p.p_user IS NOT NULL THEN 1 ELSE 0 END) converted
        |         FROM s LEFT JOIN p ON p.p_user = s.user_id
        |           AND p.pe >= s.e AND p.pe <= s.e + 3600
        |         GROUP BY 1,2)
        |SELECT user_id, count(*) n_signups,
        | CAST(sum(converted) AS BIGINT) n_converted,
        | round(CAST(sum(converted) AS DOUBLE)/count(*)*10000)/10000 conv_rate
        |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin,
    "q49_mad" ->
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) m FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - med.m) d
        |        FROM events e JOIN med ON e.event_type = med.event_type)
        |SELECT event_type, round(quantile_cont(d, 0.5)*10000)/10000 mad, count(*) n
        |FROM dev GROUP BY 1 ORDER BY 1""".stripMargin,
    "q50_chunk_overlap" ->
      """WITH nt AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |ix AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) g
        |       FROM nt WHERE length(t) >= 32),
        |hs AS (SELECT DISTINCT doc_id, substr(t, g, 32) s FROM ix),
        |keep AS (SELECT s FROM hs GROUP BY 1 HAVING count(*) <= 1000),
        |c AS (SELECT doc_id, s FROM hs JOIN keep USING (s))
        |SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared_chunks
        |FROM c a JOIN c b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY 1,2 HAVING count(*) >= 10 ORDER BY 1,2""".stripMargin,
    "q51_hourly_heatmap" ->
      """WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events)
        |SELECT CAST((floor(e/86400) + 4) % 7 AS INT) dow,
        | CAST(floor((e % 86400)/3600) AS INT) hod,
        | count(*) n,
        | round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)*10000)/10000 avg_value
        |FROM e GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    // q22's pair CTEs + recursive min-label closure. The r.comp < e.v prune
    // keeps the recursion linear: a label only travels to nodes above it,
    // and the component min (below every member) is never pruned.
    "q52_dup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz0 AS (SELECT doc_id, band, sig,
        |                count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id
        |          WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |           FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS (SELECT doc_a u, doc_b v FROM allp
        |          UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1)
        |SELECT node AS doc_id, comp AS cluster_id,
        |       CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size,
        |       node = comp AS is_canonical
        |FROM cc ORDER BY doc_id""".stripMargin,
    "q53_repetition_filters" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) n_words,
        |                CAST(len(list_distinct(w)) AS BIGINT) uniq_words FROM d),
        |bgx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM d WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, w[g]||' '||w[g+1] bg, count(*) c FROM bgx GROUP BY 1,2),
        |top AS (SELECT doc_id, bg top_bigram, c top_bigram_n FROM
        |        (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) rn
        |         FROM bc) WHERE rn = 1)
        |SELECT b.doc_id, n_words, uniq_words,
        |  round((1 - CAST(uniq_words AS DOUBLE)/n_words)*10000)/10000 word_rep_frac,
        |  top_bigram, CAST(top_bigram_n AS BIGINT) top_bigram_n,
        |  round(top_bigram_n*2.0/n_words*10000)/10000 top2gram_frac,
        |  ((1 - CAST(uniq_words AS DOUBLE)/n_words) <= 0.7
        |   AND top_bigram_n*2.0/n_words <= 0.18) keep
        |FROM base b JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q54_stratified_sample" ->
      """WITH s AS (SELECT doc_id, lang,
        |            md5('samp:'||CAST(doc_id AS VARCHAR)) h FROM documents),
        |u AS (SELECT doc_id, lang,
        |  CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT) u24,
        |  CASE WHEN lang = 'en' THEN 0.4 ELSE 1.0 END rate FROM s)
        |SELECT doc_id, lang, u24 FROM u
        |WHERE u24 < rate * 16777216.0 ORDER BY doc_id""".stripMargin,
    "q55_seq_packing" ->
      """WITH d AS (SELECT doc_id, CAST(len(string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) n_tok
        | FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |        CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) tok_start
        |      FROM d)
        |SELECT doc_id, n_tok, tok_start,
        |  tok_start // 256 start_window,
        |  (tok_start + n_tok - 1) // 256 end_window,
        |  (tok_start + n_tok - 1) // 256 - tok_start // 256 + 1 n_windows,
        |  ((tok_start + n_tok - 1) // 256 > tok_start // 256) fragmented
        |FROM c ORDER BY doc_id""".stripMargin,
    "q56_centroid_quality" ->
      """WITH e AS (SELECT vec_id, label,
        |            list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |ix AS (SELECT vec_id, label, v, unnest(generate_series(1, len(v))) i FROM e),
        |xx AS (SELECT vec_id, label, i, v[i] x FROM ix),
        |cent AS (SELECT label, i,
        |           CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)/count(*) c
        |         FROM xx GROUP BY 1,2),
        |d AS (SELECT xx.vec_id, xx.label,
        |        CAST(sum(CAST(xx.x*xx.x AS DECIMAL(18,16))) AS DOUBLE) dvv,
        |        CAST(sum(CAST(xx.x*cent.c AS DECIMAL(18,16))) AS DOUBLE) dvc
        |      FROM xx JOIN cent ON xx.label = cent.label AND xx.i = cent.i
        |      GROUP BY 1,2),
        |cc AS (SELECT label, CAST(sum(CAST(c*c AS DECIMAL(18,16))) AS DOUBLE) dcc
        |       FROM cent GROUP BY 1),
        |d2 AS (SELECT d.label, (dvv - 2.0*dvc + dcc) d2 FROM d JOIN cc USING (label))
        |SELECT label, CAST(count(*) AS BIGINT) n_vecs,
        |  round(CAST(sum(CAST(d2 AS DECIMAL(28,12))) AS DOUBLE)/count(*)*10000)/10000 avg_sqdist,
        |  round(max(d2)*10000)/10000 max_sqdist
        |FROM d2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q57_zipf_slope" ->
      """WITH t AS (SELECT lang, unnest(string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w FROM documents),
        |f AS (SELECT lang, w, count(*) freq FROM t GROUP BY 1,2),
        |r AS (SELECT lang, w, freq,
        |        row_number() OVER (PARTITION BY lang ORDER BY freq DESC, w) rnk
        |      FROM f),
        |k AS (SELECT lang, w, freq, rnk,
        |        log10(CAST(rnk AS DOUBLE)) x, log10(CAST(freq AS DOUBLE)) y
        |      FROM r WHERE rnk <= 50),
        |s AS (SELECT lang, CAST(count(*) AS BIGINT) n_points,
        |        max(CASE WHEN rnk = 1 THEN w END) top_token,
        |        CAST(max(CASE WHEN rnk = 1 THEN freq END) AS BIGINT) top_freq,
        |        sum(CAST(x AS DECIMAL(28,18))) sx,
        |        sum(CAST(y AS DECIMAL(28,18))) sy,
        |        sum(CAST(x*y AS DECIMAL(28,18))) sxy,
        |        sum(CAST(x*x AS DECIMAL(28,18))) sxx
        |      FROM k GROUP BY 1)
        |SELECT lang, n_points, top_token, top_freq,
        |  round((n_points*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |        (n_points*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |        *10000)/10000 zipf_slope
        |FROM s ORDER BY lang""".stripMargin,
    "q58_tfidf" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |tok0 AS (SELECT doc_id, unnest(w) term FROM d),
        |tok AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf FROM tok0 GROUP BY 1,2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) df FROM tok GROUP BY 1),
        |n AS (SELECT count(*) n FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |        tf * (ln((1.0 + n.n)/(1.0 + df)) + 1.0) score
        |      FROM tok JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, df, score,
        |        CAST(row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, term) AS INT) rn FROM s)
        |SELECT doc_id, rn, term, tf, df, round(score*10000)/10000 tfidf
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
    "q59_minhash_accuracy" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig, count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id),
        |est AS (SELECT p.doc_a, p.doc_b,
        |          CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS DOUBLE)/12.0 est
        |        FROM pairs p JOIN mh a ON a.doc_id = p.doc_a
        |                     JOIN mh b ON b.doc_id = p.doc_b AND b.salt = a.salt
        |        GROUP BY 1,2),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) n_shared
        |          FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a
        |                       JOIN sh sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
        |          GROUP BY 1,2)
        |SELECT e.doc_a, e.doc_b,
        |  round(est*10000)/10000 est_jaccard,
        |  round(CAST(n_shared AS DOUBLE)/(na.n + nb.n - n_shared)*10000)/10000 jaccard,
        |  round(abs(est - CAST(n_shared AS DOUBLE)/(na.n + nb.n - n_shared))*10000)/10000 abs_err
        |FROM est e JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
        |JOIN sizes na ON e.doc_a = na.doc_id
        |JOIN sizes nb ON e.doc_b = nb.doc_id
        |ORDER BY 1,2""".stripMargin,
    "q60_bigram_pmi" ->
      """WITH d AS (SELECT lang, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |uni AS (SELECT lang, unnest(w) tok FROM d),
        |uc AS (SELECT lang, tok, CAST(count(*) AS BIGINT) c FROM uni GROUP BY 1,2),
        |nu AS (SELECT lang, CAST(sum(c) AS BIGINT) nu FROM uc GROUP BY 1),
        |bgx AS (SELECT lang, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM d WHERE len(w) >= 2),
        |bc AS (SELECT lang, w[g] w1, w[g+1] w2, CAST(count(*) AS BIGINT) c_ab
        |       FROM bgx GROUP BY 1,2,3),
        |nb AS (SELECT lang, CAST(sum(c_ab) AS BIGINT) nb FROM bc GROUP BY 1),
        |s AS (SELECT bc.lang, bc.w1, bc.w2, bc.c_ab, a.c c_a, b.c c_b, nu.nu, nb.nb,
        |        ln((CAST(bc.c_ab AS DOUBLE)/nb.nb) /
        |           ((CAST(a.c AS DOUBLE)/nu.nu) * (CAST(b.c AS DOUBLE)/nu.nu))) pmi
        |      FROM bc
        |      JOIN uc a ON a.lang = bc.lang AND a.tok = bc.w1
        |      JOIN uc b ON b.lang = bc.lang AND b.tok = bc.w2
        |      JOIN nu ON nu.lang = bc.lang
        |      JOIN nb ON nb.lang = bc.lang
        |      WHERE bc.c_ab >= 5),
        |r AS (SELECT lang, w1, w2, c_ab, c_a, c_b, pmi,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY pmi DESC, w1, w2) AS INT) rn FROM s)
        |SELECT lang, rn, w1 || ' ' || w2 bigram, c_ab, c_a, c_b,
        |  round(pmi*10000)/10000 pmi
        |FROM r WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,
    "q61_contamination" ->
      """WITH canon AS (SELECT source, array_to_string(list_sort(list_distinct(
        |   string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))), ' ') c
        | FROM documents),
        |fp0 AS (SELECT source, md5(c) fp FROM canon WHERE length(c) > 0),
        |fps AS (SELECT DISTINCT source, fp FROM fp0),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) n_fps FROM fps GROUP BY 1),
        |shared AS (SELECT a.source source_a, b.source source_b,
        |             CAST(count(*) AS BIGINT) n_shared
        |           FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |           GROUP BY 1,2)
        |SELECT source_a, source_b, n_shared, na.n_fps na, nb.n_fps nb,
        |  round(CAST(n_shared AS DOUBLE)/least(na.n_fps, nb.n_fps)*10000)/10000 overlap
        |FROM shared JOIN sizes na ON source_a = na.source
        |JOIN sizes nb ON source_b = nb.source
        |ORDER BY 1,2""".stripMargin,
    "q62_key_skew" ->
      """WITH b AS (SELECT md5('skew:'||CAST(l_suppkey AS VARCHAR)) h
        |           FROM lineitem WHERE l_suppkey IS NOT NULL),
        |u AS (SELECT CAST(
        |  (instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |  (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |  (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |  (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |  (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |  (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT) u24 FROM b),
        |c AS (SELECT CAST(u24 % 32 AS INT) bucket, CAST(count(*) AS BIGINT) n_rows
        |      FROM u GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) total FROM c)
        |SELECT bucket, n_rows,
        |  round(CAST(n_rows AS DOUBLE)*32/total*10000)/10000 load_ratio
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q63_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id,
        |    CAST(floor(CAST(floor(epoch(ts)) AS BIGINT)/604800) AS BIGINT) w
        |  FROM events),
        |coh AS (SELECT user_id, min(w) cohort_week FROM wk GROUP BY 1),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) cohort_size
        |          FROM coh GROUP BY 1),
        |act AS (SELECT c.cohort_week, wk.w - c.cohort_week week_offset,
        |          CAST(count(*) AS BIGINT) n_active
        |        FROM wk JOIN coh c ON wk.user_id = c.user_id
        |        GROUP BY 1,2)
        |SELECT a.cohort_week, week_offset, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE)/cohort_size*10000)/10000 retention
        |FROM act a JOIN sizes s ON a.cohort_week = s.cohort_week
        |ORDER BY 1,2""".stripMargin,
    "q64_weighted_sample" ->
      """WITH b AS (SELECT doc_id, lang, n_chars,
        |            md5('wsamp:'||CAST(doc_id AS VARCHAR)) h
        |           FROM documents WHERE n_chars > 0),
        |u AS (SELECT doc_id, lang, n_chars, CAST(
        |  (instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |  (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |  (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |  (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |  (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |  (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT) u24 FROM b),
        |p AS (SELECT doc_id, lang, n_chars,
        |        ln(CAST(u24 + 1 AS DOUBLE)/16777216.0)/n_chars priority FROM u),
        |r AS (SELECT doc_id, lang, n_chars, priority,
        |        CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS INT) rn
        |      FROM p)
        |SELECT rn, doc_id, lang, n_chars,
        |  round(priority*10000000)/10000000 + 0.0 priority
        |FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin,
    "q65_quantized_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |env AS (SELECT i, min(v) mn, max(v) mx FROM xx GROUP BY 1),
        |rx AS (SELECT vec_id, xx.i,
        |         CASE WHEN mx = mn THEN mn
        |           ELSE mn + round((v - mn)/(mx - mn)*255)/255*(mx - mn) END rv
        |       FROM xx JOIN env ON xx.i = env.i),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |nr AS (SELECT vec_id, sqrt(CAST(sum(CAST(rv*rv AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |       FROM rx GROUP BY 1),
        |d1 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc1 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d1 JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id),
        |truth AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc1) WHERE rnk <= 5),
        |d2 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.rv*c.rv AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM rx p JOIN rx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc2 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d2 JOIN nr np ON probe_id = np.vec_id JOIN nr nc ON neighbor_id = nc.vec_id),
        |approx AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc2) WHERE rnk <= 5),
        |hits AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN approx a
        |          ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id GROUP BY 1),
        |tot AS (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1)
        |SELECT tot.probe_id, coalesce(n_hits, 0) n_hits, n_true,
        | round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 recall
        |FROM tot LEFT JOIN hits ON tot.probe_id = hits.probe_id ORDER BY 1""".stripMargin,
    "q66_market_share" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
        |             l_extendedprice*(1 - l_discount) rev FROM lineitem),
        |p AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        |o AS (SELECT o_orderkey, o_custkey, CAST(year(o_orderdate) AS INT) o_year
        |      FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997),
        |en AS (SELECT n_nationkey FROM nation n JOIN region r
        |       ON n.n_regionkey = r.r_regionkey WHERE r.r_name = 'EUROPE'),
        |c AS (SELECT c_custkey FROM customer JOIN en
        |      ON c_nationkey = en.n_nationkey),
        |s AS (SELECT s_suppkey, n_name supp_nation FROM supplier JOIN nation
        |      ON s_nationkey = n_nationkey),
        |j AS (SELECT o_year, supp_nation, CAST(rev AS DECIMAL(18,6)) dec_rev
        |      FROM li JOIN p ON l_partkey = p_partkey
        |      JOIN o ON l_orderkey = o_orderkey
        |      JOIN c ON o_custkey = c_custkey
        |      JOIN s ON l_suppkey = s.s_suppkey),
        |a AS (SELECT o_year, sum(dec_rev) all_rev,
        |        sum(CASE WHEN supp_nation = 'NATION_7' THEN dec_rev
        |            ELSE CAST(0 AS DECIMAL(18,6)) END) tgt_rev
        |      FROM j GROUP BY 1)
        |SELECT o_year,
        |  round(CAST(tgt_rev AS DOUBLE)/CAST(all_rev AS DOUBLE)*1000000)/1000000 mkt_share,
        |  round(CAST(tgt_rev AS DOUBLE), 4) target_rev,
        |  round(CAST(all_rev AS DOUBLE), 4) total_rev
        |FROM a ORDER BY o_year""".stripMargin,
    "q67_transitions" ->
      """WITH s AS (SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) from_type
        |  FROM events),
        |t AS (SELECT from_type, event_type to_type, CAST(count(*) AS BIGINT) n
        |      FROM s WHERE from_type IS NOT NULL GROUP BY 1,2),
        |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) row_total FROM t GROUP BY 1)
        |SELECT t.from_type, to_type, n,
        |  round(CAST(n AS DOUBLE)/row_total*10000)/10000 p
        |FROM t JOIN r ON t.from_type = r.from_type
        |ORDER BY 1,2""".stripMargin,
    "q68_source_scorecard" ->
      """WITH d AS (SELECT doc_id, source, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |base AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) n_words,
        |                CAST(len(list_distinct(w)) AS BIGINT) uniq_words FROM d),
        |bgx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM d WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, w[g]||' '||w[g+1] bg, count(*) c FROM bgx GROUP BY 1,2),
        |top AS (SELECT doc_id, c top_bigram_n FROM
        |        (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg) rn
        |         FROM bc) WHERE rn = 1),
        |k AS (SELECT b.doc_id, b.source, b.n_words, b.uniq_words,
        |        ((1 - CAST(uniq_words AS DOUBLE)/n_words) <= 0.7
        |         AND top_bigram_n*2.0/n_words <= 0.18) keep
        |      FROM base b JOIN top USING (doc_id)),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |        CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) n_keep,
        |        CAST(sum(n_words) AS BIGINT) total_words,
        |        CAST(sum(uniq_words) AS BIGINT) total_uniq
        |      FROM k GROUP BY 1)
        |SELECT source, n_docs, n_keep, total_words,
        |  round(CAST(n_keep AS DOUBLE)/n_docs*10000)/10000 keep_rate,
        |  round((1.0 - CAST(total_uniq AS DOUBLE)/total_words)*10000)/10000 corpus_rep_frac
        |FROM a ORDER BY source""".stripMargin,
    "q69_ship_delay_sla" ->
      """WITH d AS (SELECT o_orderpriority,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS DOUBLE) delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT o_orderpriority,
        |  round(quantile_cont(delay, 0.5), 4) p50_days,
        |  round(quantile_cont(delay, 0.9), 4) p90_days,
        |  count(*) n
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q70_degree_census" ->
      """WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) n_orders
        |           FROM orders GROUP BY 1),
        |b AS (SELECT CAST(length(bin(n_orders)) - 1 AS INT) bucket, n_orders FROM c)
        |SELECT bucket, CAST(power(2, bucket) AS BIGINT) bucket_lo,
        |  CAST(count(*) AS BIGINT) n_customers,
        |  CAST(sum(n_orders) AS BIGINT) total_orders
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q71_seasonal_index" ->
      """WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |d AS (SELECT event_type, CAST((floor(e/86400) + 4) % 7 AS INT) dow,
        |        CAST(count(*) AS BIGINT) n, sum(CAST(value AS DECIMAL(18,6))) s
        |      FROM e GROUP BY 1,2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) tn, sum(s) ts_sum
        |      FROM d GROUP BY 1)
        |SELECT d.event_type, dow, n,
        |  round(CAST(s AS DOUBLE)/n*10000)/10000 dow_avg,
        |  round((CAST(s AS DOUBLE)/n)/(CAST(ts_sum AS DOUBLE)/tn)*10000)/10000 seasonal_idx
        |FROM d JOIN t ON d.event_type = t.event_type
        |ORDER BY 1,2""".stripMargin,
    "q72_importance_evolution" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |b AS (SELECT CAST(floor(min(e)+(max(e)-min(e))*0.5) AS BIGINT) w_start FROM ev),
        |contrib AS (SELECT event_type, CAST(floor(e/86400)*86400 AS BIGINT) bucket,
        |                   sum(CAST(value AS DECIMAL(18,6))) s
        |            FROM ev, b WHERE e >= b.w_start GROUP BY 1,2),
        |btot AS (SELECT bucket, sum(s) tot FROM contrib GROUP BY 1),
        |tots AS (SELECT event_type, sum(s) sig_total FROM contrib GROUP BY 1),
        |top AS (SELECT event_type, sig_total,
        |          CAST(row_number() OVER (ORDER BY sig_total DESC, event_type) AS INT) rnk
        |        FROM tots QUALIFY rnk <= 3)
        |SELECT c.event_type, c.bucket,
        |  round(CAST(c.s AS DOUBLE)/CAST(t.tot AS DOUBLE)*10000)/10000 imp_share,
        |  round(CAST(p.sig_total AS DOUBLE)*10000)/10000 sig_total,
        |  p.rnk
        |FROM contrib c JOIN btot t ON c.bucket = t.bucket
        |JOIN top p ON c.event_type = p.event_type
        |ORDER BY p.rnk, c.bucket""".stripMargin,
    "q73_lsh_census" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bkt AS (SELECT band, sig, CAST(count(*) AS BIGINT) c FROM bands GROUP BY 1,2)
        |SELECT band,
        |  CAST(count(*) AS BIGINT) n_buckets,
        |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) n_colliding,
        |  max(c) max_bucket,
        |  CAST(sum(CASE WHEN c <= 64 THEN c*(c-1)//2 ELSE 0 END) AS BIGINT) pairs_expanded,
        |  CAST(sum(CASE WHEN c > 64 THEN c*(c-1)//2 ELSE 0 END) AS BIGINT) pairs_suppressed,
        |  CAST(sum(CASE WHEN c > 64 THEN 1 ELSE 0 END) AS BIGINT) n_overcap
        |FROM bkt GROUP BY 1 ORDER BY 1""".stripMargin,
    "q74_srp_lsh" ->
      """WITH nn AS (SELECT count(*) n FROM embeddings),
        |geo AS (SELECT coalesce(min(b), 24) bits
        |  FROM (SELECT unnest(generate_series(8, 24)) b) bb, nn
        |  WHERE (CAST(8 AS BIGINT) << b) >= n),
        |pl AS (SELECT p.j, q.d,
        |    md5('srp:'||CAST(p.j AS VARCHAR)||':'||CAST(q.d AS VARCHAR)) h
        |  FROM (SELECT unnest(generate_series(0, 95)) j) p,
        |       (SELECT unnest(generate_series(0, 63)) d) q, geo
        |  WHERE p.j < 4*geo.bits),
        |w AS (SELECT j, d,
        |  CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)/16777216.0 - 0.5 w
        |  FROM pl),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i - 1 d, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |dots AS (SELECT x.vec_id, w.j, sum(CAST(x.v*w.w AS DECIMAL(18,16))) s
        |         FROM xx x JOIN w ON x.d = w.d GROUP BY 1,2),
        |sigs AS (SELECT vec_id, CAST(floor(j/bits) AS INT) band,
        |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % bits))
        |                         ELSE 0 END) AS BIGINT) sig
        |         FROM dots, geo GROUP BY 1,2),
        |sigc AS (SELECT vec_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) bc FROM sigs),
        |capped AS (SELECT vec_id, band, sig FROM sigc WHERE bc <= 1024),
        |cand AS (SELECT a.vec_id vec_a, b.vec_id vec_b,
        |           CAST(count(*) AS BIGINT) n_shared_bands
        |         FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
        |           AND a.vec_id < b.vec_id
        |         GROUP BY 1,2 HAVING count(*) >= 1),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |dp AS (SELECT c.vec_a, c.vec_b, c.n_shared_bands,
        |         CAST(sum(CAST(xa.v*xb.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM cand c JOIN xx xa ON xa.vec_id = c.vec_a
        |       JOIN xx xb ON xb.vec_id = c.vec_b AND xa.d = xb.d
        |       GROUP BY 1,2,3)
        |SELECT vec_a, vec_b, n_shared_bands,
        |  round(dot/(na.nrm*nb.nrm), 6) cosine
        |FROM dp JOIN n na ON vec_a = na.vec_id JOIN n nb ON vec_b = nb.vec_id
        |WHERE dot/(na.nrm*nb.nrm) >= 0.4
        |ORDER BY 1,2""".stripMargin,
    "q75_mixture_plan" ->
      """WITH d AS (SELECT lang, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |a AS (SELECT lang, CAST(sum(len(w)) AS BIGINT) avail_tokens FROM d GROUP BY 1),
        |t(lang, share) AS (VALUES ('en', 0.30), ('es', 0.20), ('fr', 0.20),
        |                          ('de', 0.15), ('zh', 0.15)),
        |j AS (SELECT a.lang, avail_tokens, CAST(share AS DOUBLE) target_share,
        |        avail_tokens * 4.0 / CAST(share AS DOUBLE) cap_budget
        |      FROM a JOIN t ON a.lang = t.lang),
        |b AS (SELECT min(cap_budget) budget FROM j)
        |SELECT lang, avail_tokens, target_share,
        |  CAST(round(target_share * budget) AS BIGINT) planned_tokens,
        |  round(target_share * budget / avail_tokens * 10000)/10000 epochs,
        |  CAST(round(budget) AS BIGINT) budget_tokens
        |FROM j, b ORDER BY lang""".stripMargin,
    "q76_semantic_prune" ->
      """WITH RECURSIVE nn AS (SELECT count(*) n FROM embeddings),
        |geo AS (SELECT coalesce(min(b), 24) bits
        |  FROM (SELECT unnest(generate_series(8, 24)) b) bb, nn
        |  WHERE (CAST(8 AS BIGINT) << b) >= n),
        |pl AS (SELECT p.j, q.d,
        |    md5('srp:'||CAST(p.j AS VARCHAR)||':'||CAST(q.d AS VARCHAR)) h
        |  FROM (SELECT unnest(generate_series(0, 95)) j) p,
        |       (SELECT unnest(generate_series(0, 63)) d) q, geo
        |  WHERE p.j < 4*geo.bits),
        |w AS (SELECT j, d,
        |  CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)/16777216.0 - 0.5 w
        |  FROM pl),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i - 1 d, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |dots AS (SELECT x.vec_id, w.j, sum(CAST(x.v*w.w AS DECIMAL(18,16))) s
        |         FROM xx x JOIN w ON x.d = w.d GROUP BY 1,2),
        |sigs AS (SELECT vec_id, CAST(floor(j/bits) AS INT) band,
        |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % bits))
        |                         ELSE 0 END) AS BIGINT) sig
        |         FROM dots, geo GROUP BY 1,2),
        |sigc AS (SELECT vec_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) bc FROM sigs),
        |capped AS (SELECT vec_id, band, sig FROM sigc WHERE bc <= 1024),
        |cand AS (SELECT a.vec_id vec_a, b.vec_id vec_b
        |         FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
        |           AND a.vec_id < b.vec_id
        |         GROUP BY 1,2),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |dp AS (SELECT c.vec_a, c.vec_b,
        |         CAST(sum(CAST(xa.v*xb.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM cand c JOIN xx xa ON xa.vec_id = c.vec_a
        |       JOIN xx xb ON xb.vec_id = c.vec_b AND xa.d = xb.d
        |       GROUP BY 1,2),
        |p AS (SELECT vec_a, vec_b
        |      FROM dp JOIN n na ON vec_a = na.vec_id JOIN n nb ON vec_b = nb.vec_id
        |      WHERE dot/(na.nrm*nb.nrm) >= 0.4),
        |edges AS (SELECT vec_a u, vec_b v FROM p
        |          UNION SELECT vec_b, vec_a FROM p),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |sz AS (SELECT comp, CAST(count(*) AS BIGINT) cluster_size FROM cc GROUP BY 1)
        |SELECT emb.vec_id,
        |  coalesce(cc.comp, emb.vec_id) cluster_id,
        |  CAST(coalesce(sz.cluster_size, 1) AS BIGINT) cluster_size,
        |  emb.vec_id = coalesce(cc.comp, emb.vec_id) is_kept
        |FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.node
        |LEFT JOIN sz ON cc.comp = sz.comp
        |ORDER BY vec_id""".stripMargin,
    "q77_curation_funnel" ->
      """WITH s AS (SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |sw AS (SELECT doc_id, source, t, string_split(t, ' ') w FROM s),
        |base AS (SELECT doc_id, source,
        |    CAST(length(t) AS BIGINT) n_chars,
        |    CAST(len(w) AS BIGINT) n_words,
        |    CAST(len(list_distinct(w)) AS BIGINT) uniq_words,
        |    CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) AS BIGINT) n_punct
        |  FROM sw),
        |bgx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM sw WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, w[g]||' '||w[g+1] bg, count(*) c FROM bgx GROUP BY 1,2),
        |top AS (SELECT doc_id, CAST(max(c) AS BIGINT) top_bigram_n FROM bc GROUP BY 1),
        |f AS (SELECT b.doc_id, b.source, b.n_chars, b.n_words, b.uniq_words,
        |        b.n_punct, coalesce(top_bigram_n, 0) top_bigram_n
        |      FROM base b LEFT JOIN top USING (doc_id)),
        |g AS (SELECT source,
        |    (n_words BETWEEN 10 AND 1000) p_len,
        |    ((n_words BETWEEN 10 AND 1000)
        |      AND (n_words - uniq_words)*10 <= n_words*7
        |      AND top_bigram_n*100 <= n_words*9) p_rep,
        |    ((n_words BETWEEN 10 AND 1000)
        |      AND (n_words - uniq_words)*10 <= n_words*7
        |      AND top_bigram_n*100 <= n_words*9
        |      AND n_punct*100 <= n_chars*10) p_punct
        |  FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(CASE WHEN p_len THEN 1 ELSE 0 END) AS BIGINT) n_pass_len,
        |  CAST(sum(CASE WHEN p_rep THEN 1 ELSE 0 END) AS BIGINT) n_pass_rep,
        |  CAST(sum(CASE WHEN p_punct THEN 1 ELSE 0 END) AS BIGINT) n_pass_all,
        |  round(CAST(sum(CASE WHEN p_punct THEN 1 ELSE 0 END) AS DOUBLE)/count(*)*10000)/10000 retention
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q78_decontam_flags" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-3)) g
        |       FROM d WHERE len(w) >= 4),
        |sh AS (SELECT DISTINCT doc_id,
        |         w[g]||' '||w[g+1]||' '||w[g+2]||' '||w[g+3] s FROM ix),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) n_shared_grams
        |FROM sh JOIN ev USING (s) WHERE doc_id % 50 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q79_sessionization" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |l AS (SELECT user_id, ep,
        |    lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id) prev
        |  FROM e),
        |m AS (SELECT user_id, ep,
        |    CASE WHEN prev IS NULL OR ep - prev > 14400 THEN 1 ELSE 0 END is_new
        |  FROM l),
        |s AS (SELECT user_id, ep,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ep
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) sess_n
        |  FROM m)
        |SELECT user_id, sess_n,
        |  min(ep) start_ep, max(ep) end_ep,
        |  CAST(count(*) AS BIGINT) n_events,
        |  max(ep) - min(ep) duration_sec
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q81_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |bgx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM d WHERE len(w) >= 2),
        |bg AS (SELECT doc_id, w[g] w1, w[g+1] w2 FROM bgx),
        |db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) n FROM bg GROUP BY 1,2,3),
        |pair AS (SELECT w1, w2, CAST(sum(n) AS BIGINT) c2 FROM db GROUP BY 1,2),
        |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) c1 FROM pair GROUP BY 1),
        |m AS (SELECT p.w1, p.w2, c2, c1 FROM pair p JOIN pre USING (w1)),
        |t AS (SELECT doc_id, n,
        |        CAST(ln(CAST(c2 AS DOUBLE)) - ln(CAST(c1 AS DOUBLE))
        |             AS DECIMAL(18,12)) * n term
        |      FROM db JOIN m USING (w1, w2))
        |SELECT doc_id, CAST(sum(n) AS BIGINT) n_bigrams,
        |  round(CAST(sum(term) AS DOUBLE) / sum(n) * 10000)/10000 avg_logprob
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_pipeline_manifest" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |hx AS (SELECT doc_id, lang, source, t, md5(t) hv FROM d),
        |k AS (SELECT hv, min(doc_id) keeper FROM hx GROUP BY 1),
        |dup AS (SELECT doc_id, lang, source, t, doc_id <> keeper is_dup
        |        FROM hx JOIN k USING (hv)),
        |sw AS (SELECT doc_id, t, string_split(t, ' ') w FROM d),
        |base AS (SELECT doc_id,
        |    CAST(length(t) AS BIGINT) n_chars,
        |    CAST(len(w) AS BIGINT) n_words,
        |    CAST(len(list_distinct(w)) AS BIGINT) uniq_words,
        |    CAST(length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) AS BIGINT) n_punct
        |  FROM sw),
        |bgx AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) g
        |        FROM sw WHERE len(w) >= 2),
        |bc AS (SELECT doc_id, w[g]||' '||w[g+1] bg, count(*) c FROM bgx GROUP BY 1,2),
        |top AS (SELECT doc_id, CAST(max(c) AS BIGINT) top_bigram_n FROM bc GROUP BY 1),
        |g AS (SELECT b.doc_id,
        |    ((n_words BETWEEN 10 AND 1000)
        |      AND (n_words - uniq_words)*10 <= n_words*7
        |      AND coalesce(top_bigram_n, 0)*100 <= n_words*9
        |      AND n_punct*100 <= n_chars*10) p_punct
        |  FROM base b LEFT JOIN top ON b.doc_id = top.doc_id),
        |u AS (SELECT doc_id,
        |  CAST((instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(md5('samp:'||CAST(doc_id AS VARCHAR)), 6, 1)) - 1) AS BIGINT) u24
        |  FROM d)
        |SELECT dup.doc_id, dup.lang, dup.source,
        |  CASE WHEN is_dup THEN 'dup'
        |       WHEN NOT p_punct THEN 'gate'
        |       WHEN u24 >= (CASE WHEN dup.lang = 'en' THEN 0.4 ELSE 1.0 END) * 16777216.0
        |         THEN 'sample'
        |       ELSE 'kept' END stage
        |FROM dup JOIN g ON dup.doc_id = g.doc_id JOIN u ON dup.doc_id = u.doc_id
        |ORDER BY 1""".stripMargin,
    "q82_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf FROM tx GROUP BY 1,2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id probe_id, tok FROM tf WHERE doc_id < 5),
        |scored AS (SELECT p.probe_id, t.doc_id,
        |    sum(CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      AS DECIMAL(18,10))) s
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  WHERE t.doc_id <> p.probe_id
        |  GROUP BY 1,2),
        |ranked AS (SELECT probe_id, doc_id, s,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY s DESC, doc_id) rnk
        |  FROM scored)
        |SELECT probe_id, CAST(rnk AS BIGINT) rnk, doc_id,
        |  round(CAST(s AS DOUBLE) * 10000)/10000 bm25
        |FROM ranked WHERE rnk <= 5 ORDER BY 1,2""".stripMargin,
    "q83_leakage_safe_split" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz0 AS (SELECT doc_id, band, sig,
        |                count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id
        |          WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |           FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS (SELECT doc_a u, doc_b v FROM allp
        |          UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |asg AS (SELECT d0.doc_id, coalesce(cc.comp, d0.doc_id) rep
        |        FROM documents d0 LEFT JOIN cc ON d0.doc_id = cc.node),
        |u AS (SELECT doc_id, rep,
        |  CAST((instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(md5('split:'||CAST(rep AS VARCHAR)), 6, 1)) - 1) AS BIGINT) u24
        |  FROM asg),
        |sp AS (SELECT doc_id, rep,
        |    CASE WHEN u24 < 0.8 * 16777216.0 THEN 'train'
        |         WHEN u24 < 0.9 * 16777216.0 THEN 'val'
        |         ELSE 'test' END split
        |  FROM u)
        |SELECT split, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(count(DISTINCT rep) AS BIGINT) n_clusters
        |FROM sp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q84_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |p AS (SELECT event_id purchase_id, user_id, ep p_ep FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT event_id click_id, user_id, ep c_ep FROM e
        |      WHERE event_type = 'click'),
        |j AS (SELECT p.purchase_id, p.user_id, p.p_ep, c.click_id, c.c_ep,
        |        row_number() OVER (PARTITION BY p.purchase_id
        |          ORDER BY c.c_ep DESC, c.click_id DESC) rn
        |      FROM p JOIN c ON p.user_id = c.user_id
        |      WHERE c.c_ep <= p.p_ep AND p.p_ep - c.c_ep <= 3600)
        |SELECT purchase_id, user_id, click_id, p_ep - c_ep gap_sec
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    "q85_embedding_stats" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |x AS (SELECT CAST(i - 1 AS BIGINT) dim, CAST(embedding[i] AS DOUBLE) x FROM ix),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) n,
        |        sum(CAST(x AS DECIMAL(18,12))) s,
        |        sum(CAST(x*x AS DECIMAL(18,16))) sq
        |      FROM x GROUP BY 1),
        |t AS (SELECT dim, n, s, sq, sum(sq) OVER () total_sq FROM a)
        |SELECT dim, n,
        |  round(CAST(s AS DOUBLE) / n * 1000000)/1000000 mean,
        |  round((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n) / n
        |        * 1000000)/1000000 variance,
        |  round(CAST(sq AS DOUBLE) / CAST(total_sq AS DOUBLE) * 1000000)/1000000 energy_share
        |FROM t ORDER BY dim""".stripMargin,
    "q86_novelty_census" ->
      """WITH d AS (SELECT source, CAST(substr(source, 4) AS INT) src_num,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT source, src_num, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |grams AS (SELECT DISTINCT source, src_num, w[g]||' '||w[g+1]||' '||w[g+2] gr FROM ix),
        |fs AS (SELECT gr, min(src_num) first_src FROM grams GROUP BY 1)
        |SELECT source, CAST(count(*) AS BIGINT) n_grams,
        |  CAST(sum(CASE WHEN src_num = first_src THEN 1 ELSE 0 END) AS BIGINT) n_novel,
        |  round(CAST(sum(CASE WHEN src_num = first_src THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*) * 10000)/10000 novelty
        |FROM grams JOIN fs USING (gr)
        |GROUP BY source, src_num ORDER BY source""".stripMargin,
    "q87_drift_psi" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |sp AS (SELECT CAST(floor(min(e)+(max(e)-min(e))*0.75) AS BIGINT) split_e FROM ev),
        |st AS (SELECT event_type, min(value) vmin,
        |              (max(value)-min(value))/20 width FROM ev GROUP BY 1),
        |binned AS (
        | SELECT ev.event_type, CASE WHEN ev.e < sp.split_e THEN 'u' ELSE 'v' END phase,
        |        CASE WHEN st.width = 0 THEN 0
        |             ELSE least(CAST(floor((ev.value - st.vmin)/st.width) AS BIGINT), 19) END bin
        | FROM ev JOIN st ON ev.event_type = st.event_type CROSS JOIN sp),
        |counts AS (SELECT event_type, phase, bin, count(*) c FROM binned GROUP BY 1,2,3),
        |totals AS (SELECT event_type, phase, CAST(sum(c) AS BIGINT) total FROM counts GROUP BY 1,2),
        |grid AS (SELECT st.event_type, gs.g AS bin, ph.phase
        |         FROM st, generate_series(0,19) gs(g),
        |              (SELECT 'u' AS phase UNION ALL SELECT 'v') ph),
        |shares AS (SELECT g.event_type, g.phase, g.bin,
        |             (coalesce(c.c, 0) + 0.5) / (coalesce(t.total, 0) + 10.0) p
        |           FROM grid g
        |           LEFT JOIN counts c ON g.event_type=c.event_type AND g.phase=c.phase AND g.bin=c.bin
        |           LEFT JOIN totals t ON g.event_type=t.event_type AND g.phase=t.phase),
        |pairs AS (SELECT event_type, bin,
        |            min(CASE WHEN phase='u' THEN p END) pu,
        |            min(CASE WHEN phase='v' THEN p END) pv
        |          FROM shares GROUP BY 1,2),
        |psi AS (SELECT event_type,
        |          round(CAST(sum(CAST((pu-pv)*ln(pu/pv) AS DECIMAL(28,20))) AS DOUBLE)
        |                *1000000)/1000000 psi
        |        FROM pairs GROUP BY 1)
        |SELECT event_type, psi,
        |  CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate'
        |       ELSE 'high' END drift,
        |  CAST(row_number() OVER (ORDER BY psi DESC, event_type) AS INT) rnk
        |FROM psi ORDER BY rnk""".stripMargin,
    "q88_pii_scrub" ->
      """WITH seeded AS (
        | SELECT doc_id, source,
        |   text || ' contact user' || doc_id || '@example.com tel 555-' ||
        |   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |   ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS text
        | FROM documents),
        |scrubbed AS (
        | SELECT doc_id, source,
        |   len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) n_emails,
        |   len(regexp_extract_all(text, '\b555-[0-9]{4}\b')) n_phones,
        |   len(regexp_extract_all(text, '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) n_ips,
        |   regexp_replace(regexp_replace(regexp_replace(text,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
        |     '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') red,
        |   text
        | FROM seeded)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(n_emails) AS BIGINT) emails, CAST(sum(n_phones) AS BIGINT) phones,
        |  CAST(sum(n_ips) AS BIGINT) ips,
        |  CAST(sum(len(text) - len(red)) AS BIGINT) chars_removed,
        |  CAST(sum(CASE WHEN len(regexp_extract_all(red, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |         + len(regexp_extract_all(red, '\b555-[0-9]{4}\b'))
        |         + len(regexp_extract_all(red, '\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) = 0
        |       THEN 0 ELSE 1 END) AS BIGINT) n_residual
        |FROM scrubbed GROUP BY source ORDER BY source""".stripMargin,
    "q89_quantile_accuracy" ->
      """SELECT l_returnflag AS grp,
        |  round(quantile_cont(l_extendedprice, 0.50)*10000)/10000 AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95)*10000)/10000 AS p95,
        |  round(quantile_cont(l_extendedprice, 0.99)*10000)/10000 AS p99,
        |  TRUE AS ok50, TRUE AS ok95, TRUE AS ok99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q90_chunk_plan" ->
      """WITH d AS (SELECT doc_id, text, length(text) len FROM documents
        |           WHERE doc_id % 50 = 0),
        |n AS (SELECT doc_id, text, len,
        |        CASE WHEN len <= 200 THEN 1 ELSE (len - 200 + 149) // 150 + 1 END n_chunks
        |      FROM d),
        |x AS (SELECT doc_id, text, len, unnest(generate_series(0, n_chunks - 1)) i FROM n)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(i * 150 + 1 AS BIGINT) AS c_start,
        |  CAST(least(200, len - i * 150) AS BIGINT) AS c_len,
        |  md5(substr(text, CAST(i * 150 + 1 AS INT), CAST(least(200, len - i * 150) AS INT))) AS chunk_md5
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin,
    "q91_cluster_balance" ->
      """WITH c AS (SELECT label, CAST(count(*) AS BIGINT) n FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) total, CAST(count(*) AS BIGINT) k FROM c),
        |e AS (SELECT sum(CAST((CAST(n AS DOUBLE) / total) * (-1.0) *
        |        ln(CAST(n AS DOUBLE) / total) AS DECIMAL(18,12))) h FROM c, t)
        |SELECT c.label, c.n,
        |  round(CAST(c.n AS DOUBLE) / t.total * 10000) / 10000 AS share,
        |  CAST(row_number() OVER (ORDER BY c.n DESC, c.label) AS INT) AS size_rank,
        |  round(CAST(e.h AS DOUBLE) * 10000) / 10000 AS entropy,
        |  round(CAST(e.h AS DOUBLE) / ln(CAST(t.k AS DOUBLE)) * 10000) / 10000 AS evenness
        |FROM c, t, e ORDER BY label""".stripMargin,
    "q92_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) tok FROM documents),
        |dt AS (SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) n FROM tk GROUP BY 1,2,3),
        |raw AS (SELECT tok, CAST(sum(n) AS BIGINT) c_raw FROM dt GROUP BY 1),
        |tgt AS (SELECT tok, CAST(sum(n) AS BIGINT) c_tgt FROM dt
        |        WHERE source = 'src0' GROUP BY 1),
        |sc AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw) v,
        |              (SELECT CAST(sum(c_raw) AS BIGINT) FROM raw) n_raw,
        |              (SELECT CAST(sum(n) AS BIGINT) FROM dt WHERE source = 'src0') n_tgt),
        |m AS (SELECT r.tok,
        |        CAST(ln(CAST(coalesce(t.c_tgt, 0) + 1 AS DOUBLE) / (sc.n_tgt + sc.v)) -
        |             ln(CAST(r.c_raw + 1 AS DOUBLE) / (sc.n_raw + sc.v))
        |             AS DECIMAL(18,12)) lr
        |      FROM raw r LEFT JOIN tgt t ON r.tok = t.tok, sc)
        |SELECT dt.doc_id, dt.source, CAST(sum(dt.n) AS BIGINT) n_tok,
        |  round(CAST(sum(m.lr * dt.n) AS DOUBLE) / sum(dt.n) * 10000) / 10000 + 0.0 AS logratio
        |FROM dt JOIN m ON dt.tok = m.tok
        |GROUP BY 1,2 ORDER BY doc_id""".stripMargin,
    "q93_cluster_keep_best" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz0 AS MATERIALIZED (SELECT doc_id, band, sig,
        |                count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id
        |          WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |           FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS MATERIALIZED (SELECT doc_a u, doc_b v FROM allp
        |          UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |mem AS (SELECT dd.doc_id, dd.n_chars, coalesce(cc.comp, dd.doc_id) cluster_id
        |        FROM documents dd LEFT JOIN cc ON dd.doc_id = cc.node),
        |kp AS (SELECT cluster_id, CAST(count(*) AS BIGINT) cluster_size,
        |              max(n_chars) mx FROM mem GROUP BY 1),
        |k2 AS (SELECT m.cluster_id, min(m.doc_id) keeper_id
        |       FROM mem m JOIN kp ON m.cluster_id = kp.cluster_id AND m.n_chars = kp.mx
        |       GROUP BY 1)
        |SELECT m.doc_id, m.cluster_id, kp.cluster_size, m.n_chars,
        |  m.doc_id = k2.keeper_id AS is_kept
        |FROM mem m JOIN kp USING (cluster_id) JOIN k2 USING (cluster_id)
        |ORDER BY m.doc_id""".stripMargin,
    "q94_scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |s AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                       OR lag(event_type) OVER w <> event_type
        |                     THEN 1 ELSE 0 END chg
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
        |g AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY e, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) seg
        |      FROM s),
        |iv AS (SELECT user_id, seg, event_type, min(e) valid_from,
        |              CAST(count(*) AS BIGINT) n_events
        |       FROM g GROUP BY 1,2,3)
        |SELECT user_id, seg AS seg_n, event_type, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to, n_events,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM iv WINDOW w2 AS (PARTITION BY user_id ORDER BY seg)
        |ORDER BY user_id, seg""".stripMargin,
    "q95_length_histogram" ->
      """WITH d AS (SELECT lang, len(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) n_tok
        |           FROM documents),
        |b AS (SELECT lang, CAST(length(bin(n_tok)) - 1 AS INT) bucket, n_tok FROM d),
        |g AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) n_docs,
        |             CAST(sum(n_tok) AS BIGINT) bucket_tokens
        |      FROM b GROUP BY 1,2)
        |SELECT lang, bucket, CAST(power(2, bucket) AS BIGINT) bucket_lo,
        |  n_docs, bucket_tokens,
        |  round(CAST(sum(bucket_tokens) OVER (PARTITION BY lang ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / sum(bucket_tokens) OVER (PARTITION BY lang) * 10000) / 10000
        |    AS cum_token_share
        |FROM g ORDER BY lang, bucket""".stripMargin,
    "q96_containment" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_sh FROM sh GROUP BY 1),
        |f AS (SELECT sh, count(*) df FROM sh GROUP BY 1),
        |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN f USING (sh) WHERE df <= 1000),
        |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id <> b.doc_id),
        |ex AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) n_shared
        |       FROM cand c
        |       JOIN sh sa ON sa.doc_id = c.doc_a
        |       JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        |       GROUP BY 1,2)
        |SELECT ex.doc_a, ex.doc_b, sz.n_sh AS n_sh_a, ex.n_shared,
        |  round(CAST(ex.n_shared AS DOUBLE) / sz.n_sh * 10000) / 10000 AS containment
        |FROM ex JOIN sz ON sz.doc_id = ex.doc_a
        |WHERE CAST(ex.n_shared AS DOUBLE) / sz.n_sh >= 0.8
        |ORDER BY ex.doc_a, ex.doc_b""".stripMargin,
    "q97_rolling_quantiles" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |r AS (SELECT user_id, event_id, CAST(row_number() OVER w AS INT) rn,
        |        quantile_cont(value, 0.5) OVER (w ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) m,
        |        quantile_cont(value, 0.9) OVER (w ROWS BETWEEN 10 PRECEDING AND CURRENT ROW) p
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id))
        |SELECT user_id, event_id, rn, round(m * 10000) / 10000 AS roll_med,
        |  round(p * 10000) / 10000 AS roll_p90
        |FROM r WHERE rn > 10 ORDER BY user_id, event_id""".stripMargin,
    "q98_sketch_rollup" ->
      """WITH fp AS (SELECT source, md5(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) h FROM documents),
        |per AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT) exact_fps,
        |               CAST(count(*) AS BIGINT) n_docs, TRUE sketch_ok
        |        FROM fp GROUP BY 1),
        |tot AS (SELECT 'TOTAL' AS source, CAST(count(DISTINCT h) AS BIGINT) exact_fps,
        |               CAST(count(*) AS BIGINT) n_docs, TRUE sketch_ok FROM fp)
        |SELECT * FROM per UNION ALL SELECT * FROM tot ORDER BY source""".stripMargin,
    "q99_basket_lift" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |s AS (SELECT *, CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 14400
        |                     THEN 1 ELSE 0 END is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ep, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess FROM s),
        |st AS (SELECT DISTINCT user_id, sess, event_type FROM g),
        |ns AS (SELECT CAST(count(*) AS BIGINT) n_sess
        |       FROM (SELECT DISTINCT user_id, sess FROM st)),
        |sing AS (SELECT event_type, CAST(count(*) AS BIGINT) c FROM st GROUP BY 1),
        |p AS (SELECT a.event_type type_a, b.event_type type_b,
        |             CAST(count(*) AS BIGINT) c_ab
        |      FROM st a JOIN st b ON a.user_id = b.user_id AND a.sess = b.sess
        |        AND a.event_type < b.event_type
        |      GROUP BY 1,2)
        |SELECT p.type_a, p.type_b, p.c_ab, sa.c c_a, sb.c c_b,
        |  round(CAST(p.c_ab AS DOUBLE) / ns.n_sess * 10000) / 10000 AS support,
        |  round(CAST(p.c_ab AS DOUBLE) * ns.n_sess / (sa.c * sb.c) * 10000) / 10000 AS lift
        |FROM p JOIN sing sa ON sa.event_type = p.type_a
        |       JOIN sing sb ON sb.event_type = p.type_b, ns
        |ORDER BY type_a, type_b""".stripMargin,
    "q100_session_paths" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |s AS (SELECT *, lag(event_type) OVER w prev_t,
        |        CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 14400
        |             THEN 1 ELSE 0 END is_new
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
        |g AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ep, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess FROM s),
        |kept AS (SELECT * FROM g WHERE is_new = 1 OR prev_t <> event_type
        |         QUALIFY row_number() OVER (PARTITION BY user_id, sess
        |           ORDER BY ep, event_id) <= 512),
        |p AS (SELECT user_id, sess,
        |        string_agg(event_type, '>' ORDER BY ep, event_id) path
        |      FROM kept GROUP BY 1,2),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) n_sessions FROM p GROUP BY 1
        |      ORDER BY n_sessions DESC, path LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS INT) rnk,
        |  path, n_sessions
        |FROM c ORDER BY rnk""".stripMargin,
    "q101_rate_spikes" ->
      """WITH hc AS (SELECT user_id,
        |    CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) hr,
        |    CAST(count(*) AS BIGINT) c
        |  FROM events GROUP BY 1,2),
        |b AS (SELECT user_id, CAST(sum(c) AS BIGINT) total,
        |        (max(hr) - min(hr)) / 3600 + 1 span_hours FROM hc GROUP BY 1),
        |z AS (SELECT hc.user_id, hc.hr, hc.c,
        |        CAST(b.total AS DOUBLE) / b.span_hours lambda,
        |        (hc.c - CAST(b.total AS DOUBLE) / b.span_hours)
        |          / sqrt(CAST(b.total AS DOUBLE) / b.span_hours) zz
        |      FROM hc JOIN b USING (user_id)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
        |        ORDER BY zz DESC, hr) AS INT) rn
        |      FROM z WHERE zz >= 3.0)
        |SELECT user_id, rn, hr AS "hour", c, round(lambda*10000)/10000 AS lambda,
        |  round(zz*10000)/10000 AS z
        |FROM r WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,
    "q102_burstiness" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |g AS (SELECT user_id, e - lag(e) OVER (PARTITION BY user_id
        |        ORDER BY e, event_id) d FROM e),
        |a AS (SELECT user_id, CAST(count(*) AS BIGINT) n_gaps,
        |        sum(CAST(d AS DECIMAL(28,0))) sd,
        |        sum(CAST(d*d AS DECIMAL(38,0))) sd2
        |      FROM g WHERE d IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  round(CAST(sd AS DOUBLE) / n_gaps * 10000)/10000 AS mean_gap,
        |  round(sqrt(CAST(sd2 AS DOUBLE) * n_gaps -
        |    CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) / CAST(sd AS DOUBLE)
        |    * 10000)/10000 AS cv
        |FROM a ORDER BY user_id""".stripMargin,
    "q103_centroid_margins" ->
      """WITH ix AS (SELECT label, unnest(generate_series(1, len(embedding))) i,
        |              embedding FROM embeddings),
        |x AS (SELECT label, CAST(i - 1 AS INT) d,
        |        CAST(embedding[i] AS DOUBLE) x FROM ix),
        |comp AS (SELECT label, d,
        |           CAST(sum(CAST(x AS DECIMAL(18,12))) AS DOUBLE) / count(*) m
        |         FROM x GROUP BY 1,2),
        |p AS (SELECT a.label label_a, b.label label_b,
        |        sum(CAST((a.m - b.m) * (a.m - b.m) AS DECIMAL(28,16))) d2
        |      FROM comp a JOIN comp b ON a.d = b.d AND a.label <> b.label
        |      GROUP BY 1,2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label_a
        |        ORDER BY d2, label_b) rn FROM p)
        |SELECT label_a AS label, label_b AS nearest_label,
        |  round(sqrt(CAST(d2 AS DOUBLE)) * 10000)/10000 AS margin
        |FROM r WHERE rn = 1 ORDER BY label""".stripMargin,
    "q104_sole_late_supplier" ->
      """WITH all_s AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |ns AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) n_suppliers
        |       FROM all_s GROUP BY 1),
        |late AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |         WHERE date_diff('day', o.o_orderdate, l.l_shipdate) > 60),
        |nl AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) n_late FROM late GROUP BY 1),
        |w AS (SELECT late.l_suppkey, CAST(count(*) AS BIGINT) numwait
        |      FROM late JOIN ns USING (l_orderkey) JOIN nl USING (l_orderkey)
        |      WHERE ns.n_suppliers >= 2 AND nl.n_late = 1
        |      GROUP BY 1 ORDER BY numwait DESC, l_suppkey LIMIT 10)
        |SELECT CAST(row_number() OVER (ORDER BY numwait DESC, l_suppkey) AS INT) rnk,
        |  l_suppkey, numwait
        |FROM w ORDER BY rnk""".stripMargin,
    "q105_point_in_time" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |s AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |                       OR lag(event_type) OVER w <> event_type
        |                     THEN 1 ELSE 0 END chg
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
        |g AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY e, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) seg FROM s),
        |iv0 AS (SELECT user_id, seg, event_type, min(e) valid_from
        |        FROM g GROUP BY 1,2,3),
        |iv AS (SELECT user_id, event_type dim_type, valid_from,
        |         lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) valid_to
        |       FROM iv0),
        |p AS (SELECT event_id, user_id, e + 1800 probe_e FROM e
        |      WHERE event_id % 97 = 0)
        |SELECT p.event_id, p.user_id, p.probe_e, iv.dim_type
        |FROM p LEFT JOIN iv ON p.user_id = iv.user_id
        |  AND p.probe_e >= iv.valid_from
        |  AND (iv.valid_to IS NULL OR p.probe_e < iv.valid_to)
        |ORDER BY p.event_id""".stripMargin,
    "q106_maint_overlap" ->
      """WITH errs AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) e
        |              FROM events WHERE event_type='error'),
        |s AS (SELECT user_id, e,
        |        CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
        |               OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800
        |             THEN 1 ELSE 0 END new_session
        |      FROM errs),
        |s2 AS (SELECT user_id, e,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
        |       FROM s),
        |r AS (SELECT user_id, min(e) range_start, max(e) range_end
        |      FROM s2 GROUP BY user_id, sess HAVING count(*) >= 2),
        |b AS (SELECT CAST(min(floor(epoch(ts))) AS BIGINT) mn,
        |             CAST(max(floor(epoch(ts))) AS BIGINT) mx FROM events),
        |w AS (SELECT d * 86400 + 2 * 3600 w_start, d * 86400 + 4 * 3600 w_end
        |      FROM (SELECT unnest(generate_series(mn // 86400, mx // 86400)) d FROM b)),
        |m AS (SELECT r.user_id, CAST(sum(greatest(0,
        |          least(r.range_end, w.w_end) - greatest(r.range_start, w.w_start)
        |        )) AS BIGINT) maint_sec
        |      FROM r JOIN w ON r.range_start < w.w_end AND w.w_start < r.range_end
        |      GROUP BY 1),
        |t AS (SELECT user_id, CAST(count(*) AS BIGINT) n_ranges,
        |        CAST(sum(range_end - range_start) AS BIGINT) anom_sec
        |      FROM r GROUP BY 1)
        |SELECT t.user_id, t.n_ranges, t.anom_sec,
        |  coalesce(m.maint_sec, 0) AS maint_sec,
        |  CASE WHEN t.anom_sec = 0 THEN 0.0
        |       ELSE round(CAST(coalesce(m.maint_sec, 0) AS DOUBLE) / t.anom_sec
        |              * 10000) / 10000 END AS maint_frac
        |FROM t LEFT JOIN m USING (user_id)
        |ORDER BY t.user_id""".stripMargin,
    "q107_promo_share" ->
      """WITH j AS (SELECT year(l_shipdate) * 100 + month(l_shipdate) ship_month,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |a AS (SELECT ship_month, sum(rev) all_rev,
        |        sum(CASE WHEN p_type = 'PROMO' THEN rev
        |                 ELSE CAST(0 AS DECIMAL(18,6)) END) promo_rev
        |      FROM j GROUP BY 1)
        |SELECT CAST(ship_month AS BIGINT) ship_month,
        |  round(CAST(promo_rev AS DOUBLE) / CAST(all_rev AS DOUBLE) * 1000000)
        |    / 1000000 AS promo_share,
        |  round(CAST(promo_rev AS DOUBLE) * 10000) / 10000 AS promo_rev,
        |  round(CAST(all_rev AS DOUBLE) * 10000) / 10000 AS all_rev
        |FROM a ORDER BY ship_month""".stripMargin,
    "q109_returns_impact" ->
      """WITH r AS (SELECT l_orderkey,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) rev
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |pc AS (SELECT o_custkey, sum(rev) lost_rev,
        |         CAST(count(*) AS BIGINT) n_items
        |       FROM r JOIN orders ON l_orderkey = o_orderkey GROUP BY 1),
        |t AS (SELECT * FROM pc ORDER BY lost_rev DESC, o_custkey LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY lost_rev DESC, o_custkey) AS INT) rnk,
        |  o_custkey AS c_custkey, c_name, n_name, n_items,
        |  round(CAST(lost_rev AS DOUBLE) * 10000) / 10000 AS lost_rev
        |FROM t JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rnk""".stripMargin,
    "q110_ewma" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |l AS (SELECT user_id, event_id, CAST(row_number() OVER w AS INT) rn,
        |        CAST(value AS DECIMAL(28,6)) * CAST(1 AS DECIMAL(12,8))
        |        + CAST(lag(value, 1) OVER w AS DECIMAL(28,6)) * CAST(0.7 AS DECIMAL(12,8))
        |        + CAST(lag(value, 2) OVER w AS DECIMAL(28,6)) * CAST(0.49 AS DECIMAL(12,8))
        |        + CAST(lag(value, 3) OVER w AS DECIMAL(28,6)) * CAST(0.343 AS DECIMAL(12,8))
        |        + CAST(lag(value, 4) OVER w AS DECIMAL(28,6)) * CAST(0.2401 AS DECIMAL(12,8))
        |        + CAST(lag(value, 5) OVER w AS DECIMAL(28,6)) * CAST(0.16807 AS DECIMAL(12,8))
        |        + CAST(lag(value, 6) OVER w AS DECIMAL(28,6)) * CAST(0.117649 AS DECIMAL(12,8))
        |        + CAST(lag(value, 7) OVER w AS DECIMAL(28,6)) * CAST(0.0823543 AS DECIMAL(12,8))
        |        + CAST(lag(value, 8) OVER w AS DECIMAL(28,6)) * CAST(0.05764801 AS DECIMAL(12,8))
        |          AS num
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id))
        |SELECT user_id, event_id, rn,
        |  round(CAST(num AS DOUBLE) / CAST(3.19882131 AS DOUBLE) * 10000) / 10000 AS ewma
        |FROM l WHERE rn > 8 ORDER BY user_id, event_id""".stripMargin,
    "q111_changepoint" ->
      """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) e,
        |             CAST(value AS DECIMAL(18,6)) v FROM events),
        |s AS (SELECT user_id, event_id, e,
        |        CAST(row_number() OVER w AS INT) rn,
        |        sum(v) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
        |        count(*) OVER (PARTITION BY user_id) n,
        |        sum(v) OVER (PARTITION BY user_id) total
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
        |c AS (SELECT *, CAST(cum AS DOUBLE) / rn mean_l,
        |        CAST(total - cum AS DOUBLE) / (n - rn) mean_r
        |      FROM s WHERE rn >= 5 AND rn <= n - 5),
        |d AS (SELECT *, abs(mean_l - mean_r) shift FROM c),
        |p AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY shift DESC, rn) pick FROM d)
        |SELECT user_id, n, rn AS split_rn, e AS split_e,
        |  round(mean_l * 10000) / 10000 AS mean_before,
        |  round(mean_r * 10000) / 10000 AS mean_after,
        |  round(shift * 10000) / 10000 AS shift
        |FROM p WHERE pick = 1 ORDER BY user_id""".stripMargin,
    "q112_idle_customers" ->
      """WITH t AS (SELECT c_mktsegment,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) avg_bal
        |  FROM customer WHERE c_acctbal > 0 GROUP BY 1),
        |b AS (SELECT DISTINCT o_custkey FROM orders)
        |SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) * 10000)
        |    / 10000 AS total_bal
        |FROM customer c JOIN t ON c.c_mktsegment = t.c_mktsegment
        |WHERE c.c_acctbal > t.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM b WHERE b.o_custkey = c.c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q113_token_entropy" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(t, ' ')) tok
        |        FROM d WHERE length(t) > 0),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) n FROM tok GROUP BY 1,2),
        |s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) n_tokens,
        |        CAST(count(*) AS BIGINT) n_unique,
        |        sum(CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(18,12)) * n) s
        |      FROM c GROUP BY 1),
        |h AS (SELECT *, ln(CAST(n_tokens AS DOUBLE)) - CAST(s AS DOUBLE) / n_tokens
        |        entropy FROM s)
        |SELECT doc_id, n_tokens, n_unique,
        |  round(entropy * 10000) / 10000 AS entropy,
        |  round(CASE WHEN n_unique = 1 THEN 0.0
        |        ELSE entropy / ln(CAST(n_unique AS DOUBLE)) END * 10000) / 10000
        |    AS evenness
        |FROM h ORDER BY doc_id""".stripMargin,
    "q114_order_backlog" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) sd
        |  FROM orders),
        |c AS (SELECT l_orderkey,
        |        CAST(max(date_diff('day', DATE '1970-01-01', l_shipdate)) AS BIGINT) ed
        |      FROM lineitem GROUP BY 1),
        |sp AS (SELECT sd, ed FROM o JOIN c ON o_orderkey = l_orderkey),
        |d AS (SELECT sd day_num, CAST(1 AS BIGINT) delta FROM sp
        |      UNION ALL SELECT ed + 1, CAST(-1 AS BIGINT) FROM sp),
        |g AS (SELECT day_num, CAST(sum(delta) AS BIGINT) net,
        |        CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) n_opened,
        |        CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) n_closed
        |      FROM d GROUP BY 1)
        |SELECT day_num, n_opened, n_closed, net,
        |  CAST(sum(net) OVER (ORDER BY day_num
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) open_after
        |FROM g ORDER BY day_num""".stripMargin,
    "q115_source_divergence" ->
      """WITH d AS (SELECT source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |tok AS (SELECT source, unnest(string_split(t, ' ')) tok
        |        FROM d WHERE length(t) > 0),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) n FROM tok GROUP BY 1,2),
        |tt AS (SELECT source, CAST(sum(n) AS BIGINT) t FROM c GROUP BY 1),
        |w AS (SELECT c.source, c.tok, c.n, tt.t FROM c JOIN tt USING (source)),
        |p AS (SELECT a.source src_a, b.source src_b, a.n na, b.n nb,
        |        a.t ta, b.t tb,
        |        CAST(a.n AS DOUBLE) / a.t pa, CAST(b.n AS DOUBLE) / b.t pb
        |      FROM w a JOIN w b ON a.tok = b.tok AND a.source < b.source),
        |t2 AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) n_common,
        |         CAST(sum(na) AS BIGINT) ca, CAST(sum(nb) AS BIGINT) cb,
        |         max(ta) ta, max(tb) tb,
        |         sum(CAST(pa * ln(2.0 * pa / (pa + pb))
        |               + pb * ln(2.0 * pb / (pa + pb)) AS DECIMAL(18,12))) s
        |       FROM p GROUP BY 1,2)
        |SELECT src_a, src_b, n_common,
        |  round((0.5 * CAST(s AS DOUBLE) + 0.5 * 0.6931471805599453 *
        |    (2.0 - CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)) * 10000)
        |    / 10000 AS jsd
        |FROM t2 ORDER BY src_a, src_b""".stripMargin,
    "q116_seasonal_outliers" ->
      """WITH e0 AS (SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |ev AS (SELECT *, CAST((e // 86400 + 4) % 7 AS INT) dow FROM e0),
        |bd AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) dn,
        |         sum(CAST(value AS DECIMAL(18,6))) ds FROM ev GROUP BY 1,2),
        |adj AS (SELECT ev.event_type, ev.event_id, ev.dow, ev.value,
        |          CAST(ev.value / (CAST(bd.ds AS DOUBLE) / bd.dn)
        |            AS DECIMAL(18,6)) adj
        |        FROM ev JOIN bd ON ev.event_type = bd.event_type
        |          AND ev.dow = bd.dow),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |         sum(adj) sa,
        |         sum(CAST(adj AS DECIMAL(28,6)) * adj) sa2
        |       FROM adj GROUP BY 1),
        |st2 AS (SELECT event_type, CAST(sa AS DOUBLE) / n mu,
        |          sqrt(CAST(sa2 AS DOUBLE) / n
        |            - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n)) sigma
        |        FROM st),
        |r AS (SELECT adj.event_type, adj.event_id, adj.dow, adj.value,
        |        adj.adj, st2.mu, st2.sigma,
        |        CAST(row_number() OVER (PARTITION BY adj.event_type
        |          ORDER BY abs((CAST(adj.adj AS DOUBLE) - st2.mu) / st2.sigma)
        |            DESC, adj.event_id) AS INT) rn
        |      FROM adj JOIN st2 ON adj.event_type = st2.event_type)
        |SELECT event_type, rn, event_id, dow,
        |  round(value * 10000) / 10000 AS value,
        |  round(CAST(adj AS DOUBLE) * 10000) / 10000 AS adj,
        |  round((CAST(adj AS DOUBLE) - mu) / sigma * 10000) / 10000 AS z
        |FROM r WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin,
    "q117_supplier_hhi" ->
      """WITH li AS (SELECT l_suppkey,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) rev
        |  FROM lineitem),
        |ps AS (SELECT n_name, s_suppkey, sum(rev) srev
        |       FROM li JOIN supplier ON l_suppkey = s_suppkey
        |         JOIN nation ON s_nationkey = n_nationkey GROUP BY 1,2),
        |t AS (SELECT n_name, sum(srev) trev FROM ps GROUP BY 1),
        |sh AS (SELECT ps.n_name,
        |         CAST(ps.srev AS DOUBLE) / CAST(t.trev AS DOUBLE) shr, t.trev
        |       FROM ps JOIN t ON ps.n_name = t.n_name)
        |SELECT n_name, CAST(count(*) AS BIGINT) n_suppliers,
        |  round(max(shr) * 10000) / 10000 AS top_share,
        |  round(CAST(sum(CAST(shr * shr AS DECIMAL(18,12))) AS DOUBLE)
        |    * 1000000) / 1000000 AS hhi,
        |  round(CAST(max(trev) AS DOUBLE) * 10000) / 10000 AS total_rev
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,
    "q118_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 day_num FROM events),
        |w AS (SELECT user_id, day_num, day_num // 7 wk FROM ud)
        |SELECT wk, CAST(count(*) AS BIGINT) n_user_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) wau,
        |  CAST(count(DISTINCT day_num) AS BIGINT) days_active,
        |  round(CAST(count(*) AS DOUBLE) / count(DISTINCT day_num) * 10000)
        |    / 10000 AS avg_dau,
        |  round(CAST(count(*) AS DOUBLE) / count(DISTINCT day_num)
        |    / count(DISTINCT user_id) * 10000) / 10000 AS stickiness
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    "q119_abc_classes" ->
      """WITH pp AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) prev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(prev) trev FROM pp),
        |c AS (SELECT l_partkey, prev, trev,
        |        CAST(sum(prev) OVER (ORDER BY prev DESC, l_partkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |          / CAST(trev AS DOUBLE) cum_share
        |      FROM pp CROSS JOIN t),
        |k AS (SELECT *, CASE WHEN cum_share <= 0.8 THEN 'A'
        |                     WHEN cum_share <= 0.95 THEN 'B'
        |                     ELSE 'C' END cls FROM c)
        |SELECT cls, CAST(count(*) AS BIGINT) n_parts,
        |  round(CAST(sum(prev) AS DOUBLE) * 10000) / 10000 AS class_rev,
        |  round(CAST(sum(prev) AS DOUBLE) / CAST(max(trev) AS DOUBLE)
        |    * 1000000) / 1000000 AS rev_share
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q120_priority_mix" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
        |    AS BIGINT) m, o_orderpriority prio FROM orders),
        |c AS (SELECT m, prio, CAST(count(*) AS BIGINT) n FROM o GROUP BY 1,2),
        |t AS (SELECT m, CAST(sum(n) AS BIGINT) tot FROM c GROUP BY 1),
        |s AS (SELECT c.m, c.prio, c.n, CAST(c.n AS DOUBLE) / t.tot shr
        |      FROM c JOIN t USING (m)),
        |l AS (SELECT *, lag(shr) OVER (PARTITION BY prio ORDER BY m) prev FROM s)
        |SELECT m, prio, n, round(shr * 1000000) / 1000000 AS share,
        |  round((shr - prev) * 1000000) / 1000000 AS mom_shift
        |FROM l ORDER BY m, prio""".stripMargin,
    "q121_revenue_gini" ->
      """WITH pc AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) rev FROM orders GROUP BY 1),
        |r AS (SELECT rev, CAST(row_number() OVER (ORDER BY rev, o_custkey)
        |        AS INT) i FROM pc),
        |a AS (SELECT CAST(count(*) AS BIGINT) n_customers, sum(rev) s0,
        |        sum(rev * i) s1 FROM r)
        |SELECT n_customers,
        |  round(CAST(s0 AS DOUBLE) * 10000) / 10000 AS total_rev,
        |  round((2.0 * CAST(s1 AS DOUBLE) / (n_customers * CAST(s0 AS DOUBLE))
        |    - CAST(n_customers + 1 AS DOUBLE) / n_customers) * 1000000)
        |    / 1000000 AS gini
        |FROM a""".stripMargin,
    "q122_norm_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label,
        |         unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |nm AS (SELECT vec_id, label,
        |         CAST(sqrt(CAST(sum(CAST(v * v AS DECIMAL(18,16))) AS DOUBLE))
        |           AS DECIMAL(18,12)) nrm
        |       FROM xx GROUP BY 1,2),
        |mn AS (SELECT label, min(nrm) mn FROM nm GROUP BY 1),
        |dv AS (SELECT nm.label, nm.vec_id, nm.nrm,
        |         CAST(nm.nrm - mn.mn AS DECIMAL(18,12)) d
        |       FROM nm JOIN mn USING (label)),
        |st AS (SELECT label, CAST(count(*) AS BIGINT) n, sum(d) sd,
        |         sum(d * d) sd2 FROM dv GROUP BY 1),
        |st2 AS (SELECT label, CAST(sd AS DOUBLE) / n mu_d,
        |          sqrt(CAST(sd2 AS DOUBLE) / n
        |            - (CAST(sd AS DOUBLE) / n) * (CAST(sd AS DOUBLE) / n)) sigma
        |        FROM st),
        |r AS (SELECT dv.label, dv.vec_id, dv.nrm,
        |        CASE WHEN st2.sigma = 0 THEN 0.0
        |             ELSE (CAST(dv.d AS DOUBLE) - st2.mu_d) / st2.sigma END z
        |      FROM dv JOIN st2 USING (label)),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY label
        |         ORDER BY abs(z) DESC, vec_id) AS INT) rn FROM r)
        |SELECT label, rn, vec_id,
        |  round(CAST(nrm AS DOUBLE) * 10000) / 10000 AS norm,
        |  round(z * 10000) / 10000 AS z
        |FROM rk WHERE rn <= 3 ORDER BY label, rn""".stripMargin,
    "q123_length_psi" ->
      """WITH sized AS (SELECT source,
        |    CAST(length(bin(n_chars)) - 1 AS INT) bucket FROM documents),
        |c AS (SELECT source, bucket, CAST(count(*) AS BIGINT) c
        |      FROM sized GROUP BY 1,2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) t FROM c GROUP BY 1),
        |bt AS (SELECT bucket, CAST(sum(c) AS BIGINT) bc FROM c GROUP BY 1),
        |nb AS (SELECT CAST(count(DISTINCT bucket) AS BIGINT) nb FROM c),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) total FROM c),
        |grid AS (SELECT s.source, b.bucket
        |         FROM (SELECT DISTINCT source FROM c) s
        |         CROSS JOIN (SELECT DISTINCT bucket FROM c) b),
        |sh AS (SELECT g.source, g.bucket, coalesce(c.c, 0) cc, st.t, bt.bc,
        |         nb.nb, tot.total
        |       FROM grid g LEFT JOIN c ON g.source = c.source
        |           AND g.bucket = c.bucket
        |         JOIN st ON g.source = st.source
        |         JOIN bt ON g.bucket = bt.bucket
        |         CROSS JOIN nb CROSS JOIN tot),
        |pq AS (SELECT source, t,
        |         (CAST(cc AS DOUBLE) + 0.5) / (CAST(t AS DOUBLE) + nb / 2.0) p,
        |         (CAST(bc - cc AS DOUBLE) + 0.5)
        |           / (CAST(total - t AS DOUBLE) + nb / 2.0) q
        |       FROM sh),
        |ps AS (SELECT source, max(t) n_docs,
        |         round(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(28,20)))
        |           AS DOUBLE) * 1000000) / 1000000 psi
        |       FROM pq GROUP BY 1)
        |SELECT source, n_docs, psi,
        |  CASE WHEN psi < 0.1 THEN 'ok' WHEN psi < 0.25 THEN 'watch'
        |       ELSE 'drift' END AS band
        |FROM ps ORDER BY source""".stripMargin,
    "q124_merged_incidents" ->
      """WITH errs AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) e
        |              FROM events WHERE event_type='error'),
        |s AS (SELECT user_id, e,
        |        CASE WHEN lag(e) OVER (PARTITION BY user_id ORDER BY e) IS NULL
        |               OR e - lag(e) OVER (PARTITION BY user_id ORDER BY e) > 1800
        |             THEN 1 ELSE 0 END new_session
        |      FROM errs),
        |s2 AS (SELECT user_id, e,
        |         sum(new_session) OVER (PARTITION BY user_id ORDER BY e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess
        |       FROM s),
        |r AS (SELECT user_id, min(e) - 1200 s, max(e) + 1200 e2
        |      FROM s2 GROUP BY user_id, sess HAVING count(*) >= 2),
        |p AS (SELECT user_id, s, e2,
        |        max(e2) OVER (PARTITION BY user_id ORDER BY s, e2
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pm
        |      FROM r),
        |i AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END ni
        |      FROM p),
        |i2 AS (SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e2
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) island FROM i),
        |g AS (SELECT user_id, island, CAST(count(*) AS BIGINT) nr,
        |        min(s) ms, max(e2) me FROM i2 GROUP BY 1,2)
        |SELECT user_id, CAST(sum(nr) AS BIGINT) n_raw,
        |  CAST(count(*) AS BIGINT) n_merged,
        |  CAST(sum(me - ms) AS BIGINT) covered_sec,
        |  CAST(max(me - ms) AS BIGINT) longest_sec
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q125_welch_weekend" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |g AS (SELECT event_type, value,
        |        ((e // 86400 + 4) % 7) IN (0, 6) we FROM ev),
        |m AS (SELECT event_type,
        |        CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) n_wd,
        |        CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) n_we,
        |        sum(CASE WHEN NOT we THEN CAST(value AS DECIMAL(18,6)) END) s_wd,
        |        sum(CASE WHEN we THEN CAST(value AS DECIMAL(18,6)) END) s_we,
        |        sum(CASE WHEN NOT we
        |              THEN CAST(value * value AS DECIMAL(28,6)) END) q_wd,
        |        sum(CASE WHEN we
        |              THEN CAST(value * value AS DECIMAL(28,6)) END) q_we
        |      FROM g GROUP BY 1),
        |d AS (SELECT event_type, n_wd, n_we,
        |        CAST(s_wd AS DOUBLE) / n_wd m_wd,
        |        CAST(s_we AS DOUBLE) / n_we m_we,
        |        (CAST(q_wd AS DOUBLE) - n_wd * (CAST(s_wd AS DOUBLE) / n_wd)
        |          * (CAST(s_wd AS DOUBLE) / n_wd)) / (n_wd - 1) v_wd,
        |        (CAST(q_we AS DOUBLE) - n_we * (CAST(s_we AS DOUBLE) / n_we)
        |          * (CAST(s_we AS DOUBLE) / n_we)) / (n_we - 1) v_we
        |      FROM m)
        |SELECT event_type, n_wd, n_we,
        |  round(m_wd * 10000) / 10000 AS mean_wd,
        |  round(m_we * 10000) / 10000 AS mean_we,
        |  round((m_wd - m_we) / sqrt(v_wd / n_wd + v_we / n_we) * 10000)
        |    / 10000 AS t_stat
        |FROM d ORDER BY event_type""".stripMargin,
    "q126_session_durations" ->
      """WITH ev AS (SELECT user_id, event_id,
        |              CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |s AS (SELECT user_id, event_id, e,
        |        CASE WHEN lag(e) OVER w IS NULL OR e - lag(e) OVER w > 1800
        |             THEN 1 ELSE 0 END brk
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)),
        |s2 AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY e, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) sess FROM s),
        |d AS (SELECT user_id, sess, max(e) - min(e) dur FROM s2 GROUP BY 1,2),
        |h AS (SELECT CAST(length(bin(dur + 1)) - 1 AS INT) bucket,
        |        CAST(count(*) AS BIGINT) n_sessions,
        |        CAST(sum(dur) AS BIGINT) dur_sum
        |      FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) total FROM h)
        |SELECT bucket, n_sessions,
        |  round(CAST(dur_sum AS DOUBLE) / n_sessions * 10000) / 10000 AS mean_dur,
        |  round(CAST(n_sessions AS DOUBLE) / total * 1000000) / 1000000 AS share
        |FROM h CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q127_linear_trend" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |t0 AS (SELECT event_type, min(e) t0 FROM ev GROUP BY 1),
        |j AS (SELECT ev.event_type, CAST(e - t0 AS DOUBLE) td, value
        |      FROM ev JOIN t0 USING (event_type)),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(td AS DECIMAL(38,6))) AS DOUBLE) st,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) sv,
        |        CAST(sum(CAST(td * value AS DECIMAL(38,10))) AS DOUBLE) stv,
        |        CAST(sum(CAST(td * td AS DECIMAL(38,6))) AS DOUBLE) stt,
        |        CAST(sum(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) svv
        |      FROM j GROUP BY 1),
        |d AS (SELECT event_type, n, st, sv,
        |        stt - st * st / n sxx, svv - sv * sv / n syy,
        |        stv - st * sv / n sxy FROM m),
        |s AS (SELECT *, CASE WHEN sxx = 0 THEN 0 ELSE sxy / sxx END slope
        |      FROM d)
        |SELECT event_type, n,
        |  round(slope * 86400 * 10000) / 10000 AS slope_day,
        |  round((sv / n - slope * st / n) * 10000) / 10000 AS intercept,
        |  round((CASE WHEN syy = 0 THEN 0 ELSE slope * sxy / syy END)
        |    * 10000) / 10000 AS r2
        |FROM s ORDER BY event_type""".stripMargin,
    "q128_ks_drift" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e)) * 0.75)
        |                AS BIGINT) split_e FROM ev),
        |ph AS (SELECT event_type, value,
        |         CASE WHEN e < split_e THEN 1 ELSE 0 END tr
        |       FROM ev CROSS JOIN sp),
        |c AS (SELECT event_type, value, CAST(sum(tr) AS BIGINT) ca,
        |        CAST(sum(1 - tr) AS BIGINT) cb FROM ph GROUP BY 1, 2),
        |cum AS (SELECT event_type,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumb,
        |    sum(ca) OVER (PARTITION BY event_type) na,
        |    sum(cb) OVER (PARTITION BY event_type) nb
        |  FROM c),
        |k AS (SELECT event_type, CAST(max(na) AS BIGINT) n_train,
        |        CAST(max(nb) AS BIGINT) n_eval,
        |        max(abs(CAST(cuma AS DOUBLE) / na
        |          - CAST(cumb AS DOUBLE) / nb)) ks_raw
        |      FROM cum WHERE na > 0 AND nb > 0 GROUP BY 1),
        |t AS (SELECT *, 1.3581 * sqrt((CAST(n_train AS DOUBLE) + n_eval)
        |        / (CAST(n_train AS DOUBLE) * n_eval)) thr_raw FROM k)
        |SELECT event_type, n_train, n_eval,
        |  round(ks_raw * 10000) / 10000 AS ks,
        |  round(thr_raw * 10000) / 10000 AS threshold,
        |  ks_raw > thr_raw AS drifted
        |FROM t ORDER BY event_type""".stripMargin,
    "q129_heaps_law" ->
      """WITH tok AS (SELECT lang, doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w
        |  FROM documents),
        |pd AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) ntok
        |       FROM tok GROUP BY 1, 2),
        |fs AS (SELECT lang, w, min(doc_id) doc_id FROM tok GROUP BY 1, 2),
        |fv AS (SELECT lang, doc_id, CAST(count(*) AS BIGINT) nnew
        |       FROM fs GROUP BY 1, 2),
        |d AS (SELECT pd.lang, pd.doc_id, ntok, coalesce(nnew, 0) nnew
        |      FROM pd LEFT JOIN fv ON pd.lang = fv.lang
        |        AND pd.doc_id = fv.doc_id),
        |pts AS (SELECT lang,
        |    sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cn,
        |    sum(nnew) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cv
        |  FROM d),
        |p2 AS (SELECT lang, cn, cv, log10(CAST(cn AS DOUBLE)) x,
        |         log10(CAST(cv AS DOUBLE)) y FROM pts),
        |s AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs,
        |        CAST(max(cn) AS BIGINT) tokens, CAST(max(cv) AS BIGINT) vocab,
        |        CAST(sum(CAST(x AS DECIMAL(28,18))) AS DOUBLE) sx,
        |        CAST(sum(CAST(y AS DECIMAL(28,18))) AS DOUBLE) sy,
        |        CAST(sum(CAST(x * y AS DECIMAL(28,18))) AS DOUBLE) sxy,
        |        CAST(sum(CAST(x * x AS DECIMAL(28,18))) AS DOUBLE) sxx
        |      FROM p2 GROUP BY 1),
        |b AS (SELECT *, CASE WHEN n_docs * sxx - sx * sx = 0 THEN 0
        |        ELSE (n_docs * sxy - sx * sy) / (n_docs * sxx - sx * sx)
        |        END beta FROM s)
        |SELECT lang, n_docs, tokens, vocab,
        |  round(beta * 10000) / 10000 AS beta,
        |  round((sy - beta * sx) / n_docs * 10000) / 10000 AS log10_k
        |FROM b ORDER BY lang""".stripMargin,
    "q130_mann_whitney" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |g AS (SELECT event_type, value,
        |        ((e // 86400 + 4) % 7) IN (0, 6) we FROM ev),
        |c AS (SELECT event_type, value,
        |        CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) ca,
        |        CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) cb
        |      FROM g GROUP BY 1, 2),
        |c2 AS (SELECT *, ca + cb t FROM c),
        |r AS (SELECT event_type, ca, cb, t,
        |        coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY value
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cumb,
        |        sum(ca) OVER (PARTITION BY event_type) na,
        |        sum(cb) OVER (PARTITION BY event_type) nb
        |      FROM c2),
        |m AS (SELECT event_type, CAST(max(na) AS BIGINT) n_wd,
        |        CAST(max(nb) AS BIGINT) n_we,
        |        CAST(sum(CAST(ca * (CAST(cumb AS DOUBLE) + (t + 1) / 2.0)
        |          AS DECIMAL(38,6))) AS DOUBLE) ra,
        |        CAST(sum(CAST(t * t * t - t AS DECIMAL(38,0)))
        |          AS DOUBLE) tie_sum
        |      FROM r GROUP BY 1),
        |u AS (SELECT event_type, n_wd, n_we,
        |        CAST(n_wd AS DOUBLE) * n_we nn, n_wd + n_we big_n,
        |        ra - CAST(n_wd AS DOUBLE) * (n_wd + 1) / 2 u,
        |        tie_sum FROM m),
        |v AS (SELECT *, nn / 12 * ((big_n + 1)
        |        - tie_sum / (CAST(big_n AS DOUBLE) * (big_n - 1))) var_u
        |      FROM u)
        |SELECT event_type, n_wd, n_we,
        |  round(u * 10000) / 10000 AS u,
        |  round((u - nn / 2) / sqrt(var_u) * 10000) / 10000 AS z
        |FROM v ORDER BY event_type""".stripMargin,
    "q131_dominant_period" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |            CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |              / count(*) x
        |          FROM ev GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |         CAST(sum(CAST(x AS DECIMAL(38,16))) AS DOUBLE) / count(*) mu
        |       FROM daily GROUP BY 1),
        |ctr AS (SELECT d.event_type, dy, x - mu cx, n_days
        |        FROM daily d JOIN st USING (event_type)),
        |den AS (SELECT event_type, max(n_days) n_days,
        |          CAST(sum(CAST(cx * cx AS DECIMAL(38,16))) AS DOUBLE) ss
        |        FROM ctr GROUP BY 1),
        |lags AS (SELECT unnest(range(1, 15)) lg),
        |pr AS (SELECT a.event_type, l.lg,
        |         CAST(sum(CAST(a.cx * b.cx AS DECIMAL(38,16))) AS DOUBLE) num
        |       FROM ctr a CROSS JOIN lags l
        |       JOIN ctr b ON a.event_type = b.event_type
        |         AND b.dy = a.dy + l.lg
        |       GROUP BY 1, 2),
        |rr AS (SELECT pr.event_type, den.n_days, pr.lg, num / ss r,
        |         row_number() OVER (PARTITION BY pr.event_type
        |           ORDER BY num / ss DESC, pr.lg) rn
        |       FROM pr JOIN den USING (event_type))
        |SELECT event_type, n_days, CAST(lg AS INT) AS best_lag,
        |  round(r * 10000) / 10000 AS r_best
        |FROM rr WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q132_local_supplier_volume" ->
      """SELECT n_name AS nation, CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) * 10000) / 10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        |  AND year(o_orderdate) BETWEEN 1995 AND 1997
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q133_cross_nation_trade" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) * 10000) / 10000 AS volume
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |WHERE ns.n_name IN ('NATION_1', 'NATION_2')
        |  AND nc.n_name IN ('NATION_1', 'NATION_2')
        |  AND ns.n_name <> nc.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q134_disjunctive_revenue" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) * 10000) / 10000 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |         AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |         AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |         AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q141_winsorized" ->
      """WITH b AS (SELECT event_type,
        |        quantile_cont(value, 0.05) lo,
        |        quantile_cont(value, 0.95) hi
        |      FROM events GROUP BY 1),
        |w AS (SELECT e.event_type, value, lo, hi,
        |        greatest(least(value, hi), lo) wv
        |      FROM events e JOIN b USING (event_type)),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END)
        |          AS BIGINT) n_clip_lo,
        |        CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END)
        |          AS BIGINT) n_clip_hi,
        |        CAST(sum(CAST(wv AS DECIMAL(28,16))) AS DOUBLE) s,
        |        CAST(sum(CAST(wv * wv AS DECIMAL(38,16))) AS DOUBLE) sq
        |      FROM w GROUP BY 1)
        |SELECT event_type, n, n_clip_lo, n_clip_hi,
        |  round(s / n * 10000) / 10000 AS wins_mean,
        |  round(sqrt((sq - s * s / n) / (n - 1)) * 10000) / 10000 AS wins_sd
        |FROM m ORDER BY event_type""".stripMargin,
    "q140_quantile_drift" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e)) * 0.75)
        |                AS BIGINT) split_e FROM ev),
        |tr AS (SELECT event_type,
        |         quantile_cont(value, 0.5) p50_tr,
        |         quantile_cont(value, 0.9) p90_tr
        |       FROM ev CROSS JOIN sp WHERE e < split_e GROUP BY 1),
        |evl AS (SELECT event_type,
        |          quantile_cont(value, 0.5) p50_ev,
        |          quantile_cont(value, 0.9) p90_ev
        |        FROM ev CROSS JOIN sp WHERE e >= split_e GROUP BY 1)
        |SELECT event_type,
        |  round(p50_tr * 10000) / 10000 AS p50_train,
        |  round(p90_tr * 10000) / 10000 AS p90_train,
        |  round(p50_ev * 10000) / 10000 AS p50_eval,
        |  round(p90_ev * 10000) / 10000 AS p90_eval,
        |  round((p50_ev - p50_tr) * 10000) / 10000 AS d50,
        |  round((p90_ev - p90_tr) * 10000) / 10000 AS d90
        |FROM tr JOIN evl USING (event_type) ORDER BY event_type""".stripMargin,
    "q139_cusum" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |            CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |              / count(*) x
        |          FROM ev GROUP BY 1, 2),
        |b AS (SELECT event_type,
        |        CAST(min(dy) + floor((max(dy) - min(dy)) * 0.75) AS BIGINT) cut
        |      FROM daily GROUP BY 1),
        |wp AS (SELECT d.event_type, dy, x, cut
        |       FROM daily d JOIN b USING (event_type)),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n_train,
        |         CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) s,
        |         CAST(sum(CAST(x * x AS DECIMAL(38,16))) AS DOUBLE) sq
        |       FROM wp WHERE dy <= cut GROUP BY 1),
        |st2 AS (SELECT event_type, n_train, s / n_train mu,
        |          sqrt((sq - s * s / n_train) / (n_train - 1)) sigma
        |        FROM st),
        |c AS (SELECT wp.event_type, dy, n_train,
        |        CAST(CASE WHEN sigma = 0 THEN 0
        |          ELSE (x - mu) / sigma - 0.5 END AS DECIMAL(28,16)) term
        |      FROM wp JOIN st2 USING (event_type)),
        |c2 AS (SELECT *, sum(term) OVER (PARTITION BY event_type ORDER BY dy
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cs FROM c),
        |c3 AS (SELECT *, least(min(cs) OVER (PARTITION BY event_type
        |         ORDER BY dy ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |         ROW), 0) runmin FROM c2),
        |c4 AS (SELECT event_type, n_train, dy,
        |         CAST(cs - runmin AS DOUBLE) exc FROM c3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY exc DESC, dy) rn FROM c4)
        |SELECT event_type, n_train, dy AS peak_day,
        |  round(exc * 10000) / 10000 AS peak, exc > 5.0 AS drifted
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q138_rank_churn" ->
      """WITH cut AS (SELECT CAST(max(doc_id) * 3 // 4 AS BIGINT) cut
        |             FROM documents),
        |tok AS (SELECT lang, doc_id <= cut oldph, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) tok
        |  FROM documents CROSS JOIN cut),
        |c AS (SELECT lang, oldph, tok, CAST(count(*) AS BIGINT) freq
        |      FROM tok GROUP BY 1, 2, 3),
        |r AS (SELECT lang, oldph, tok,
        |        row_number() OVER (PARTITION BY lang, oldph
        |          ORDER BY freq DESC, tok) rnk
        |      FROM c),
        |k AS (SELECT * FROM r WHERE rnk <= 20),
        |a AS (SELECT lang, tok, rnk ra FROM k WHERE oldph),
        |b AS (SELECT lang, tok, rnk rb FROM k WHERE NOT oldph),
        |f AS (SELECT coalesce(a.lang, b.lang) lang, a.ra, b.rb
        |      FROM a FULL JOIN b ON a.lang = b.lang AND a.tok = b.tok),
        |g AS (SELECT lang,
        |        CAST(sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL
        |          THEN 1 ELSE 0 END) AS BIGINT) n_common,
        |        CAST(count(*) AS BIGINT) n_union,
        |        CAST(sum(CASE WHEN ra IS NOT NULL AND rb IS NOT NULL
        |          THEN abs(ra - rb) END) AS BIGINT) disp
        |      FROM f GROUP BY 1)
        |SELECT lang, n_common,
        |  round(CAST(n_common AS DOUBLE) / n_union * 1000000) / 1000000
        |    AS jaccard,
        |  round(CAST(disp AS DOUBLE) / n_common * 10000) / 10000 AS mean_disp
        |FROM g ORDER BY lang""".stripMargin,
    "q137_rrf_fusion" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf
        |       FROM tx GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id probe_id, tok FROM tf WHERE doc_id < 5),
        |scored AS (SELECT p.probe_id, t.doc_id,
        |    sum(CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5)
        |          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      AS DECIMAL(18,10))) s
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  WHERE t.doc_id <> p.probe_id
        |  GROUP BY 1, 2),
        |brk AS (SELECT probe_id, doc_id, rnk FROM (
        |    SELECT probe_id, doc_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY s DESC, doc_id) rnk
        |    FROM scored) WHERE rnk <= 10),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |         embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |nrm AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16)))
        |          AS DOUBLE)) nrm FROM xx GROUP BY 1),
        |dots AS (SELECT p.vec_id probe_id, cd.vec_id doc_id,
        |           CAST(sum(CAST(p.v*cd.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |         FROM xx p JOIN xx cd ON p.i = cd.i AND p.vec_id < 5
        |           AND p.vec_id <> cd.vec_id
        |         GROUP BY 1, 2),
        |crk AS (SELECT probe_id, doc_id, rnk FROM (
        |    SELECT probe_id, doc_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY dot/(np.nrm*nc.nrm) DESC, doc_id) rnk
        |    FROM dots JOIN nrm np ON probe_id = np.vec_id
        |      JOIN nrm nc ON doc_id = nc.vec_id) WHERE rnk <= 10),
        |f AS (SELECT coalesce(b.probe_id, cr.probe_id) probe_id,
        |        coalesce(b.doc_id, cr.doc_id) doc_id,
        |        b.rnk brnk, cr.rnk crnk
        |      FROM brk b FULL JOIN crk cr
        |        ON b.probe_id = cr.probe_id AND b.doc_id = cr.doc_id),
        |g AS (SELECT probe_id, doc_id,
        |        coalesce(1.0 / (60 + brnk), 0) + coalesce(1.0 / (60 + crnk), 0)
        |          rrf, brnk, crnk FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id
        |        ORDER BY rrf DESC, doc_id) rnk FROM g)
        |SELECT probe_id, CAST(rnk AS INT) rnk, doc_id,
        |  round(rrf * 1000000) / 1000000 AS rrf,
        |  CAST(coalesce(brnk, -1) AS INT) rank_bm25,
        |  CAST(coalesce(crnk, -1) AS INT) rank_cos
        |FROM r WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin,
    "q136_matryoshka_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |         embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |nf AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16)))
        |         AS DOUBLE)) nrm FROM xx GROUP BY 1),
        |df AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |         CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10
        |         AND p.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        |truth AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
        |    FROM df JOIN nf np ON probe_id = np.vec_id
        |      JOIN nf nc ON neighbor_id = nc.vec_id) WHERE rnk <= 5),
        |dims AS (SELECT unnest([8, 16, 32, 64]) dd),
        |nt AS (SELECT dd, vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16)))
        |         AS DOUBLE)) nrm
        |       FROM xx CROSS JOIN dims WHERE i <= dd GROUP BY 1, 2),
        |dt AS (SELECT dd, p.vec_id probe_id, c.vec_id neighbor_id,
        |         CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM dims, xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10
        |         AND p.vec_id <> c.vec_id
        |       WHERE p.i <= dd
        |       GROUP BY 1, 2, 3),
        |rt AS (SELECT dd, probe_id, neighbor_id FROM (
        |    SELECT dt.dd, probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY dt.dd, probe_id
        |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
        |    FROM dt JOIN nt np ON dt.dd = np.dd AND probe_id = np.vec_id
        |      JOIN nt nc ON dt.dd = nc.dd AND neighbor_id = nc.vec_id)
        |  WHERE rnk <= 5),
        |h AS (SELECT dd, CAST(count(*) AS BIGINT) n_hits
        |      FROM rt SEMI JOIN truth USING (probe_id, neighbor_id)
        |      GROUP BY 1)
        |SELECT CAST(dims.dd AS INT) AS trunc_dim,
        |  CAST(coalesce(n_hits, 0) AS BIGINT) n_hits,
        |  round(coalesce(n_hits, 0) / 50.0 * 1000000) / 1000000 AS recall
        |FROM dims LEFT JOIN h ON dims.dd = h.dd
        |ORDER BY 1""".stripMargin,
    "q135_survival" ->
      """WITH ev AS (SELECT user_id, event_type,
        |              CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |tm AS (SELECT max(e) tmax FROM ev),
        |s AS (SELECT user_id, min(e) s FROM ev
        |      WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT s.user_id, s.s,
        |        min(CASE WHEN e.e >= s.s THEN e.e END) p
        |      FROM s LEFT JOIN ev e ON e.user_id = s.user_id
        |        AND e.event_type = 'purchase'
        |      GROUP BY 1, 2),
        |d AS (SELECT user_id, p IS NOT NULL evt,
        |        CASE WHEN p IS NOT NULL THEN (p - s) // 86400
        |             ELSE (tmax - s) // 86400 END t
        |      FROM p CROSS JOIN tm),
        |g AS (SELECT t,
        |        CAST(sum(CASE WHEN evt THEN 1 ELSE 0 END) AS BIGINT) d,
        |        CAST(sum(CASE WHEN evt THEN 0 ELSE 1 END) AS BIGINT) c
        |      FROM d GROUP BY 1),
        |k AS (SELECT *, sum(d + c) OVER () total,
        |        coalesce(sum(d + c) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) bf
        |      FROM g),
        |k2 AS (SELECT t, d, c, total - bf n_risk FROM k),
        |k3 AS (SELECT *,
        |         CAST(CASE WHEN d > 0 AND d < n_risk
        |           THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END
        |           AS DECIMAL(28,20)) lnterm,
        |         CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END zf
        |       FROM k2),
        |k4 AS (SELECT *, sum(lnterm) OVER (ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) lsum,
        |         max(zf) OVER (ORDER BY t
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) anyzero
        |       FROM k3)
        |SELECT t AS t_day, CAST(n_risk AS BIGINT) n_risk, d AS d_events,
        |  c AS c_censored,
        |  CASE WHEN anyzero = 1 THEN 0.0
        |       ELSE round(exp(CAST(lsum AS DOUBLE)) * 1000000) / 1000000
        |  END AS surv
        |FROM k4 WHERE d > 0 ORDER BY t""".stripMargin,
    "q108_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(date_diff('day', DATE '1970-01-01', o_orderdate) // 7 AS BIGINT) wk,
        |    CAST(o_totalprice AS DECIMAL(18,6)) price FROM orders),
        |c AS (SELECT o_custkey, min(wk) cohort_wk FROM o GROUP BY 1),
        |cells AS (SELECT c.cohort_wk, o.wk - c.cohort_wk age_wk,
        |            sum(o.price) rev, CAST(count(*) AS BIGINT) n_orders
        |          FROM o JOIN c USING (o_custkey) GROUP BY 1,2)
        |SELECT cohort_wk, age_wk, n_orders,
        |  round(CAST(rev AS DOUBLE) * 10000) / 10000 AS rev,
        |  round(CAST(sum(rev) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    * 10000) / 10000 AS cum_rev
        |FROM cells ORDER BY cohort_wk, age_wk""".stripMargin,
    "q142_supplier_pagerank" -> pageRankOracle(10),
    "q143_copurchase_triangles" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |t AS (SELECT p1.u a, p1.v b, p2.v c
        |      FROM p p1 JOIN p p2 ON p2.u = p1.v
        |        JOIN p p3 ON p3.u = p1.u AND p3.v = p2.v),
        |x AS (SELECT a id FROM t UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t)
        |SELECT id, CAST(count(*) AS BIGINT) AS triangles
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q144_assortativity" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |s AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |d AS (SELECT u AS id, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1)
        |SELECT CAST(count(*)/2 AS BIGINT) AS n_edges,
        |  round(avg(du.deg)*1000000)/1000000 AS avg_deg,
        |  round(corr(du.deg, dv.deg)*1000000)/1000000 AS assortativity
        |FROM s JOIN d du ON s.u = du.id JOIN d dv ON s.v = dv.id""".stripMargin,
    "q145_adamic_adar" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |s AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |d AS (SELECT u AS id, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1),
        |a AS (SELECT s.u apex, s.v nb, d.deg FROM s
        |      JOIN d ON s.u = d.id WHERE d.deg <= 1000),
        |w AS (SELECT x.nb xa, y.nb yb, CAST(1 AS DOUBLE)/ln(x.deg) wt
        |      FROM a x JOIN a y ON x.apex = y.apex AND x.nb < y.nb),
        |g AS (SELECT xa, yb, CAST(count(*) AS BIGINT) common_neighbors,
        |        sum(wt) sc
        |      FROM w GROUP BY 1, 2),
        |ne AS (SELECT g.* FROM g ANTI JOIN p ON g.xa = p.u AND g.yb = p.v)
        |SELECT xa AS part_a, yb AS part_b, common_neighbors,
        |  round(sc*1000000)/1000000 AS score
        |FROM ne ORDER BY score DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q146_copurchase_kcore" -> kcoreOracle(32),
    "q147_revenue_scan" ->
      """SELECT CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |    AS DOUBLE) * 10000) / 10000 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q148_profit_by_nation" ->
      """SELECT n_name AS nation, CAST(year(l_shipdate) AS INT) AS o_year,
        |  CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |      - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,6)))
        |    AS DOUBLE) * 10000) / 10000 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q149_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |        sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) total_rev
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1996-04-01'
        |      GROUP BY 1),
        |mx AS (SELECT max(total_rev) mx FROM rev)
        |SELECT s_suppkey, s_name,
        |  round(CAST(total_rev AS DOUBLE) * 10000) / 10000 AS total_rev
        |FROM rev JOIN mx ON rev.total_rev = mx.mx
        |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin,
    "q150_small_qty_revenue" ->
      """WITH pq AS (SELECT l_partkey,
        |        sum(CAST(l_quantity AS DECIMAL(18,6))) qsum,
        |        CAST(count(*) AS BIGINT) qcnt
        |      FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) n_items,
        |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |    / 7.0 * 100) / 100 AS avg_yearly
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#3'
        |JOIN pq ON pq.l_partkey = l.l_partkey
        |WHERE CAST(l.l_quantity AS DECIMAL(18,6)) * 5 * pq.qcnt < pq.qsum""".stripMargin,
    "q151_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |        sum(CAST(l_quantity AS DECIMAL(18,6))) total_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS DECIMAL(18,6))) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) order_e,
        |  round(o_totalprice * 10000) / 10000 AS total_price,
        |  CAST(total_qty AS DOUBLE) AS total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_price DESC, o_orderkey LIMIT 10""".stripMargin,
    "q152_theil_sen" ->
      """WITH d AS (SELECT event_type, CAST(floor(epoch(ts)/86400) AS BIGINT) dy,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value) v
        |      FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type, (b.v - a.v)/CAST(b.dy - a.dy AS DOUBLE) slope
        |      FROM d a JOIN d b
        |        ON a.event_type = b.event_type AND a.dy < b.dy),
        |r AS (SELECT event_type, slope,
        |        row_number() OVER (PARTITION BY event_type ORDER BY slope) rn,
        |        count(*) OVER (PARTITION BY event_type) np FROM p),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days
        |       FROM d GROUP BY 1)
        |SELECT r.event_type, nd.n_days, CAST(max(np) AS BIGINT) n_pairs,
        |  round((min(slope) + max(slope))/2*1000000)/1000000 AS ts_slope
        |FROM r JOIN nd ON r.event_type = nd.event_type
        |WHERE rn = CAST(floor((np+1)/2.0) AS BIGINT)
        |   OR rn = CAST(floor(np/2.0) AS BIGINT) + 1
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q153_lead_lag" ->
      """WITH d AS (SELECT event_type, CAST(floor(epoch(ts)/86400) AS BIGINT) dy,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value) v
        |      FROM events GROUP BY 1, 2),
        |l AS (SELECT a.event_type type_a, b.event_type type_b, g.lag,
        |        CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(a.v AS DECIMAL(28,16))) AS DOUBLE) sx,
        |        CAST(sum(CAST(b.v AS DECIMAL(28,16))) AS DOUBLE) sy,
        |        CAST(sum(CAST(a.v*b.v AS DECIMAL(28,12))) AS DOUBLE) sxy,
        |        CAST(sum(CAST(a.v*a.v AS DECIMAL(28,12))) AS DOUBLE) sxx,
        |        CAST(sum(CAST(b.v*b.v AS DECIMAL(28,12))) AS DOUBLE) syy
        |      FROM d a
        |      JOIN generate_series(-7, 7) g(lag) ON true
        |      JOIN d b ON a.event_type < b.event_type AND a.dy + g.lag = b.dy
        |      GROUP BY 1, 2, 3 HAVING count(*) >= 3),
        |r AS (SELECT type_a, type_b, lag, n,
        |        CASE WHEN (n*sxx - sx*sx)*(n*syy - sy*sy) <= 0 THEN 0.0
        |             ELSE (n*sxy - sx*sy)/sqrt((n*sxx - sx*sx)*(n*syy - sy*sy))
        |        END r FROM l),
        |k AS (SELECT *, row_number() OVER (PARTITION BY type_a, type_b
        |        ORDER BY abs(r) DESC, lag) rn FROM r)
        |SELECT type_a, type_b, CAST(lag AS INT) best_lag, n AS n_overlap,
        |  round(r*1000000)/1000000 AS r_best
        |FROM k WHERE rn = 1 ORDER BY 1, 2""".stripMargin,
    "q154_benford" ->
      """WITH v AS (SELECT event_type,
        |        CAST(round(abs(value)*10000) AS BIGINT) i FROM events),
        |d AS (SELECT event_type,
        |        CAST(substr(CAST(i AS VARCHAR), 1, 1) AS INT) digit
        |      FROM v WHERE i > 0),
        |c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) n
        |      FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) total
        |      FROM d GROUP BY 1),
        |g AS (SELECT t.event_type, t.total, CAST(gs.g AS INT) digit
        |      FROM t, generate_series(1, 9) gs(g)),
        |e AS (SELECT g.event_type, g.digit, coalesce(c.n, 0) n, g.total,
        |        CASE g.digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
        |          WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910
        |          WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
        |          WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
        |          ELSE 0.045757 END exp_share
        |      FROM g LEFT JOIN c
        |        ON g.event_type = c.event_type AND g.digit = c.digit)
        |SELECT event_type, digit, n,
        |  round(CAST(n AS DOUBLE)/total*1000000)/1000000 AS obs_share,
        |  CAST(exp_share AS DOUBLE) AS exp_share,
        |  round((CAST(n AS DOUBLE)/total - exp_share)*1000000)/1000000 AS dev
        |FROM e ORDER BY 1, 2""".stripMargin,
    // Replicas drawn in BLOCKS OF SIXTEEN: one md5 digest = sixteen
    // independent 8-bit uniforms (slot s reads hex chars 2s+1..2s+2),
    // matching the Spark side's 16x-fewer-digests layout exactly.
    "q155_bootstrap_ci" ->
      """WITH r AS (SELECT e.event_type, e.event_id, e.value,
        |        CAST(round(e.value*1000000) AS BIGINT) v6, gs.blk
        |      FROM events e, generate_series(0, 12) gs(blk)),
        |h AS (SELECT event_type, event_id, blk, v6,
        |        md5('boot:'||CAST(event_id AS VARCHAR)||':'||CAST(blk AS VARCHAR)) h
        |      FROM r),
        |s AS (SELECT event_type, blk*16 + sl.slot AS b, v6, h,
        |        CAST(sl.slot AS BIGINT) slot
        |      FROM h, generate_series(0, 15) sl(slot)
        |      WHERE blk*16 + sl.slot < 201),
        |u AS (SELECT event_type, b, v6,
        |  CAST((instr('0123456789abcdef', substr(h, 2*slot + 1, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(h, 2*slot + 2, 1)) - 1) AS BIGINT) u8
        |      FROM s),
        |w AS (SELECT event_type, b, v6,
        |        CASE WHEN u8 < 94 THEN 0 WHEN u8 < 188 THEN 1
        |             WHEN u8 < 235 THEN 2 WHEN u8 < 251 THEN 3
        |             WHEN u8 < 255 THEN 4 ELSE 5 END w
        |      FROM u),
        |m AS (SELECT event_type, b,
        |        CAST(sum(v6*w) AS DOUBLE)/1000000.0/sum(w) m
        |      FROM w WHERE w > 0 GROUP BY 1, 2),
        |k AS (SELECT event_type, m,
        |        row_number() OVER (PARTITION BY event_type ORDER BY m, b) rn
        |      FROM m),
        |ci AS (SELECT event_type, round(min(m)*1000000)/1000000 ci_lo,
        |         round(max(m)*1000000)/1000000 ci_hi
        |       FROM k WHERE rn = 6 OR rn = 196 GROUP BY 1),
        |base AS (SELECT event_type, CAST(count(*) AS BIGINT) n_events,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(value)
        |      *1000000)/1000000 mean
        |  FROM events GROUP BY 1)
        |SELECT base.event_type, n_events, mean, ci_lo, ci_hi
        |FROM base JOIN ci ON base.event_type = ci.event_type
        |ORDER BY 1""".stripMargin,
    // q50's window index with POSITIONS kept: matching 32-char substrings
    // across a doc pair are seed points (pa, pb); a maximal verbatim shared
    // run is a maximal diagonal island (pa−pb constant, pa consecutive) —
    // collapsed by the gaps-and-islands pa − row_number() idiom. The Spark
    // side seeds from 61-bit rolling hashes; the oracle from the literal
    // substrings (collision-free by construction), same q50 design basis.
    "q156_substring_spans" ->
      """WITH nt AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |ix AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) g
        |       FROM nt WHERE length(t) >= 32),
        |hs AS (SELECT doc_id, CAST(g AS BIGINT) pos, substr(t, g, 32) s FROM ix),
        |keep AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM hs)
        |         GROUP BY 1 HAVING count(*) <= 1000),
        |c AS (SELECT doc_id, pos, s FROM hs JOIN keep USING (s)),
        |m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb
        |      FROM c a JOIN c b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
        |          pa - row_number() OVER (
        |            PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) grp
        |        FROM m)
        |SELECT doc_a, doc_b, min(pa) start_a, min(pb) start_b,
        |       count(*) + 31 AS span_len
        |FROM isl GROUP BY doc_a, doc_b, diag, grp
        |HAVING count(*) + 31 >= 64
        |ORDER BY 1, 2, 3, 4""".stripMargin,
    "q157_communities" -> lpaOracle(4),
    // q156's span CTE, then classic interval-merge (running-max gaps-and-
    // islands) over each doc's doc_b-side spans — keep-earliest removal.
    "q158_span_removal" ->
      """WITH nt AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |ix AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 31)) g
        |       FROM nt WHERE length(t) >= 32),
        |hs AS (SELECT doc_id, CAST(g AS BIGINT) pos, substr(t, g, 32) s FROM ix),
        |keep AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM hs)
        |         GROUP BY 1 HAVING count(*) <= 1000),
        |c AS (SELECT doc_id, pos, s FROM hs JOIN keep USING (s)),
        |m AS (SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa, b.pos pb
        |      FROM c a JOIN c b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
        |          pa - row_number() OVER (
        |            PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) grp
        |        FROM m),
        |spans AS (SELECT doc_b AS doc_id, min(pb) s,
        |            min(pb) + count(*) + 31 AS e
        |          FROM isl GROUP BY doc_a, doc_b, diag, grp
        |          HAVING count(*) + 31 >= 64),
        |sd AS (SELECT DISTINCT doc_id, s, e FROM spans),
        |mk AS (SELECT doc_id, s, e,
        |         CASE WHEN s > coalesce(max(e) OVER (
        |             PARTITION BY doc_id ORDER BY s, e
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |           THEN 1 ELSE 0 END op
        |       FROM sd),
        |gr AS (SELECT doc_id, s, e, sum(op) OVER (
        |         PARTITION BY doc_id ORDER BY s, e
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) grp FROM mk),
        |mg AS (SELECT doc_id, grp, min(s) rs, max(e) re FROM gr GROUP BY 1, 2),
        |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_regions,
        |         CAST(sum(re - rs) AS BIGINT) chars_removable FROM mg GROUP BY 1)
        |SELECT ag.doc_id, n_regions, chars_removable,
        |  round(CAST(chars_removable AS DOUBLE)/length(nt.t)*1000000)/1000000
        |    AS frac_removable
        |FROM ag JOIN nt ON ag.doc_id = nt.doc_id ORDER BY 1""".stripMargin,
    // TPC-H Q22 shape; the mean-positive-balance threshold compare is
    // cross-multiplied (bal·n > sum) so it stays in exact decimal.
    "q159_cust_opportunity" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(c_acctbal AS DECIMAL(18,2)) bal FROM customer),
        |t AS (SELECT sum(bal) spos, count(*) npos FROM c WHERE bal > 0)
        |SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS numcust,
        |  round(CAST(sum(c.bal) AS DOUBLE)*100)/100 AS totacctbal
        |FROM c CROSS JOIN t JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.bal * t.npos > t.spos
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q160_hits_authority" -> hitsOracle(4),
    "q161_jaccard_neighbors" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |s AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |d AS (SELECT u AS id, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1),
        |a AS (SELECT s.u apex, s.v nb FROM s
        |      JOIN d ON s.u = d.id WHERE d.deg <= 1000),
        |g AS (SELECT x.nb xa, y.nb yb, CAST(count(*) AS BIGINT) common_neighbors
        |      FROM a x JOIN a y ON x.apex = y.apex AND x.nb < y.nb
        |      GROUP BY 1, 2),
        |ne AS (SELECT g.* FROM g ANTI JOIN p ON g.xa = p.u AND g.yb = p.v)
        |SELECT xa AS part_a, yb AS part_b, common_neighbors,
        |  round(CAST(common_neighbors AS DOUBLE)
        |    / (da.deg + db.deg - common_neighbors)*1000000)/1000000 AS jaccard
        |FROM ne JOIN d da ON ne.xa = da.id JOIN d db ON ne.yb = db.id
        |ORDER BY jaccard DESC, part_a, part_b LIMIT 20""".stripMargin,
    // Strict local maxima of stored values — exact compares, no statistic.
    "q162_peak_census" ->
      """WITH x AS (SELECT event_type, ts, event_id, value,
        |             lag(value) OVER w pv, lead(value) OVER w nv
        |           FROM events
        |           WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |p AS (SELECT event_type, ts, event_id, value FROM x
        |      WHERE value > pv AND value > nv),
        |g AS (SELECT event_type, value,
        |        CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |          OVER (PARTITION BY event_type ORDER BY ts, event_id) gap_s
        |      FROM p)
        |SELECT event_type, CAST(count(*) AS BIGINT) n_peaks,
        |  round(CAST(sum(CAST(gap_s AS DECIMAL(18,2))) AS DOUBLE)
        |    / sum(CASE WHEN gap_s IS NOT NULL THEN 1 ELSE 0 END)*10000)/10000
        |    AS avg_gap_s,
        |  round(max(value)*10000)/10000 AS max_peak
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    // q22's capped band join rolled up by unordered source pair.
    "q163_source_dup_matrix" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig, count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |prs AS (SELECT a.doc_id doc_a, b.doc_id doc_b
        |        FROM bsz a JOIN bsz b
        |          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        |        GROUP BY 1,2),
        |ds AS (SELECT doc_id, source FROM documents),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) n FROM ds GROUP BY 1),
        |mx AS (SELECT least(sa.source, sb.source) src_a,
        |              greatest(sa.source, sb.source) src_b
        |       FROM prs JOIN ds sa ON prs.doc_a = sa.doc_id
        |                JOIN ds sb ON prs.doc_b = sb.doc_id),
        |ag AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) n_dup_pairs
        |       FROM mx GROUP BY 1,2)
        |SELECT src_a, src_b, n_dup_pairs,
        |  round(CAST(n_dup_pairs AS DOUBLE)
        |    / (CASE WHEN src_a = src_b THEN na.n*(na.n-1)//2
        |            ELSE na.n*nb.n END)*1000000)/1000000 AS dup_rate
        |FROM ag JOIN ns na ON ag.src_a = na.source
        |        JOIN ns nb ON ag.src_b = nb.source
        |ORDER BY 1, 2""".stripMargin,
    // Integer day gaps: mean is decimal-exact, median interpolates two
    // integers in one IEEE op — no float-noise argument needed.
    "q164_reorder_gaps" ->
      """WITH g AS (SELECT o_custkey,
        |             date_diff('day',
        |               CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |                 ORDER BY o_orderdate, o_orderkey) AS DATE),
        |               CAST(o_orderdate AS DATE)) gap_days
        |           FROM orders),
        |j AS (SELECT c_mktsegment, gap_days FROM g
        |      JOIN customer ON o_custkey = c_custkey WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_gaps,
        |  round(CAST(sum(CAST(gap_days AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*)*10000)/10000 AS avg_gap_days,
        |  round(quantile_cont(gap_days, 0.5)*10000)/10000 AS median_gap_days,
        |  CAST(max(gap_days) AS BIGINT) AS max_gap_days
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q165_mmr_topk" -> mmrOracle(pool = 40, k = 8),
    "q166_supplier_affinity" -> pprOracle(iters = 8, nSeeds = 5),
    // TPC-H Q2 shape on observed unit prices; argmin orders by the SNAPPED
    // price so the winner can't flip on accumulation order.
    "q167_min_price_supplier" ->
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_size = 1),
        |u AS (SELECT l_partkey, l_suppkey,
        |        round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |          / CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |          *10000)/10000 unit_price
        |      FROM lineitem JOIN pp ON l_partkey = p_partkey GROUP BY 1, 2),
        |r AS (SELECT l_partkey, l_suppkey, unit_price,
        |        row_number() OVER (PARTITION BY l_partkey
        |          ORDER BY unit_price, l_suppkey) rn FROM u)
        |SELECT l_partkey AS p_partkey, s_suppkey, s_name, unit_price
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1 ORDER BY p_partkey LIMIT 25""".stripMargin,
    // R/S per complete window of 32/64/128 samples; cumulative deviation is
    // a FIXED-ORDER running sum (frame ordered by rn) so both engines add
    // in the same sequence; per-window ln(R/S) snapped to 12 dp before the
    // cross-window decimal mean. Slope over ln-geometric sizes collapses to
    // (m128 − m32)/(2·ln 2).
    "q168_hurst_rs" ->
      """WITH sz AS (SELECT unnest([32, 64, 128]) s),
        |e AS (SELECT event_type, value,
        |        CAST(row_number() OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) - 1 AS BIGINT) rn
        |      FROM events),
        |x AS (SELECT e.event_type, e.value, e.rn, sz.s, e.rn // sz.s AS win
        |      FROM e, sz),
        |st AS (SELECT event_type, s, win, count(*) cnt,
        |         CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE)/s mean
        |       FROM x GROUP BY 1, 2, 3 HAVING count(*) = s),
        |c AS (SELECT x.event_type, x.s, x.win, x.value, st.mean,
        |        sum(x.value - st.mean) OVER (
        |          PARTITION BY x.event_type, x.s, x.win ORDER BY x.rn
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
        |      FROM x JOIN st ON x.event_type = st.event_type
        |        AND x.s = st.s AND x.win = st.win),
        |wrs AS (SELECT event_type, s, win, max(cum) - min(cum) AS r,
        |          sqrt(CAST(sum(CAST((value-mean)*(value-mean)
        |            AS DECIMAL(28,12))) AS DOUBLE)/s) sd
        |        FROM c GROUP BY 1, 2, 3),
        |lr AS (SELECT event_type, s, CAST(ln(r/sd) AS DECIMAL(28,12)) ln_rs
        |       FROM wrs WHERE sd > 0),
        |ms AS (SELECT event_type, s, CAST(sum(ln_rs) AS DOUBLE)/count(*) m
        |       FROM lr GROUP BY 1, 2)
        |SELECT event_type,
        |  round(max(CASE WHEN s=32 THEN m END)*1000000)/1000000 AS ln_rs_32,
        |  round(max(CASE WHEN s=64 THEN m END)*1000000)/1000000 AS ln_rs_64,
        |  round(max(CASE WHEN s=128 THEN m END)*1000000)/1000000 AS ln_rs_128,
        |  round((max(CASE WHEN s=128 THEN m END) - max(CASE WHEN s=32 THEN m END))
        |    /(2*ln(2))*1000000)/1000000 AS hurst
        |FROM ms GROUP BY 1 ORDER BY 1""".stripMargin,
    // Forward twin of q33: first event at-or-after each order. The oracle
    // ties on FLOORED epochs (the Spark side's second resolution) so a
    // sub-second difference can never order differently across engines.
    "q169_asof_forward" ->
      """WITH j AS (SELECT o.o_orderkey, o.o_custkey AS user_id, e.event_id,
        |    CAST(floor(epoch(e.ts)) AS BIGINT) ee,
        |    CAST(floor(epoch(o.o_orderdate)) AS BIGINT) ot,
        |    row_number() OVER (PARTITION BY o.o_orderkey
        |      ORDER BY CAST(floor(epoch(e.ts)) AS BIGINT), e.event_id) rn
        |  FROM orders o JOIN events e
        |    ON e.user_id = o.o_custkey
        |   AND CAST(floor(epoch(e.ts)) AS BIGINT)
        |       >= CAST(floor(epoch(o.o_orderdate)) AS BIGINT))
        |SELECT o_orderkey, user_id, event_id AS next_event_id, ee - ot AS lag_s
        |FROM j WHERE rn = 1 ORDER BY 1""".stripMargin,
    // q143's triangle CTE + degrees: 2·triangles/(deg·(deg−1)) per part.
    "q170_clustering_coeff" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |t AS (SELECT p1.u a, p1.v b, p2.v c
        |      FROM p p1 JOIN p p2 ON p2.u = p1.v
        |        JOIN p p3 ON p3.u = p1.u AND p3.v = p2.v),
        |x AS (SELECT a id FROM t UNION ALL SELECT b FROM t
        |      UNION ALL SELECT c FROM t),
        |tc AS (SELECT id, CAST(count(*) AS BIGINT) triangles FROM x GROUP BY 1),
        |s AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |d AS (SELECT u AS id, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1)
        |SELECT d.id AS part, d.deg,
        |  CAST(coalesce(tc.triangles, 0) AS BIGINT) AS triangles,
        |  round(coalesce(tc.triangles, 0)*2.0/(d.deg*(d.deg-1))*1000000)/1000000
        |    AS clustering
        |FROM d LEFT JOIN tc ON d.id = tc.id
        |WHERE d.deg >= 2 ORDER BY 1""".stripMargin,
    // q48's range join kept per-signup: lag to the FIRST qualifying
    // purchase, then the corpus latency profile over exact integer lags.
    "q171_funnel_latency" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |              CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |s AS (SELECT user_id, event_id, e FROM ev WHERE event_type = 'signup'),
        |pur AS (SELECT user_id p_user, e pe FROM ev WHERE event_type = 'purchase'),
        |lags AS (SELECT s.user_id, s.event_id, min(pur.pe - s.e) lag_s
        |         FROM s LEFT JOIN pur ON s.user_id = pur.p_user
        |           AND pur.pe >= s.e AND pur.pe <= s.e + 3600
        |         GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) n_signups,
        |  CAST(sum(CASE WHEN lag_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    n_converted,
        |  round(CAST(sum(CAST(lag_s AS DECIMAL(18,2))) AS DOUBLE)
        |    / sum(CASE WHEN lag_s IS NOT NULL THEN 1 ELSE 0 END)*10000)/10000
        |    AS avg_lag_s,
        |  round(quantile_cont(lag_s, 0.5)*10000)/10000 AS median_lag_s,
        |  round(quantile_cont(lag_s, 0.9)*10000)/10000 AS p90_lag_s,
        |  CAST(max(lag_s) AS BIGINT) AS max_lag_s
        |FROM lags""".stripMargin,
    "q172_weighted_communities" -> lpaWeightedOracle(4),
    // Hill MLE over the degree tail: each ln(deg/dmin) snapped to 12-dp
    // decimal before the order-free exact sum.
    "q173_degree_power_law" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |s AS (SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p),
        |d AS (SELECT u AS id, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) n_vertices,
        |        CAST(max(deg) AS BIGINT) max_deg FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) n_tail,
        |        sum(CAST(ln(CAST(deg AS DOUBLE)/4) AS DECIMAL(28,12))) s
        |      FROM d WHERE deg >= 4)
        |SELECT a.n_vertices, a.max_deg, t.n_tail,
        |  round(CAST(t.n_tail AS DOUBLE)/a.n_vertices*1000000)/1000000
        |    AS tail_frac,
        |  round((1.0 + CAST(t.n_tail AS DOUBLE)/CAST(t.s AS DOUBLE))*1000000)
        |    /1000000 AS alpha_hat
        |FROM t CROSS JOIN a""".stripMargin,
    // STL seasonal strength over a weekly profile: weekday = epoch-day
    // mod 7 (portable integer arithmetic), variances from decimal-snapped
    // Σx/Σx² so both IEEE variance evaluations are bit-deterministic.
    "q174_seasonal_strength" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) dnum,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) m
        |  FROM events GROUP BY 1, 2),
        |dw AS (SELECT event_type, dnum, m, dnum % 7 AS dow FROM daily),
        |se AS (SELECT event_type, dow,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE)/count(*) s
        |  FROM dw GROUP BY 1, 2),
        |j AS (SELECT dw.event_type, dw.m, dw.m - se.s AS r
        |      FROM dw JOIN se ON dw.event_type = se.event_type
        |        AND dw.dow = se.dow),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(m*m AS DECIMAL(28,12))) AS DOUBLE) sx2,
        |    CAST(sum(CAST(r AS DECIMAL(28,12))) AS DOUBLE) rx,
        |    CAST(sum(CAST(r*r AS DECIMAL(28,12))) AS DOUBLE) rx2
        |  FROM j GROUP BY 1)
        |SELECT event_type, n_days,
        |  round((sx2/n_days - (sx/n_days)^2)*1000000)/1000000 AS var_total,
        |  round((rx2/n_days - (rx/n_days)^2)*1000000)/1000000 AS var_resid,
        |  round(greatest(0.0, 1.0 - (rx2/n_days - (rx/n_days)^2)
        |    /(sx2/n_days - (sx/n_days)^2))*1000000)/1000000
        |    AS seasonal_strength
        |FROM ag ORDER BY 1""".stripMargin,
    "q175_priority_wait" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q176_late_ship_mix" ->
      """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q177_custdist" ->
      """WITH cc AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |            FROM customer LEFT JOIN orders
        |              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |            GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM cc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q178_supplier_breadth" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#11'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q179_dominant_supplier" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
        |              sum(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
        |            FROM lineitem GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(supp_qty) AS part_qty,
        |          count(*) AS n_supp
        |        FROM ps GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name, count(*) AS n_parts_dominated
        |FROM ps JOIN tot USING (l_partkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_supp >= 2 AND supp_qty*2*n_supp > part_qty*3
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "q180_rolling_moments" ->
      """WITH ev AS (SELECT event_type, ts, event_id,
        |    CAST(round(value*1e6) AS DECIMAL(38,0)) x1,
        |    CAST(round(value*value*1e10) AS DECIMAL(38,0)) x2,
        |    CAST(round(value*value*value*1e8) AS DECIMAL(38,0)) x3,
        |    CAST(round(value*value*value*value*1e8) AS DECIMAL(38,0)) x4
        |  FROM events),
        |s AS (SELECT event_type, event_id,
        |    count(*) OVER w k,
        |    CAST(sum(x1) OVER w AS DOUBLE)/1e6/25.0 m,
        |    CAST(sum(x2) OVER w AS DOUBLE)/1e10/25.0 a2,
        |    CAST(sum(x3) OVER w AS DOUBLE)/1e8/25.0 a3,
        |    CAST(sum(x4) OVER w AS DOUBLE)/1e8/25.0 a4
        |  FROM ev
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)),
        |c AS (SELECT event_type, event_id,
        |    a2 - m*m AS m2,
        |    a3 - 3.0*m*a2 + 2.0*m*m*m AS m3,
        |    a4 - 4.0*m*a3 + 6.0*m*m*a2 - 3.0*m*m*m*m AS m4
        |  FROM s WHERE k = 25)
        |SELECT event_type, event_id,
        |  round(m3/(m2*sqrt(m2))*1000000)/1000000 + 0.0 AS skew,
        |  round((m4/(m2*m2) - 3.0)*1000000)/1000000 + 0.0 AS kurt
        |FROM c ORDER BY 1, 2""".stripMargin,
    "q181_runs_test" ->
      """WITH med AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5)*1000000)/1000000 m
        |  FROM events GROUP BY 1),
        |sgn AS (SELECT e.event_type, ts, event_id,
        |    CASE WHEN value > m THEN 1 ELSE 0 END s
        |  FROM events e JOIN med ON e.event_type = med.event_type
        |  WHERE value <> m),
        |r AS (SELECT event_type, s,
        |    CASE WHEN lag(s) OVER (PARTITION BY event_type
        |        ORDER BY ts, event_id) IS DISTINCT FROM s
        |      THEN 1 ELSE 0 END chg
        |  FROM sgn),
        |a AS (SELECT event_type,
        |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) n_above,
        |    CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) n_below,
        |    CAST(sum(chg) AS BIGINT) runs
        |  FROM r GROUP BY 1),
        |z AS (SELECT event_type, n_above, n_below, runs,
        |    CAST(n_above AS DOUBLE) na, CAST(n_below AS DOUBLE) nb
        |  FROM a),
        |z2 AS (SELECT *, 2.0*na*nb/(na + nb) + 1.0 AS mu FROM z)
        |SELECT event_type, n_above, n_below, runs,
        |  round((CAST(runs AS DOUBLE) - mu)
        |    / sqrt((mu - 1.0)*(mu - 2.0)/(na + nb - 1.0))
        |    *1000000)/1000000 AS z_runs
        |FROM z2 ORDER BY 1""".stripMargin,
    "q182_drawdown" ->
      """WITH mn AS (SELECT event_type,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 mean_v
        |  FROM events GROUP BY 1),
        |p AS (SELECT e.event_type, ts, event_id,
        |    CAST(value AS DECIMAL(18,6))
        |      - CAST(mean_v AS DECIMAL(28,12)) step
        |  FROM events e JOIN mn ON e.event_type = mn.event_type),
        |c AS (SELECT event_type, ts, event_id,
        |    sum(step) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) c
        |  FROM p),
        |c2 AS (SELECT event_type, c,
        |    max(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) peak
        |  FROM c)
        |SELECT event_type, CAST(count(*) AS BIGINT) n_points,
        |  round(CAST(max(peak - c) AS DOUBLE)*1000000)/1000000
        |    AS max_drawdown,
        |  round(CAST(max(c) - min(c) AS DOUBLE)*1000000)/1000000
        |    AS excursion_range
        |FROM c2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q183_variance_ratio" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) dnum,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |da AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    sum(CAST(m AS DECIMAL(28,12))) sx,
        |    sum(CAST(m*m AS DECIMAL(28,12))) sx2
        |  FROM daily GROUP BY 1),
        |wk AS (SELECT event_type, dnum // 7 w,
        |    sum(CAST(m AS DECIMAL(28,12))) ws
        |  FROM daily GROUP BY 1, 2 HAVING count(*) = 7),
        |wd AS (SELECT event_type, CAST(ws AS DOUBLE) wsd FROM wk),
        |wa AS (SELECT event_type, CAST(count(*) AS BIGINT) n_weeks,
        |    sum(CAST(wsd AS DECIMAL(28,12))) wx,
        |    sum(CAST(wsd*wsd AS DECIMAL(28,12))) wx2
        |  FROM wd GROUP BY 1),
        |v AS (SELECT da.event_type, n_days, n_weeks,
        |    CAST(sx2 AS DOUBLE)/n_days
        |      - (CAST(sx AS DOUBLE)/n_days)^2 vd,
        |    CAST(wx2 AS DOUBLE)/n_weeks
        |      - (CAST(wx AS DOUBLE)/n_weeks)^2 vw
        |  FROM da JOIN wa ON da.event_type = wa.event_type
        |  WHERE n_weeks >= 2)
        |SELECT event_type, n_days, n_weeks,
        |  round(vd*1000000)/1000000 AS var_daily,
        |  round(vw*1000000)/1000000 AS var_weekly,
        |  round(vw/(7.0*vd)*1000000)/1000000 AS variance_ratio
        |FROM v ORDER BY 1""".stripMargin,
    "q184_run_length_census" ->
      """WITH med AS (SELECT event_type,
        |    round(quantile_cont(value, 0.5)*1000000)/1000000 m
        |  FROM events GROUP BY 1),
        |f AS (SELECT e.event_type, ts, event_id, value, m,
        |    row_number() OVER (PARTITION BY e.event_type
        |      ORDER BY ts, event_id) rn
        |  FROM events e JOIN med ON e.event_type = med.event_type),
        |g AS (SELECT event_type,
        |    rn - row_number() OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) grp
        |  FROM f WHERE value > m),
        |runs AS (SELECT event_type, grp, CAST(count(*) AS BIGINT) len
        |  FROM g GROUP BY 1, 2)
        |SELECT event_type, CAST(length(bin(len)) - 1 AS INT) bucket,
        |  CAST(count(*) AS BIGINT) n_runs, CAST(max(len) AS BIGINT) max_len,
        |  round(CAST(sum(len) AS DOUBLE)/count(*)*10000)/10000 AS mean_len
        |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q185_template_prefix" ->
      """WITH d AS (SELECT doc_id, source, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |p AS (SELECT doc_id, source,
        |    md5(array_to_string(w[1:8], ' ')) prefix_fp
        |  FROM d WHERE len(w) >= 8)
        |SELECT prefix_fp, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) n_sources,
        |  CAST(min(doc_id) AS BIGINT) first_doc
        |FROM p GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin,
    "q186_soft_dedup_weights" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz0 AS (SELECT doc_id, band, sig,
        |                count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id
        |          WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |           FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS (SELECT doc_a u, doc_b v FROM allp
        |          UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |mem AS (SELECT d0.doc_id, d0.source,
        |          coalesce(cc.comp, d0.doc_id) cluster_id
        |        FROM documents d0 LEFT JOIN cc ON d0.doc_id = cc.node),
        |sz AS (SELECT cluster_id, count(*) cs FROM mem GROUP BY 1),
        |wt AS (SELECT source, cs,
        |         CAST(round(1.0/cs*1e12)/1e12 AS DECIMAL(28,12)) w
        |       FROM mem JOIN sz USING (cluster_id))
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(CASE WHEN cs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    n_dup_members,
        |  round(CAST(sum(w) AS DOUBLE)*1000000)/1000000 AS effective_docs,
        |  round(CAST(sum(w) AS DOUBLE)/count(*)*1000000)/1000000 AS efficiency
        |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin,
    "q187_quality_temperature" ->
      """WITH d AS (SELECT doc_id, source,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t FROM documents),
        |f AS (SELECT doc_id, source, length(t) n_chars,
        |        len(string_split(t, ' ')) n_words,
        |        length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g')) n_punct,
        |        len(list_filter(string_split(t, ' '), x -> list_contains(
        |          ['the','a','of','and','to','in','is','it'], x))) n_stop
        |      FROM d),
        |q AS (SELECT doc_id, source,
        |        round((least(CAST(n_words AS DOUBLE)/100.0, 1.0)*0.5
        |          + (1.0 - CAST(n_punct AS DOUBLE)/n_chars)*0.3
        |          + least(CAST(n_stop AS DOUBLE)/n_words*5.0, 1.0)*0.2)
        |          *10000)/10000 quality
        |      FROM f),
        |c AS (SELECT doc_id, source, quality,
        |        md5('qsamp:'||CAST(doc_id AS VARCHAR)) h FROM q),
        |u AS (SELECT source, quality,
        |        CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576 +
        |          (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536 +
        |          (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096 +
        |          (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 256 +
        |          (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 +
        |          (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT) u24
        |      FROM c),
        |k AS (SELECT source, quality,
        |        CAST(u24 AS DOUBLE) < quality*quality*16777216.0 kept
        |      FROM u)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) n_kept,
        |  round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
        |    /count(*)*1000000)/1000000 AS keep_rate,
        |  round(CAST(sum(CASE WHEN kept THEN CAST(quality AS DECIMAL(18,6))
        |      ELSE NULL END) AS DOUBLE)
        |    /sum(CASE WHEN kept THEN 1 ELSE 0 END)*10000)/10000
        |    AS mean_kept_quality
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q188_rerank_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |env AS (SELECT i, min(v) mn, max(v) mx FROM xx GROUP BY 1),
        |rx AS (SELECT vec_id, xx.i,
        |         CASE WHEN mx = mn THEN mn
        |           ELSE mn + round((v - mn)/(mx - mn)*255)/255*(mx - mn) END rv
        |       FROM xx JOIN env ON xx.i = env.i),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |nr AS (SELECT vec_id, sqrt(CAST(sum(CAST(rv*rv AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |       FROM rx GROUP BY 1),
        |d1 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc1 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d1 JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id),
        |truth AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc1) WHERE rnk <= 5),
        |d2 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.rv*c.rv AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM rx p JOIN rx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
        |      GROUP BY 1,2),
        |sc2 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d2 JOIN nr np ON probe_id = np.vec_id JOIN nr nc ON neighbor_id = nc.vec_id),
        |short AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
        |    FROM sc2) WHERE rnk <= 20),
        |rr AS (SELECT probe_id, neighbor_id FROM (
        |    SELECT s1.probe_id, s1.neighbor_id,
        |      row_number() OVER (PARTITION BY s1.probe_id
        |        ORDER BY s1.cos DESC, s1.neighbor_id) rnk
        |    FROM sc1 s1 JOIN short sh ON s1.probe_id = sh.probe_id
        |      AND s1.neighbor_id = sh.neighbor_id) WHERE rnk <= 5),
        |hits AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN rr a
        |          ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id GROUP BY 1),
        |tot AS (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1)
        |SELECT tot.probe_id, coalesce(n_hits, 0) n_hits, n_true,
        | round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 recall
        |FROM tot LEFT JOIN hits ON tot.probe_id = hits.probe_id ORDER BY 1""".stripMargin,
    "q189_rich_club" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |deg AS (SELECT u id, CAST(count(*) AS BIGINT) deg FROM sym GROUP BY 1),
        |ks AS (SELECT unnest([1, 2, 4, 8, 16]) t),
        |tagged AS (SELECT e.u, e.v, du.deg du, dv.deg dv FROM e
        |           JOIN deg du ON e.u = du.id JOIN deg dv ON e.v = dv.id),
        |ek AS (SELECT t, CAST(count(*) AS BIGINT) e_club FROM tagged, ks
        |       WHERE du > t AND dv > t GROUP BY 1),
        |nk AS (SELECT t, CAST(count(*) AS BIGINT) n_club FROM deg, ks
        |       WHERE deg > t GROUP BY 1)
        |SELECT nk.t, n_club, coalesce(e_club, 0) e_club,
        |  round(2.0*coalesce(e_club, 0)
        |    /(CAST(n_club AS DOUBLE)*(n_club - 1))*1000000)/1000000 AS phi
        |FROM nk LEFT JOIN ek ON nk.t = ek.t
        |WHERE n_club >= 2 ORDER BY 1""".stripMargin,
    "q190_important_parts" ->
      """WITH s AS (SELECT s_suppkey FROM supplier
        |           JOIN nation ON s_nationkey = n_nationkey
        |           WHERE n_name = 'NATION_3'),
        |pv AS (SELECT l_partkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,2))) pval
        |       FROM lineitem JOIN s ON l_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT sum(pval) total, count(*) np FROM pv)
        |SELECT l_partkey, CAST(pval AS DOUBLE) part_value,
        |  round(CAST(pval AS DOUBLE)/CAST(total AS DOUBLE)*1000000)/1000000
        |    AS share
        |FROM pv CROSS JOIN t WHERE pval*2*np > total*3 ORDER BY 1""".stripMargin,
    "q191_vocab_coverage" ->
      """WITH tk AS (SELECT lang, tok, CAST(count(*) AS BIGINT) n_lt
        |  FROM (SELECT lang, doc_id,
        |          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |vc AS (SELECT tok FROM (SELECT tok, sum(n_lt) n FROM tk GROUP BY 1)
        |       ORDER BY n DESC, tok LIMIT 16),
        |dl AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs
        |       FROM documents GROUP BY 1),
        |ag AS (SELECT lang, CAST(sum(n_lt) AS BIGINT) n_tokens,
        |         CAST(sum(CASE WHEN vc.tok IS NULL THEN n_lt ELSE 0 END)
        |           AS BIGINT) n_oov,
        |         CAST(count(DISTINCT CASE WHEN vc.tok IS NULL THEN tk.tok END)
        |           AS BIGINT) n_oov_types
        |       FROM tk LEFT JOIN vc ON tk.tok = vc.tok GROUP BY 1)
        |SELECT ag.lang, n_docs, n_tokens, n_oov, n_oov_types,
        |  round(CAST(n_oov AS DOUBLE)/n_tokens*1000000)/1000000 AS oov_rate
        |FROM ag JOIN dl ON ag.lang = dl.lang ORDER BY 1""".stripMargin,
    "q192_lsh_scurve" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |truth AS (SELECT doc_a, doc_b,
        |    round(CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared), 6) j
        |  FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared) >= 0.5),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig, count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |lsh AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |        FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
        |          AND a.doc_id < b.doc_id),
        |t AS (SELECT truth.doc_a, truth.doc_b, j,
        |        CASE WHEN lsh.doc_a IS NULL THEN 0 ELSE 1 END hit,
        |        CAST(round((1.0 - (1.0 - j*j*j*j)*(1.0 - j*j*j*j)
        |          *(1.0 - j*j*j*j))*1e12)/1e12 AS DECIMAL(28,12)) p
        |      FROM truth LEFT JOIN lsh ON truth.doc_a = lsh.doc_a
        |        AND truth.doc_b = lsh.doc_b)
        |SELECT CAST(floor(j*10) AS INT) decile, CAST(count(*) AS BIGINT) n_pairs,
        |  CAST(sum(hit) AS BIGINT) n_detected,
        |  round(CAST(sum(hit) AS DOUBLE)/count(*)*1000000)/1000000
        |    AS observed_rate,
        |  round(CAST(sum(p) AS DOUBLE)/count(*)*1000000)/1000000
        |    AS mean_theory
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q193_pacf" ->
      """WITH m AS (SELECT event_type,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) mu,
        |    CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1),
        |l AS (SELECT e.event_type, value, mu, n,
        |    lag(value, 1) OVER w p1, lag(value, 2) OVER w p2
        |  FROM events e JOIN m ON e.event_type = m.event_type
        |  WINDOW w AS (PARTITION BY e.event_type ORDER BY ts, event_id)),
        |a AS (SELECT event_type, max(n) n,
        |    CAST(sum(CAST((value - mu)*(p1 - mu) AS DECIMAL(28,16)))
        |      AS DOUBLE) num1,
        |    CAST(sum(CAST((value - mu)*(p2 - mu) AS DECIMAL(28,16)))
        |      AS DOUBLE) num2,
        |    CAST(sum(CAST((value - mu)*(value - mu) AS DECIMAL(28,16)))
        |      AS DOUBLE) den
        |  FROM l GROUP BY 1)
        |SELECT event_type, n,
        |  round(num1/den*10000)/10000 AS r1,
        |  round(num2/den*10000)/10000 AS r2,
        |  round((num2/den - (num1/den)*(num1/den))
        |    /(1.0 - (num1/den)*(num1/den))*1000000)/1000000 AS pacf2
        |FROM a ORDER BY 1""".stripMargin,
    "q194_durbin_watson" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    event_id, value FROM events),
        |t0 AS (SELECT event_type, min(e) t0 FROM ev GROUP BY 1),
        |td AS (SELECT ev.event_type, event_id, value,
        |         CAST(e - t0 AS DOUBLE) td
        |       FROM ev JOIN t0 ON ev.event_type = t0.event_type),
        |p AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(td AS DECIMAL(38,6))) AS DOUBLE) st,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) sv,
        |        CAST(sum(CAST(td*value AS DECIMAL(38,10))) AS DOUBLE) stv,
        |        CAST(sum(CAST(td*td AS DECIMAL(38,6))) AS DOUBLE) stt
        |      FROM td GROUP BY 1),
        |p2 AS (SELECT event_type, n, stt - st*st/n sxx, stv - st*sv/n sxy,
        |         sv, st FROM p),
        |p3 AS (SELECT event_type, n,
        |         CASE WHEN sxx = 0 THEN 0.0 ELSE sxy/sxx END slope, sv, st
        |       FROM p2),
        |p4 AS (SELECT event_type, n, slope, sv/n - slope*st/n icept FROM p3),
        |r AS (SELECT td.event_type, td.event_id, td.td, p4.n,
        |        value - (icept + slope*td) r
        |      FROM td JOIN p4 ON td.event_type = p4.event_type),
        |l AS (SELECT event_type, n, r, lag(r) OVER (PARTITION BY event_type
        |        ORDER BY td, event_id) pr FROM r),
        |a AS (SELECT event_type, max(n) n,
        |        CAST(sum(CAST(round((r - pr)*(r - pr)*1e12)/1e12
        |          AS DECIMAL(28,12))) AS DOUBLE) sdiff,
        |        CAST(sum(CAST(round(r*r*1e12)/1e12 AS DECIMAL(28,12)))
        |          AS DOUBLE) ssq
        |      FROM l GROUP BY 1)
        |SELECT event_type, n, round(sdiff/ssq*1000000)/1000000 AS dw
        |FROM a ORDER BY 1""".stripMargin,
    "q195_asset_dedup" ->
      """WITH m AS (SELECT doc_id asset_id, strlen(text) n_bytes,
        |             md5(text) digest FROM documents),
        |k AS (SELECT asset_id, n_bytes, digest,
        |        CASE WHEN asset_id % 3 = 0 THEN 'image'
        |             WHEN asset_id % 3 = 1 THEN 'audio' ELSE 'video' END kind
        |      FROM m),
        |per AS (SELECT kind, digest, CAST(count(*) AS BIGINT) cnt,
        |          CAST(max(n_bytes) AS BIGINT) nb FROM k GROUP BY 1, 2)
        |SELECT kind, CAST(sum(cnt) AS BIGINT) n_assets,
        |  CAST(count(*) AS BIGINT) n_unique,
        |  CAST(sum((cnt - 1)*nb) AS BIGINT) dup_bytes,
        |  round(CAST(sum(cnt) - count(*) AS DOUBLE)/sum(cnt)*1000000)/1000000
        |    AS dup_rate
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q196_resize_plan" ->
      """WITH m AS (SELECT doc_id asset_id, md5(text) digest FROM documents),
        |x AS (SELECT asset_id,
        |    ((instr('0123456789abcdef', substr(digest,1,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,2,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,3,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,4,1))-1)) % 1024 + 16 width,
        |    ((instr('0123456789abcdef', substr(digest,5,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,6,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,7,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,8,1))-1)) % 1024 + 16 height
        |  FROM m WHERE asset_id % 3 = 0),
        |r AS (SELECT asset_id, width, height,
        |        least(1.0, 256.0/width, 256.0/height) scale FROM x)
        |SELECT asset_id, CAST(width AS BIGINT) width,
        |  CAST(height AS BIGINT) height,
        |  greatest(1, CAST(floor(width*scale) AS BIGINT)) target_w,
        |  greatest(1, CAST(floor(height*scale) AS BIGINT)) target_h,
        |  round(scale*10000)/10000 AS scale, scale < 1.0 AS needs_resize
        |FROM r ORDER BY 1""".stripMargin,
    "q197_frame_plan" ->
      """WITH m AS (SELECT doc_id asset_id, md5(text) digest FROM documents),
        |d AS (SELECT asset_id,
        |    ((instr('0123456789abcdef', substr(digest,9,1))-1)*4096
        |     + (instr('0123456789abcdef', substr(digest,10,1))-1)*256
        |     + (instr('0123456789abcdef', substr(digest,11,1))-1)*16
        |     + (instr('0123456789abcdef', substr(digest,12,1))-1)) % 60000 + 1000
        |      duration_ms
        |  FROM m WHERE asset_id % 3 = 2),
        |f AS (SELECT asset_id, duration_ms,
        |        unnest(generate_series(0, duration_ms - 1, 1000)) offset_ms
        |      FROM d)
        |SELECT asset_id, CAST(offset_ms // 1000 AS BIGINT) frame_idx,
        |  CAST(offset_ms AS BIGINT) offset_ms,
        |  CAST(duration_ms AS BIGINT) duration_ms
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q198_detection_f1" ->
      """WITH thr AS (SELECT user_id,
        |    round(quantile_cont(value, 0.95)*1000000)/1000000 thr
        |  FROM events GROUP BY 1),
        |ranges AS (SELECT user_id,
        |    min(CAST(floor(epoch(ts)) AS BIGINT)) range_start,
        |    max(CAST(floor(epoch(ts)) AS BIGINT)) range_end
        |  FROM events WHERE event_type='error'
        |  GROUP BY user_id, CAST(floor(epoch(ts)/86400)*86400 AS BIGINT)),
        |pts AS (SELECT e.user_id, e.event_id, value > thr pred,
        |    max(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) truth
        |  FROM events e JOIN thr ON e.user_id = thr.user_id
        |  LEFT JOIN ranges r ON e.user_id = r.user_id
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT)
        |      BETWEEN r.range_start AND r.range_end
        |  GROUP BY 1, 2, 3),
        |a AS (SELECT
        |    CAST(sum(CASE WHEN pred AND truth = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) tp,
        |    CAST(sum(CASE WHEN pred AND truth = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) fp,
        |    CAST(sum(CASE WHEN NOT pred AND truth = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) fn,
        |    CAST(sum(CASE WHEN NOT pred AND truth = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) tn
        |  FROM pts)
        |SELECT tp, fp, fn, tn,
        |  round(CAST(tp AS DOUBLE)/(tp + fp)*1000000)/1000000 AS prec,
        |  round(CAST(tp AS DOUBLE)/(tp + fn)*1000000)/1000000 AS recall,
        |  round(2.0*(CAST(tp AS DOUBLE)/(tp + fp))*(CAST(tp AS DOUBLE)/(tp + fn))
        |    /((CAST(tp AS DOUBLE)/(tp + fp)) + (CAST(tp AS DOUBLE)/(tp + fn)))
        |    *1000000)/1000000 AS f1
        |FROM a""".stripMargin,
    "q199_local_bridges" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |        AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |tri AS (SELECT DISTINCT e.u, e.v FROM e
        |        WHERE EXISTS (SELECT 1 FROM sym a JOIN sym b
        |          ON a.v = b.v AND a.u = e.u AND b.u = e.v)),
        |c AS (SELECT (SELECT count(*) FROM e) n_edges,
        |        (SELECT count(*) FROM e
        |         WHERE NOT EXISTS (SELECT 1 FROM tri
        |           WHERE tri.u = e.u AND tri.v = e.v)) n_bridges)
        |SELECT CAST(n_edges AS BIGINT) n_edges,
        |  CAST(n_bridges AS BIGINT) n_bridges,
        |  round(CAST(n_bridges AS DOUBLE)/n_edges*1000000)/1000000
        |    AS bridge_rate
        |FROM c""".stripMargin,
    "q200_pca_power" -> pcaOracle(6),
    "q201_kendall_tau" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |bo AS (SELECT a.event_type type_a, b.event_type type_b, a.d,
        |         a.m ma, b.m mb
        |       FROM daily a JOIN daily b ON a.d = b.d
        |         AND a.event_type < b.event_type),
        |pp AS (SELECT x.type_a, x.type_b, x.ma ma1, x.mb mb1,
        |         y.ma ma2, y.mb mb2
        |       FROM bo x JOIN bo y ON x.type_a = y.type_a
        |         AND x.type_b = y.type_b AND x.d < y.d),
        |a AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) n0,
        |        CAST(sum(CASE WHEN (ma1 - ma2)*(mb1 - mb2) > 0
        |          THEN 1 ELSE 0 END) AS BIGINT) conc,
        |        CAST(sum(CASE WHEN (ma1 - ma2)*(mb1 - mb2) < 0
        |          THEN 1 ELSE 0 END) AS BIGINT) disc,
        |        CAST(sum(CASE WHEN ma1 = ma2 THEN 1 ELSE 0 END)
        |          AS BIGINT) ties_a,
        |        CAST(sum(CASE WHEN mb1 = mb2 THEN 1 ELSE 0 END)
        |          AS BIGINT) ties_b
        |      FROM pp GROUP BY 1, 2)
        |SELECT type_a, type_b, n0, conc, disc,
        |  round(CAST(conc - disc AS DOUBLE)
        |    /sqrt(CAST(n0 - ties_a AS DOUBLE)*CAST(n0 - ties_b AS DOUBLE))
        |    *1000000)/1000000 AS tau_b
        |FROM a ORDER BY 1, 2""".stripMargin,
    "q202_spearman_daily" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, d,
        |    CAST(rank() OVER (PARTITION BY event_type ORDER BY m) AS DOUBLE)
        |      + CAST(count(*) OVER (PARTITION BY event_type, m) - 1
        |          AS DOUBLE)/2.0 rk
        |  FROM daily),
        |j AS (SELECT a.event_type type_a, b.event_type type_b,
        |        a.rk ra, b.rk rb
        |      FROM rk a JOIN rk b ON a.d = b.d
        |        AND a.event_type < b.event_type),
        |g AS (SELECT type_a, type_b, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(ra AS DECIMAL(28,6))) AS DOUBLE) sa,
        |        CAST(sum(CAST(rb AS DECIMAL(28,6))) AS DOUBLE) sb,
        |        CAST(sum(CAST(ra*rb AS DECIMAL(28,6))) AS DOUBLE) sab,
        |        CAST(sum(CAST(ra*ra AS DECIMAL(28,6))) AS DOUBLE) saa,
        |        CAST(sum(CAST(rb*rb AS DECIMAL(28,6))) AS DOUBLE) sbb
        |      FROM j GROUP BY 1, 2)
        |SELECT type_a, type_b, n,
        |  round((sab - sa*sb/n)/sqrt((saa - sa*sa/n)*(sbb - sb*sb/n))
        |    *1000000)/1000000 AS rho
        |FROM g ORDER BY 1, 2""".stripMargin,
    "q203_cross_entropy" ->
      """WITH d0 AS (SELECT source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |tk AS (SELECT source, unnest(string_split(t, ' ')) tok
        |       FROM d0 WHERE length(t) > 0),
        |sc AS (SELECT source, tok, CAST(count(*) AS BIGINT) ns
        |       FROM tk GROUP BY 1, 2),
        |co AS (SELECT tok, CAST(sum(ns) AS BIGINT) nc FROM sc GROUP BY 1),
        |ct AS (SELECT CAST(sum(nc) AS BIGINT) nn,
        |         CAST(count(*) AS BIGINT) vv FROM co),
        |st AS (SELECT source, CAST(sum(ns) AS BIGINT) nst,
        |         CAST(count(*) AS BIGINT) vocab_src FROM sc GROUP BY 1),
        |t AS (SELECT sc.source, nst, vocab_src,
        |        CAST(ns AS DOUBLE)/nst ps,
        |        CAST(nc + 1 AS DOUBLE)/(nn + vv) pc
        |      FROM sc JOIN co USING (tok) CROSS JOIN ct
        |      JOIN st ON sc.source = st.source),
        |x AS (SELECT source, nst, vocab_src,
        |        CAST(ps*ln(pc) AS DECIMAL(18,12)) ce_term,
        |        CAST(ps*ln(ps/pc) AS DECIMAL(18,12)) kl_term FROM t)
        |SELECT source, max(nst) n_tokens, max(vocab_src) vocab_src,
        |  round(-CAST(sum(ce_term) AS DOUBLE)*1000000)/1000000
        |    AS cross_entropy,
        |  round(CAST(sum(kl_term) AS DOUBLE)*1000000)/1000000 AS kl_div
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q204_cube_revenue" ->
      """SELECT coalesce(l_returnflag, 'ALL') rflag,
        |  coalesce(l_linestatus, 'ALL') lstatus,
        |  CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS INT) gid,
        |  round(CAST(sum(CAST(l_extendedprice*(1 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE)*10000)/10000 AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY 3, 1, 2""".stripMargin,
    "q205_position_attribution" ->
      """WITH p AS (SELECT event_id purchase_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) p_ep
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id click_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) c_ep
        |  FROM events WHERE event_type = 'click'),
        |t AS (SELECT purchase_id, click_id, c_ep
        |      FROM p JOIN c USING (user_id)
        |      WHERE c_ep <= p_ep AND p_ep - c_ep <= 86400),
        |r AS (SELECT purchase_id, click_id,
        |        row_number() OVER (PARTITION BY purchase_id
        |          ORDER BY c_ep, click_id) rn,
        |        count(*) OVER (PARTITION BY purchase_id) k
        |      FROM t),
        |x AS (SELECT purchase_id,
        |        CASE WHEN k = 1 THEN 'single' WHEN rn = 1 THEN 'first'
        |             WHEN rn = k THEN 'last' ELSE 'middle' END touch_pos,
        |        CAST(round(CASE WHEN k = 1 THEN CAST(1.0 AS DOUBLE)
        |             WHEN k = 2 THEN CAST(0.5 AS DOUBLE)
        |             WHEN rn = 1 OR rn = k THEN CAST(0.4 AS DOUBLE)
        |             ELSE CAST(0.2 AS DOUBLE)/(k - 2) END*1e12)/1e12
        |          AS DECIMAL(28,12)) credit
        |      FROM r)
        |SELECT touch_pos, CAST(count(*) AS BIGINT) n_touches,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) n_purchases,
        |  round(CAST(sum(credit) AS DOUBLE)*1000000)/1000000 AS total_credit
        |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    "q206_jarque_bera" ->
      """WITH a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) s2,
        |    CAST(sum(CAST(value*value*value AS DECIMAL(38,6))) AS DOUBLE) s3,
        |    CAST(sum(CAST(value*value*value*value AS DECIMAL(38,6)))
        |      AS DOUBLE) s4
        |  FROM events GROUP BY 1),
        |b AS (SELECT event_type, n, CAST(n AS DOUBLE) nn,
        |        s1/CAST(n AS DOUBLE) mean, s2, s3, s4 FROM a),
        |c AS (SELECT event_type, n, nn, mean,
        |        s2/nn - mean*mean m2,
        |        s3/nn - 3.0*mean*(s2/nn) + 2.0*mean*mean*mean m3,
        |        s4/nn - 4.0*mean*(s3/nn) + 6.0*mean*mean*(s2/nn)
        |          - 3.0*mean*mean*mean*mean m4
        |      FROM b),
        |d AS (SELECT event_type, n, nn,
        |        CASE WHEN m2 > 0 THEN m3/(m2*sqrt(m2)) ELSE 0.0 END skew,
        |        CASE WHEN m2 > 0 THEN m4/(m2*m2) - 3.0 ELSE 0.0 END exkurt
        |      FROM c)
        |SELECT event_type, n,
        |  round(skew*1000000)/1000000 AS skewness,
        |  round(exkurt*1000000)/1000000 AS ex_kurtosis,
        |  round(nn/6.0*(skew*skew + exkurt*exkurt/4.0)*1000000)/1000000
        |    AS jb_stat
        |FROM d ORDER BY 1""".stripMargin,
    "q207_chi_square" ->
      """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(count(*) AS BIGINT) obs FROM orders GROUP BY 1, 2),
        |rt AS (SELECT o_orderpriority, CAST(sum(obs) AS BIGINT) rt
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT o_orderstatus, CAST(sum(obs) AS BIGINT) ct
        |       FROM cells GROUP BY 1),
        |dims AS (SELECT CAST(count(*) AS BIGINT) n_tot,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) n_rows,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) n_cols
        |  FROM orders),
        |j AS (SELECT c.o_orderpriority, c.o_orderstatus, c.obs, rt.rt,
        |        ct.ct, dims.n_tot, dims.n_rows, dims.n_cols
        |      FROM cells c JOIN rt USING (o_orderpriority)
        |      JOIN ct USING (o_orderstatus) CROSS JOIN dims),
        |e AS (SELECT *, CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)
        |        /CAST(n_tot AS DOUBLE) ex FROM j),
        |c2 AS (SELECT *, CAST((CAST(obs AS DOUBLE) - ex)
        |        *(CAST(obs AS DOUBLE) - ex)/ex AS DECIMAL(28,12)) contrib
        |      FROM e),
        |f AS (SELECT *, CAST(sum(contrib) OVER () AS DOUBLE) chi2 FROM c2)
        |SELECT o_orderpriority, o_orderstatus, obs,
        |  round(ex*1000000)/1000000 AS expected,
        |  round(CAST(contrib AS DOUBLE)*1000000)/1000000 AS contrib,
        |  round(chi2*1000000)/1000000 AS chi2,
        |  CAST((n_rows - 1)*(n_cols - 1) AS INT) AS dof,
        |  round(sqrt(chi2/(CAST(n_tot AS DOUBLE)
        |    *CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))
        |    *1000000)/1000000 AS cramers_v
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q208_anova_f" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) ng,
        |    sum(CAST(value AS DECIMAL(18,6))) sg,
        |    sum(CAST(value*value AS DECIMAL(28,6))) qg
        |  FROM events GROUP BY 1),
        |t AS (SELECT *, CAST(sum(ng) OVER () AS BIGINT) n_tot,
        |        sum(sg) OVER () s_tot FROM g),
        |u AS (SELECT *, CAST(s_tot AS DOUBLE)/CAST(n_tot AS DOUBLE) gm,
        |        CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE) mg FROM t),
        |v AS (SELECT n_tot,
        |        CAST(CAST(ng AS DOUBLE)*(mg - gm)*(mg - gm)
        |          AS DECIMAL(28,12)) ssb_t,
        |        CAST(CAST(qg AS DOUBLE) - CAST(ng AS DOUBLE)*mg*mg
        |          AS DECIMAL(28,12)) ssw_t
        |      FROM u),
        |w AS (SELECT n_tot, CAST(count(*) AS BIGINT) k,
        |        CAST(sum(ssb_t) AS DOUBLE) ssb,
        |        CAST(sum(ssw_t) AS DOUBLE) ssw
        |      FROM v GROUP BY 1)
        |SELECT k, n_tot AS n,
        |  round(ssb*1000000)/1000000 AS ss_between,
        |  round(ssw*1000000)/1000000 AS ss_within,
        |  CASE WHEN ssw > 0 THEN
        |    round((ssb/CAST(k - 1 AS DOUBLE))/(ssw/CAST(n_tot - k AS DOUBLE))
        |      *1000000)/1000000 ELSE 0.0 END AS f_stat,
        |  CASE WHEN ssb + ssw > 0 THEN
        |    round(ssb/(ssb + ssw)*1000000)/1000000 ELSE 0.0 END AS eta_sq
        |FROM w""".stripMargin,
    "q209_bartlett" ->
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) ng,
        |    sum(CAST(value AS DECIMAL(18,6))) sg,
        |    sum(CAST(value*value AS DECIMAL(28,6))) qg
        |  FROM events GROUP BY 1),
        |u AS (SELECT *, CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE) mg FROM g),
        |v AS (SELECT *,
        |        (CAST(qg AS DOUBLE) - CAST(ng AS DOUBLE)*mg*mg)
        |          /CAST(ng - 1 AS DOUBLE) vg,
        |        CAST(CAST(qg AS DOUBLE) - CAST(ng AS DOUBLE)*mg*mg
        |          AS DECIMAL(28,12)) ssw_t
        |      FROM u),
        |x AS (SELECT *,
        |        CAST(CAST(ng - 1 AS DOUBLE)*ln(vg) AS DECIMAL(28,12)) ln_t,
        |        CAST(1.0/CAST(ng - 1 AS DOUBLE) AS DECIMAL(28,18)) inv_t
        |      FROM v),
        |y AS (SELECT CAST(count(*) AS BIGINT) k, CAST(sum(ng) AS BIGINT) n,
        |        CAST(sum(ssw_t) AS DOUBLE) ssw,
        |        CAST(sum(ln_t) AS DOUBLE) sum_ln,
        |        CAST(sum(inv_t) AS DOUBLE) sum_inv
        |      FROM x),
        |z AS (SELECT *, ssw/CAST(n - k AS DOUBLE) pooled_var FROM y)
        |SELECT k, n,
        |  round(pooled_var*1000000)/1000000 AS pooled_var,
        |  round((CAST(n - k AS DOUBLE)*ln(pooled_var) - sum_ln)
        |    /(1.0 + (sum_inv - 1.0/CAST(n - k AS DOUBLE))
        |      /(3.0*CAST(k - 1 AS DOUBLE)))*1000000)/1000000
        |    AS bartlett_stat
        |FROM z""".stripMargin,
    "q210_cohens_d" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |              value FROM events),
        |g AS (SELECT event_type, value,
        |        ((e // 86400 + 4) % 7) IN (0, 6) we FROM ev),
        |m AS (SELECT event_type,
        |        CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) n_wd,
        |        CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) n_we,
        |        sum(CASE WHEN NOT we THEN CAST(value AS DECIMAL(18,6)) END) s_wd,
        |        sum(CASE WHEN we THEN CAST(value AS DECIMAL(18,6)) END) s_we,
        |        sum(CASE WHEN NOT we
        |              THEN CAST(value * value AS DECIMAL(28,6)) END) q_wd,
        |        sum(CASE WHEN we
        |              THEN CAST(value * value AS DECIMAL(28,6)) END) q_we
        |      FROM g GROUP BY 1),
        |d AS (SELECT event_type, n_wd, n_we,
        |        CAST(s_wd AS DOUBLE) / n_wd m_wd,
        |        CAST(s_we AS DOUBLE) / n_we m_we,
        |        CAST(q_wd AS DOUBLE) - n_wd * (CAST(s_wd AS DOUBLE) / n_wd)
        |          * (CAST(s_wd AS DOUBLE) / n_wd) ss_wd,
        |        CAST(q_we AS DOUBLE) - n_we * (CAST(s_we AS DOUBLE) / n_we)
        |          * (CAST(s_we AS DOUBLE) / n_we) ss_we
        |      FROM m),
        |p AS (SELECT *, sqrt((ss_wd + ss_we)
        |        /CAST(n_wd + n_we - 2 AS DOUBLE)) pooled_sd FROM d)
        |SELECT event_type, n_wd, n_we,
        |  round(m_wd*1000000)/1000000 AS mean_wd,
        |  round(m_we*1000000)/1000000 AS mean_we,
        |  round(pooled_sd*1000000)/1000000 AS pooled_sd,
        |  CASE WHEN pooled_sd > 0 THEN
        |    round((m_wd - m_we)/pooled_sd*1000000)/1000000
        |    ELSE 0.0 END AS cohens_d
        |FROM p ORDER BY event_type""".stripMargin,
    "q211_partial_corr" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |ka AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) k
        |       FROM daily),
        |pd AS (SELECT d FROM daily GROUP BY d
        |       HAVING count(*) = (SELECT k FROM ka)),
        |panel AS (SELECT daily.event_type, daily.d, daily.m
        |          FROM daily JOIN pd USING (d)),
        |j AS (SELECT a.event_type ta, b.event_type tb, a.m ma, b.m mb
        |      FROM panel a JOIN panel b ON a.d = b.d
        |        AND a.event_type < b.event_type),
        |g AS (SELECT ta, tb, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(ma AS DECIMAL(28,12))) AS DOUBLE) sa,
        |        CAST(sum(CAST(mb AS DECIMAL(28,12))) AS DOUBLE) sb,
        |        CAST(sum(CAST(ma*mb AS DECIMAL(28,12))) AS DOUBLE) sab,
        |        CAST(sum(CAST(ma*ma AS DECIMAL(28,12))) AS DOUBLE) saa,
        |        CAST(sum(CAST(mb*mb AS DECIMAL(28,12))) AS DOUBLE) sbb
        |      FROM j GROUP BY 1, 2),
        |rr AS (SELECT ta, tb, n,
        |        CASE WHEN (saa - sa*sa/n)*(sbb - sb*sb/n) > 0 THEN
        |          (sab - sa*sb/n)/sqrt((saa - sa*sa/n)*(sbb - sb*sb/n))
        |          ELSE 0.0 END r
        |       FROM g),
        |rs AS (SELECT ta, tb, n, r FROM rr
        |       UNION ALL SELECT tb, ta, n, r FROM rr)
        |SELECT p.ta AS x, p.tb AS y, xz.tb AS z, p.n,
        |  round(p.r*1000000)/1000000 AS r_xy,
        |  CASE WHEN (1.0 - xz.r*xz.r)*(1.0 - yz.r*yz.r) > 0 THEN
        |    round((p.r - xz.r*yz.r)/sqrt((1.0 - xz.r*xz.r)
        |      *(1.0 - yz.r*yz.r))*1000000)/1000000
        |    ELSE 0.0 END AS partial_r
        |FROM rs p JOIN rs xz ON xz.ta = p.ta
        |JOIN rs yz ON yz.ta = p.tb AND yz.tb = xz.tb
        |WHERE p.ta < p.tb AND xz.tb <> p.tb
        |ORDER BY 1, 2, 3""".stripMargin,
    "q212_block_maxima" ->
      """WITH b AS (SELECT event_type,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) // 30 blk,
        |    max(value) mx
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n_blocks,
        |    CAST(sum(CAST(mx AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(mx*mx AS DECIMAL(28,6))) AS DOUBLE) s2
        |  FROM b GROUP BY 1),
        |c AS (SELECT event_type, n_blocks, CAST(n_blocks AS DOUBLE) nb,
        |        s1/CAST(n_blocks AS DOUBLE) mean_mx, s2 FROM a),
        |d AS (SELECT *, sqrt((s2 - nb*mean_mx*mean_mx)
        |        /CAST(n_blocks - 1 AS DOUBLE)) sd_mx FROM c),
        |e AS (SELECT *, sd_mx*sqrt(6.0)/3.141592653589793 beta FROM d),
        |f AS (SELECT *, mean_mx - 0.5772156649015329*beta mu FROM e)
        |SELECT event_type, n_blocks,
        |  round(mean_mx*1000000)/1000000 AS mean_max,
        |  round(sd_mx*1000000)/1000000 AS sd_max,
        |  round(mu*1000000)/1000000 AS gumbel_loc,
        |  round(beta*1000000)/1000000 AS gumbel_scale,
        |  round((mu - beta*ln(-ln(0.99)))*1000000)/1000000 AS rl100
        |FROM f ORDER BY 1""".stripMargin,
    "q213_hill_tail" ->
      """WITH t AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) rn
        |  FROM events),
        |thr AS (SELECT event_type, value x_thr FROM t WHERE rn = 101),
        |s AS (SELECT t.event_type, x_thr, CAST(count(*) AS BIGINT) k_used,
        |        CAST(sum(CAST(ln(value/x_thr) AS DECIMAL(28,12)))
        |          AS DOUBLE) sum_ln
        |      FROM t JOIN thr USING (event_type)
        |      WHERE rn <= 100 GROUP BY 1, 2)
        |SELECT event_type, k_used,
        |  round(x_thr*1000000)/1000000 AS threshold,
        |  round(sum_ln/CAST(k_used AS DOUBLE)*1000000)/1000000 AS inv_alpha,
        |  round(CAST(k_used AS DOUBLE)/sum_ln*1000000)/1000000 AS hill_alpha
        |FROM s ORDER BY 1""".stripMargin,
    "q214_records_census" ->
      """WITH o AS (SELECT event_type, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |r AS (SELECT event_type, value,
        |        max(value) OVER (PARTITION BY event_type ORDER BY e, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pm
        |      FROM o),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CASE WHEN pm IS NULL OR value > pm
        |          THEN 1 ELSE 0 END) AS BIGINT) n_records
        |      FROM r GROUP BY 1)
        |SELECT event_type, n, n_records,
        |  round((ln(CAST(n AS DOUBLE)) + 0.5772156649015329)
        |    *1000000)/1000000 AS expected_iid,
        |  round(CAST(n_records AS DOUBLE)
        |    /(ln(CAST(n AS DOUBLE)) + 0.5772156649015329)
        |    *1000000)/1000000 AS ratio
        |FROM g ORDER BY 1""".stripMargin,
    "q215_turning_points" ->
      """WITH o AS (SELECT event_type, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |d AS (SELECT event_type, value,
        |        value - lag(value) OVER w d1,
        |        lead(value) OVER w - value d2
        |      FROM o WINDOW w AS (PARTITION BY event_type
        |        ORDER BY e, event_id)),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CASE WHEN d1*d2 < 0 THEN 1 ELSE 0 END)
        |          AS BIGINT) n_turning
        |      FROM d GROUP BY 1),
        |x AS (SELECT *, 2.0*CAST(n - 2 AS DOUBLE)/3.0 expected,
        |        (16.0*CAST(n AS DOUBLE) - 29.0)/90.0 variance FROM g)
        |SELECT event_type, n, n_turning,
        |  round(expected*1000000)/1000000 AS expected,
        |  round((CAST(n_turning AS DOUBLE) - expected)/sqrt(variance)
        |    *1000000)/1000000 AS z_score
        |FROM x ORDER BY 1""".stripMargin,
    "q216_unpivot_measures" ->
      """WITH m AS (SELECT 'quantity' measure, l_quantity val FROM lineitem
        | UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
        | UNION ALL SELECT 'discount', l_discount FROM lineitem
        | UNION ALL SELECT 'tax', l_tax FROM lineitem),
        |g AS (SELECT measure, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(val AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(val*val AS DECIMAL(28,6))) AS DOUBLE) s2,
        |    min(val) mn, max(val) mx FROM m GROUP BY 1),
        |x AS (SELECT measure, n, s1/CAST(n AS DOUBLE) mean, s2, mn, mx
        |      FROM g)
        |SELECT measure, n,
        |  round(mean*10000)/10000 AS mean,
        |  round(sqrt((s2 - CAST(n AS DOUBLE)*mean*mean)
        |    /CAST(n - 1 AS DOUBLE))*10000)/10000 AS sd,
        |  round(mn*10000)/10000 AS min_val,
        |  round(mx*10000)/10000 AS max_val
        |FROM x ORDER BY measure""".stripMargin,
    "q217_range_frame_revenue" ->
      """WITH daily AS (SELECT o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 d,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) day_rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey, d,
        |  round(CAST(day_rev AS DOUBLE)*10000)/10000 AS day_rev,
        |  round(CAST(sum(day_rev) OVER w AS DOUBLE)*10000)/10000 AS rev30,
        |  CAST(count(*) OVER w AS BIGINT) days30
        |FROM daily WINDOW w AS (PARTITION BY o_custkey ORDER BY d
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,
    "q218_mom_growth" ->
      """WITH monthly AS (SELECT n_name nation,
        |    CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT) ym,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, ym,
        |  round(CAST(rev AS DOUBLE)*10000)/10000 AS revenue,
        |  round((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
        |    /CAST(lag(rev) OVER w AS DOUBLE)*1000000)/1000000 AS mom_pct,
        |  round(CAST(sum(rev) OVER (w ROWS BETWEEN 2 PRECEDING
        |      AND CURRENT ROW) AS DOUBLE)
        |    /CAST(count(*) OVER (w ROWS BETWEEN 2 PRECEDING
        |      AND CURRENT ROW) AS DOUBLE)*10000)/10000 AS ma3
        |FROM monthly WINDOW w AS (PARTITION BY nation ORDER BY ym)
        |ORDER BY 1, 2""".stripMargin,
    "q219_modularity" -> modularityOracle(4),
    "q220_grouping_sets" ->
      """WITH li AS (SELECT l_returnflag, l_linestatus,
        |    CAST(year(l_shipdate) AS INT) l_year,
        |    l_extendedprice, l_discount FROM lineitem)
        |SELECT coalesce(l_returnflag, 'ALL') rflag,
        |  coalesce(l_linestatus, 'ALL') lstatus,
        |  coalesce(CAST(l_year AS VARCHAR), 'ALL') yr,
        |  CAST(GROUPING(l_returnflag)*4 + GROUPING(l_linestatus)*2
        |    + GROUPING(l_year) AS INT) gid,
        |  round(CAST(sum(CAST(l_extendedprice*(1 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE)*10000)/10000 AS revenue,
        |  count(*) AS n
        |FROM li GROUP BY GROUPING SETS ((l_returnflag, l_year),
        |  (l_linestatus, l_year), (l_year), ())
        |ORDER BY 4, 1, 2, 3""".stripMargin,
    "q221_naive_bayes" ->
      """WITH d0 AS (SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |tk AS (SELECT doc_id, source, unnest(string_split(t, ' ')) tok
        |       FROM d0),
        |tf AS (SELECT doc_id, source, tok FROM tk WHERE length(tok) > 0),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) cnt
        |       FROM tf GROUP BY 1, 2),
        |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) ns
        |       FROM tf GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(ns) AS BIGINT) n_src
        |         FROM st GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) v FROM st),
        |pri AS (SELECT source, CAST(count(*) AS BIGINT) docs_src
        |        FROM documents GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
        |grid AS (SELECT tks.tok, stot.source,
        |    ln(CAST(coalesce(st.ns, 0) + 1 AS DOUBLE)
        |      /CAST(stot.n_src + vv.v AS DOUBLE)) ll
        |  FROM (SELECT DISTINCT tok FROM st) tks
        |  CROSS JOIN stot
        |  LEFT JOIN st ON st.source = stot.source AND st.tok = tks.tok
        |  CROSS JOIN vv),
        |sc AS (SELECT dt.doc_id, grid.source,
        |    CAST(sum(CAST(CAST(cnt AS DOUBLE)*ll AS DECIMAL(28,12)))
        |      AS DOUBLE) s
        |  FROM dt JOIN grid ON dt.tok = grid.tok GROUP BY 1, 2),
        |pv AS (SELECT pri.source,
        |    ln(CAST(docs_src AS DOUBLE)/CAST(n_docs AS DOUBLE)) lp
        |  FROM pri CROSS JOIN nd),
        |fin AS (SELECT sc.doc_id, sc.source, pv.lp + sc.s score
        |        FROM sc JOIN pv ON sc.source = pv.source),
        |best AS (SELECT doc_id, source predicted FROM (
        |    SELECT doc_id, source,
        |      row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, source) rn
        |    FROM fin) WHERE rn = 1)
        |SELECT d.source actual, b.predicted,
        |  CAST(count(*) AS BIGINT) n_docs
        |FROM documents d JOIN best b ON d.doc_id = b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q222_tokenizer_fertility" ->
      """WITH d0 AS (SELECT source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |tk AS (SELECT source, unnest(string_split(t, ' ')) tok FROM d0),
        |tf AS (SELECT source, tok FROM tk WHERE length(tok) > 0),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) n_words,
        |    CAST(sum((length(tok) + 3)//4) AS BIGINT) n_pieces,
        |    CAST(sum(length(tok)) AS BIGINT) n_chars,
        |    CAST(sum(CASE WHEN length(tok) > 8 THEN 1 ELSE 0 END)
        |      AS BIGINT) n_long
        |  FROM tf GROUP BY 1)
        |SELECT source, n_words, n_pieces,
        |  round(CAST(n_pieces AS DOUBLE)/CAST(n_words AS DOUBLE)
        |    *1000000)/1000000 AS fertility,
        |  round(CAST(n_chars AS DOUBLE)/CAST(n_words AS DOUBLE)
        |    *10000)/10000 AS avg_word_len,
        |  round(CAST(n_long AS DOUBLE)/CAST(n_words AS DOUBLE)
        |    *1000000)/1000000 AS long_word_frac
        |FROM g ORDER BY source""".stripMargin,
    "q223_filtered_ann" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |         embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS (SELECT vec_id,
        |        sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |keep AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |d AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10
        |        AND p.vec_id <> c.vec_id
        |      JOIN keep ON c.vec_id = keep.doc_id
        |      GROUP BY 1, 2),
        |sc AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
        |       FROM d JOIN n np ON probe_id = np.vec_id
        |       JOIN n nc ON neighbor_id = nc.vec_id),
        |r AS (SELECT probe_id, neighbor_id, cos,
        |        CAST(row_number() OVER (PARTITION BY probe_id
        |          ORDER BY cos DESC, neighbor_id) AS INT) rnk
        |      FROM sc)
        |SELECT probe_id, rnk, neighbor_id, round(cos, 6) cosine
        |FROM r WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin,
    "q224_mann_kendall" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |ds AS (SELECT event_type, d, m, (d + 4) % 7 season FROM daily),
        |p AS (SELECT a.event_type,
        |        CASE WHEN b.m > a.m THEN 1 WHEN b.m < a.m THEN -1
        |             ELSE 0 END sg
        |      FROM ds a JOIN ds b ON a.event_type = b.event_type
        |        AND a.season = b.season AND a.d < b.d),
        |s AS (SELECT event_type, CAST(sum(sg) AS BIGINT) s_stat
        |      FROM p GROUP BY 1),
        |ng AS (SELECT event_type,
        |        CAST(sum(n_g*(n_g - 1)*(2*n_g + 5)) AS BIGINT) raw
        |      FROM (SELECT event_type, season, CAST(count(*) AS BIGINT) n_g
        |            FROM ds GROUP BY 1, 2) GROUP BY 1),
        |tt AS (SELECT event_type,
        |        CAST(sum(t*(t - 1)*(2*t + 5)) AS BIGINT) tie_raw
        |      FROM (SELECT event_type, season, m, CAST(count(*) AS BIGINT) t
        |            FROM ds GROUP BY 1, 2, 3 HAVING count(*) > 1)
        |      GROUP BY 1),
        |nd AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days
        |       FROM ds GROUP BY 1),
        |v AS (SELECT nd.event_type, n_days, s_stat,
        |        CAST(ng.raw - coalesce(tie_raw, 0) AS DOUBLE)/18.0 var_s,
        |        CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1
        |             ELSE 0 END sgn
        |      FROM nd JOIN s USING (event_type) JOIN ng USING (event_type)
        |      LEFT JOIN tt USING (event_type))
        |SELECT event_type, n_days, s_stat,
        |  round(var_s*1000000)/1000000 AS var_s,
        |  CASE WHEN var_s > 0 THEN
        |    round(CAST(s_stat - sgn AS DOUBLE)/sqrt(var_s)*1000000)/1000000
        |    ELSE 0.0 END AS z_score
        |FROM v ORDER BY 1""".stripMargin,
    "q225_pot_exceedances" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n
        |  FROM events),
        |thr AS (SELECT event_type, value thr, n FROM r
        |        WHERE rn = (19*n + 19)//20),
        |x AS (SELECT r.event_type, r.value, t.thr
        |      FROM r JOIN thr t ON r.event_type = t.event_type
        |      WHERE r.value > t.thr),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_exceed,
        |        sum(CAST(value - thr AS DECIMAL(18,6))) s_exc
        |      FROM x GROUP BY 1),
        |f AS (SELECT g.event_type, t.n, t.thr, n_exceed,
        |        CAST(s_exc AS DOUBLE)/CAST(n_exceed AS DOUBLE) mean_excess
        |      FROM g JOIN thr t ON g.event_type = t.event_type)
        |SELECT event_type, n,
        |  round(thr*1000000)/1000000 AS threshold, n_exceed,
        |  round(mean_excess*1000000)/1000000 AS mean_excess,
        |  round(1.0/mean_excess*1000000)/1000000 AS exp_rate,
        |  round(CAST(n_exceed AS DOUBLE)/CAST(n AS DOUBLE)
        |    *1000000)/1000000 AS frac_exceed
        |FROM f ORDER BY 1""".stripMargin,
    "q226_nprobe_curve" -> nprobeCurveOracle(Seq(1, 2, 4)),
    "q227_logreg_newton" -> logregOracle(4),
    "q228_sax_motifs" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/3600) AS BIGINT) h,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) nh,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(m*m AS DECIMAL(28,12))) AS DOUBLE) s2
        |  FROM hourly GROUP BY 1),
        |ms AS (SELECT event_type, s1/CAST(nh AS DOUBLE) mu,
        |    sqrt((s2 - CAST(nh AS DOUBLE)*(s1/CAST(nh AS DOUBLE))
        |      *(s1/CAST(nh AS DOUBLE)))/CAST(nh - 1 AS DOUBLE)) sd
        |  FROM mom),
        |sym AS (SELECT hourly.event_type, h,
        |    CASE WHEN (m - mu)/sd < -0.6744897501960817 THEN 0
        |         WHEN (m - mu)/sd < 0 THEN 1
        |         WHEN (m - mu)/sd < 0.6744897501960817 THEN 2
        |         ELSE 3 END s
        |  FROM hourly JOIN ms ON hourly.event_type = ms.event_type),
        |wd AS (SELECT event_type,
        |    s*16 + (lead(s, 1) OVER w)*4 + (lead(s, 2) OVER w) word,
        |    lead(s, 2) OVER w ok
        |  FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |cnt AS (SELECT event_type, word, CAST(count(*) AS BIGINT) n
        |        FROM wd WHERE ok IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT event_type, word, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, word) AS INT) rnk
        |  FROM cnt)
        |SELECT event_type, rnk, CAST(word AS INT) word, n
        |FROM rk WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin,
    "q229_paragraph_dedup" ->
      """WITH d0 AS (SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |pa AS (SELECT doc_id, source, unnest(string_split(t, '. ')) para
        |       FROM d0),
        |pf AS (SELECT doc_id, source, para, md5(para) ph FROM pa
        |       WHERE length(para) >= 20),
        |sp AS (SELECT ph, CAST(count(DISTINCT doc_id) AS BIGINT)
        |         n_docs_with FROM pf GROUP BY 1),
        |j AS (SELECT pf.source, pf.para, pf.ph, sp.n_docs_with
        |      FROM pf JOIN sp ON pf.ph = sp.ph),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) n_paras,
        |    CAST(count(DISTINCT ph) AS BIGINT) n_distinct,
        |    CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END)
        |      AS BIGINT) n_shared,
        |    CAST(sum(CASE WHEN n_docs_with >= 2 THEN length(para)
        |      ELSE 0 END) AS BIGINT) shared_chars,
        |    CAST(sum(length(para)) AS BIGINT) total_chars
        |  FROM j GROUP BY 1)
        |SELECT source, n_paras, n_distinct, n_shared,
        |  round(CAST(n_shared AS DOUBLE)/CAST(n_paras AS DOUBLE)
        |    *1000000)/1000000 AS shared_frac,
        |  round(CAST(shared_chars AS DOUBLE)/CAST(total_chars AS DOUBLE)
        |    *1000000)/1000000 AS shared_char_frac
        |FROM g ORDER BY source""".stripMargin,
    "q230_json_props" ->
      """WITH p AS (SELECT event_type, value,
        |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) k
        |  FROM events),
        |b AS (SELECT event_type, value, k,
        |        CAST(k//10 AS INT)*10 k_bucket FROM p)
        |SELECT event_type, k_bucket, CAST(count(*) AS BIGINT) n,
        |  min(k) k_min, max(k) k_max,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    /count(*)*10000)/10000 AS avg_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q231_vector_profile" ->
      """WITH ix AS (SELECT vec_id, label, len(embedding) dim,
        |    unnest(embedding) e FROM embeddings),
        |g AS (SELECT vec_id, label, dim,
        |    CAST(sum(CAST(abs(CAST(e AS DOUBLE)) AS DECIMAL(28,12)))
        |      AS DOUBLE) l1,
        |    max(abs(CAST(e AS DOUBLE))) linf,
        |    CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS INT) n_pos
        |  FROM ix GROUP BY 1, 2, 3)
        |SELECT vec_id, label, CAST(dim AS INT) dim,
        |  round(l1*1000000)/1000000 AS l1,
        |  round(linf*1000000)/1000000 AS linf, n_pos,
        |  round(l1/CAST(dim AS DOUBLE)*1000000)/1000000 AS mean_abs
        |FROM g ORDER BY vec_id""".stripMargin,
    "q232_window_tail" ->
      """SELECT user_id, event_id,
        |  round(percent_rank() OVER w*1000000)/1000000 AS pr,
        |  round(first_value(value) OVER (w ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW), 4) AS first_val,
        |  round(nth_value(value, 3) OVER (w ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW), 4) AS third_val
        |FROM (SELECT user_id, event_id, value,
        |        CAST(floor(epoch(ts)) AS BIGINT) e FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY e, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q233_rolling_corr" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/3600) AS BIGINT) h,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |j AS (SELECT a.h, a.m x, b.m y
        |      FROM hourly a JOIN hourly b ON a.h = b.h
        |      WHERE a.event_type = 'click' AND b.event_type = 'purchase'),
        |s AS (SELECT h,
        |    CAST(count(*) OVER w AS BIGINT) n24,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) OVER w AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) OVER w AS DOUBLE) sy,
        |    CAST(sum(CAST(x*y AS DECIMAL(28,12))) OVER w AS DOUBLE) sxy,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,12))) OVER w AS DOUBLE) sxx,
        |    CAST(sum(CAST(y*y AS DECIMAL(28,12))) OVER w AS DOUBLE) syy
        |  FROM j WINDOW w AS (ORDER BY h
        |    RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *, (n24*sxx - sx*sx)*(n24*syy - sy*sy) den
        |      FROM s WHERE n24 >= 12)
        |SELECT h, n24,
        |  CASE WHEN den > 0
        |    THEN round((n24*sxy - sx*sy)/sqrt(den)*1000000)/1000000
        |    ELSE 0.0 END AS corr24
        |FROM f ORDER BY h""".stripMargin,
    "q234_time_weighted_avg" ->
      """WITH o AS (SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |l AS (SELECT event_type, value, e,
        |        lag(e) OVER w pe, lag(value) OVER w pv
        |      FROM o WINDOW w AS (PARTITION BY event_type
        |        ORDER BY e, event_id)),
        |t AS (SELECT event_type, value,
        |        CAST(e - pe AS DOUBLE) dt,
        |        CAST(((pv + value)/2.0)*CAST(e - pe AS DOUBLE)
        |          AS DECIMAL(28,6)) trap
        |      FROM l),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) sv,
        |        CAST(sum(trap) AS DOUBLE) area,
        |        CAST(sum(CAST(dt AS DECIMAL(18,2))) AS DOUBLE) span
        |      FROM t GROUP BY 1)
        |SELECT event_type, n,
        |  round(sv/CAST(n AS DOUBLE)*10000)/10000 AS plain_mean,
        |  round(area/span*10000)/10000 AS twa,
        |  round((sv/CAST(n AS DOUBLE) - area/span)*10000)/10000
        |    AS sampling_bias
        |FROM g ORDER BY 1""".stripMargin,
    "q235_top_types_concat" ->
      """WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY n DESC, event_type) rnk
        |      FROM c)
        |SELECT user_id, CAST(sum(n) AS BIGINT) top3_events,
        |  string_agg(event_type || ':' || CAST(n AS VARCHAR), '|'
        |    ORDER BY n DESC, event_type) top_types
        |FROM r WHERE rnk <= 3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q236_column_profile" ->
      """WITH g AS (SELECT CAST(count(*) AS BIGINT) n_rows,
        |  CAST(count(*) - count(l_orderkey) AS BIGINT) c1n,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) c1d,
        |  CAST(min(l_orderkey) AS VARCHAR) c1mn,
        |  CAST(max(l_orderkey) AS VARCHAR) c1mx,
        |  CAST(count(*) - count(l_partkey) AS BIGINT) c2n,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) c2d,
        |  CAST(min(l_partkey) AS VARCHAR) c2mn,
        |  CAST(max(l_partkey) AS VARCHAR) c2mx,
        |  CAST(count(*) - count(l_quantity) AS BIGINT) c3n,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) c3d,
        |  CAST(min(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) c3mn,
        |  CAST(max(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) c3mx,
        |  CAST(count(*) - count(l_extendedprice) AS BIGINT) c4n,
        |  CAST(count(DISTINCT l_extendedprice) AS BIGINT) c4d,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) c4mn,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) c4mx,
        |  CAST(count(*) - count(l_returnflag) AS BIGINT) c5n,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) c5d,
        |  CAST(min(l_returnflag) AS VARCHAR) c5mn,
        |  CAST(max(l_returnflag) AS VARCHAR) c5mx,
        |  CAST(count(*) - count(l_shipdate) AS BIGINT) c6n,
        |  CAST(count(DISTINCT l_shipdate) AS BIGINT) c6d,
        |  CAST(min(l_shipdate) AS VARCHAR) c6mn,
        |  CAST(max(l_shipdate) AS VARCHAR) c6mx
        |  FROM lineitem)
        |SELECT 'l_orderkey' col_name, n_rows, c1n n_nulls, c1d n_distinct,
        |  c1mn min_s, c1mx max_s FROM g
        |UNION ALL SELECT 'l_partkey', n_rows, c2n, c2d, c2mn, c2mx FROM g
        |UNION ALL SELECT 'l_quantity', n_rows, c3n, c3d, c3mn, c3mx FROM g
        |UNION ALL SELECT 'l_extendedprice', n_rows, c4n, c4d, c4mn, c4mx
        |  FROM g
        |UNION ALL SELECT 'l_returnflag', n_rows, c5n, c5d, c5mn, c5mx FROM g
        |UNION ALL SELECT 'l_shipdate', n_rows, c6n, c6d, c6mn, c6mx FROM g
        |ORDER BY col_name""".stripMargin,
    "q237_fk_orphans" ->
      """WITH a1 AS (SELECT CAST(count(*) AS BIGINT) n_child FROM lineitem),
        |o1 AS (SELECT CAST(count(*) AS BIGINT) n_orphans FROM lineitem l
        |       WHERE NOT EXISTS (SELECT 1 FROM orders o
        |         WHERE o.o_orderkey = l.l_orderkey)),
        |a2 AS (SELECT CAST(count(*) AS BIGINT) n_child FROM orders),
        |o2 AS (SELECT CAST(count(*) AS BIGINT) n_orphans FROM orders r
        |       WHERE NOT EXISTS (SELECT 1 FROM customer c
        |         WHERE c.c_custkey = r.o_custkey)),
        |a3 AS (SELECT CAST(count(*) AS BIGINT) n_child FROM customer),
        |o3 AS (SELECT CAST(count(*) AS BIGINT) n_orphans FROM customer c
        |       WHERE NOT EXISTS (SELECT 1 FROM nation n
        |         WHERE n.n_nationkey = c.c_nationkey)),
        |u AS (SELECT 'lineitem->orders' relation, n_child, n_orphans
        |        FROM a1 CROSS JOIN o1
        |      UNION ALL SELECT 'orders->customer', n_child, n_orphans
        |        FROM a2 CROSS JOIN o2
        |      UNION ALL SELECT 'customer->nation', n_child, n_orphans
        |        FROM a3 CROSS JOIN o3)
        |SELECT relation, n_child, n_orphans,
        |  round(CAST(n_orphans AS DOUBLE)/CAST(n_child AS DOUBLE)
        |    *1000000)/1000000 AS orphan_frac
        |FROM u ORDER BY relation""".stripMargin,
    "q238_pareto_frontier" ->
      """WITH pp AS (SELECT l_partkey,
        |    min(CAST(l_extendedprice/l_quantity AS DECIMAL(18,6)))
        |      unit_price,
        |    max(l_quantity) max_qty
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1),
        |s AS (SELECT l_partkey, unit_price, max_qty,
        |        max(max_qty) OVER (ORDER BY unit_price, max_qty DESC,
        |          l_partkey ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND 1 PRECEDING) best_prior
        |      FROM pp)
        |SELECT l_partkey, round(CAST(unit_price AS DOUBLE), 4) unit_price,
        |  max_qty
        |FROM s WHERE best_prior IS NULL OR max_qty > best_prior
        |ORDER BY l_partkey""".stripMargin,
    "q239_ljung_box" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/3600) AS BIGINT) h,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |mu AS (SELECT event_type,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE)/count(*) mu
        |  FROM hourly GROUP BY 1),
        |d AS (SELECT hourly.event_type, h, m - mu d
        |      FROM hourly JOIN mu ON hourly.event_type = mu.event_type),
        |l AS (SELECT event_type, d,
        |        lag(d, 1) OVER w d1, lag(d, 2) OVER w d2,
        |        lag(d, 3) OVER w d3, lag(d, 4) OVER w d4,
        |        lag(d, 5) OVER w d5, lag(d, 6) OVER w d6
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_hours,
        |        CAST(sum(CAST(d*d AS DECIMAL(28,12))) AS DOUBLE) den,
        |        CAST(sum(CAST(d*d1 AS DECIMAL(28,12))) AS DOUBLE) num1,
        |        CAST(sum(CAST(d*d2 AS DECIMAL(28,12))) AS DOUBLE) num2,
        |        CAST(sum(CAST(d*d3 AS DECIMAL(28,12))) AS DOUBLE) num3,
        |        CAST(sum(CAST(d*d4 AS DECIMAL(28,12))) AS DOUBLE) num4,
        |        CAST(sum(CAST(d*d5 AS DECIMAL(28,12))) AS DOUBLE) num5,
        |        CAST(sum(CAST(d*d6 AS DECIMAL(28,12))) AS DOUBLE) num6
        |      FROM l GROUP BY 1),
        |f AS (SELECT event_type, n_hours, CAST(n_hours AS DOUBLE) nn, den,
        |        CASE WHEN den > 0 THEN num1/den ELSE 0.0 END r1,
        |        CASE WHEN den > 0 THEN num2/den ELSE 0.0 END r2,
        |        CASE WHEN den > 0 THEN num3/den ELSE 0.0 END r3,
        |        CASE WHEN den > 0 THEN num4/den ELSE 0.0 END r4,
        |        CASE WHEN den > 0 THEN num5/den ELSE 0.0 END r5,
        |        CASE WHEN den > 0 THEN num6/den ELSE 0.0 END r6
        |      FROM g)
        |SELECT event_type, n_hours,
        |  CASE WHEN den > 0 THEN round(r1*1000000)/1000000
        |       ELSE 0.0 END AS r1,
        |  CASE WHEN den > 0 THEN
        |    round(nn*(nn + 2.0)*(r1*r1/(nn - 1.0) + r2*r2/(nn - 2.0)
        |      + r3*r3/(nn - 3.0) + r4*r4/(nn - 4.0) + r5*r5/(nn - 5.0)
        |      + r6*r6/(nn - 6.0))*1000000)/1000000 ELSE 0.0 END AS q_lb
        |FROM f ORDER BY 1""".stripMargin,
    "q240_grubbs" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |mm AS (SELECT event_type, n, s1/CAST(n AS DOUBLE) mean, s2 FROM m),
        |ms AS (SELECT event_type, n, mean,
        |        sqrt((s2 - CAST(n AS DOUBLE)*mean*mean)
        |          /CAST(n - 1 AS DOUBLE)) sd
        |      FROM mm),
        |j AS (SELECT e.event_type, ms.n, ms.mean, ms.sd, e.event_id,
        |        e.value, abs(e.value - ms.mean) absdev
        |      FROM events e JOIN ms ON e.event_type = ms.event_type),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY absdev DESC, event_id) rn FROM j)
        |SELECT event_type, n,
        |  round(mean*1000000)/1000000 AS mean,
        |  round(sd*1000000)/1000000 AS sd,
        |  CASE WHEN sd > 0 THEN round(absdev/sd*1000000)/1000000
        |       ELSE 0.0 END AS g_stat,
        |  event_id AS worst_event_id,
        |  round(value*1000000)/1000000 AS worst_value
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q241_proportion_z" ->
      """WITH ev AS (SELECT event_type,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7)
        |      IN (0, 6) we
        |  FROM events),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) n1,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) x1
        |  FROM ev GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) nt,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) xt
        |  FROM ev),
        |f AS (SELECT event_type, n1, nt - n1 n2, x1, xt - x1 x2, nt, xt
        |      FROM per CROSS JOIN tot),
        |g AS (SELECT event_type, n1, n2,
        |        CAST(x1 AS DOUBLE)/CAST(n1 AS DOUBLE) p1,
        |        CAST(x2 AS DOUBLE)/CAST(n2 AS DOUBLE) p2,
        |        CAST(xt AS DOUBLE)/CAST(nt AS DOUBLE) pp
        |      FROM f)
        |SELECT event_type, n1 AS n_type,
        |  round(p1*1000000)/1000000 AS weekend_share,
        |  round(p2*1000000)/1000000 AS rest_share,
        |  CASE WHEN pp > 0 AND pp < 1 THEN
        |    round((p1 - p2)/sqrt(pp*(1.0 - pp)
        |      *(1.0/CAST(n1 AS DOUBLE) + 1.0/CAST(n2 AS DOUBLE)))
        |      *1000000)/1000000 ELSE 0.0 END AS z_score
        |FROM g ORDER BY event_type""".stripMargin,
    "q242_odds_ratio" ->
      """WITH ev AS (SELECT
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7)
        |      IN (0, 6) we,
        |    event_type = 'error' err
        |  FROM events),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN we AND err THEN 1 ELSE 0 END) AS BIGINT) a,
        |    CAST(sum(CASE WHEN we AND NOT err THEN 1 ELSE 0 END)
        |      AS BIGINT) b,
        |    CAST(sum(CASE WHEN NOT we AND err THEN 1 ELSE 0 END)
        |      AS BIGINT) c,
        |    CAST(sum(CASE WHEN NOT we AND NOT err THEN 1 ELSE 0 END)
        |      AS BIGINT) d
        |  FROM ev),
        |x AS (SELECT *,
        |        CAST(a AS DOUBLE)*CAST(d AS DOUBLE)
        |          /(CAST(b AS DOUBLE)*CAST(c AS DOUBLE)) or0,
        |        sqrt(1.0/CAST(a AS DOUBLE) + 1.0/CAST(b AS DOUBLE)
        |          + 1.0/CAST(c AS DOUBLE) + 1.0/CAST(d AS DOUBLE)) se
        |      FROM t)
        |SELECT a, b, c, d,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(or0*1000000)/1000000 END AS odds_ratio,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(exp(ln(or0) - 1.96*se)*1000000)/1000000 END AS ci_lo,
        |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
        |    round(exp(ln(or0) + 1.96*se)*1000000)/1000000 END AS ci_hi
        |FROM x""".stripMargin,
    "q243_weighted_median" ->
      """WITH pp AS (SELECT l_returnflag,
        |    CAST(l_extendedprice/l_quantity AS DECIMAL(18,6)) price,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) rev
        |  FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2),
        |w AS (SELECT l_returnflag, price, rev,
        |        sum(rev) OVER (PARTITION BY l_returnflag ORDER BY price
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
        |        sum(rev) OVER (PARTITION BY l_returnflag) tot
        |      FROM pp),
        |s AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |        ORDER BY price) rn
        |      FROM w WHERE cum*2 >= tot)
        |SELECT l_returnflag,
        |  round(CAST(price AS DOUBLE), 4) weighted_median_price,
        |  round(CAST(tot AS DOUBLE), 2) total_rev
        |FROM s WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,
    "q244_lorenz_deciles" ->
      """WITH cr AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
        |  FROM orders GROUP BY 1),
        |d AS (SELECT o_custkey, rev,
        |        CAST(ntile(10) OVER (ORDER BY rev, o_custkey) AS INT)
        |          decile
        |      FROM cr),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) n_cust,
        |        sum(rev) dec_rev FROM d GROUP BY 1),
        |c AS (SELECT *, sum(dec_rev) OVER (ORDER BY decile
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_rev,
        |        sum(dec_rev) OVER () tot_rev FROM g)
        |SELECT decile, n_cust,
        |  round(CAST(dec_rev AS DOUBLE), 2) decile_rev,
        |  round(CAST(cum_rev AS DOUBLE)/CAST(tot_rev AS DOUBLE)
        |    *1000000)/1000000 cum_share
        |FROM c ORDER BY decile""".stripMargin,
    "q245_entropy_rate" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) from_type
        |  FROM events),
        |t AS (SELECT from_type, event_type to_type,
        |        CAST(count(*) AS BIGINT) n
        |      FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) rt
        |      FROM t GROUP BY 1),
        |gg AS (SELECT CAST(sum(n) AS BIGINT) g FROM t),
        |h AS (SELECT t.from_type, r.rt,
        |        CAST(sum(CAST(-(CAST(n AS DOUBLE)/CAST(rt AS DOUBLE))
        |          *ln(CAST(n AS DOUBLE)/CAST(rt AS DOUBLE))
        |          AS DECIMAL(28,12))) AS DOUBLE) h_cond
        |      FROM t JOIN r ON t.from_type = r.from_type GROUP BY 1, 2),
        |x AS (SELECT from_type, rt, h_cond,
        |        CAST(rt AS DOUBLE)/CAST(g AS DOUBLE) pi,
        |        CAST(CAST(rt AS DOUBLE)/CAST(g AS DOUBLE)*h_cond
        |          AS DECIMAL(28,12)) term
        |      FROM h CROSS JOIN gg),
        |hr AS (SELECT CAST(sum(term) AS DOUBLE) h_rate FROM x)
        |SELECT from_type, rt AS n_from,
        |  round(pi*1000000)/1000000 AS pi,
        |  round(h_cond*1000000)/1000000 AS h_cond,
        |  round(h_rate*1000000)/1000000 AS h_rate
        |FROM x CROSS JOIN hr ORDER BY from_type""".stripMargin,
    "q246_hopping_peaks" ->
      """WITH o AS (SELECT event_type, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |wmap AS (SELECT event_type, value,
        |    (e//900 - gs.k)*900 win_start
        |  FROM o, generate_series(0, 3) gs(k)),
        |a AS (SELECT event_type, CAST(win_start AS BIGINT) win_start,
        |        CAST(count(*) AS BIGINT) n_events,
        |        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |          /count(*)*10000)/10000 avg_value
        |      FROM wmap GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |        ORDER BY n_events DESC, win_start) AS INT) rnk FROM a)
        |SELECT event_type, rnk, win_start, n_events, avg_value
        |FROM r WHERE rnk <= 3 ORDER BY 1, 2""".stripMargin,
    "q247_ols_normal_eq" ->
      """WITH f AS (SELECT l_orderkey,
        |    CAST(count(*) AS DOUBLE) x1,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) x2
        |  FROM lineitem GROUP BY 1),
        |xy AS (SELECT o_totalprice y, x1, x2
        |  FROM orders JOIN f ON o_orderkey = l_orderkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) s2,
        |    CAST(sum(CAST(x1*x1 AS DECIMAL(28,6))) AS DOUBLE) s11,
        |    CAST(sum(CAST(x1*x2 AS DECIMAL(28,6))) AS DOUBLE) s12,
        |    CAST(sum(CAST(x2*x2 AS DECIMAL(28,6))) AS DOUBLE) s22,
        |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x1*y AS DECIMAL(38,6))) AS DOUBLE) s1y,
        |    CAST(sum(CAST(x2*y AS DECIMAL(38,6))) AS DOUBLE) s2y,
        |    CAST(sum(CAST(y*y AS DECIMAL(38,4))) AS DOUBLE) syy
        |  FROM xy),
        |d AS (SELECT *, CAST(n AS DOUBLE) nn,
        |    CAST(n AS DOUBLE)*(s11*s22 - s12*s12)
        |      - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2) det,
        |    sy*(s11*s22 - s12*s12)
        |      - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y) det0,
        |    CAST(n AS DOUBLE)*(s1y*s22 - s12*s2y)
        |      - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2) det1,
        |    CAST(n AS DOUBLE)*(s11*s2y - s1y*s12)
        |      - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2) det2
        |  FROM m),
        |b AS (SELECT *, det0/det b0, det1/det b1, det2/det b2 FROM d),
        |e AS (SELECT *, syy - b0*sy - b1*s1y - b2*s2y sse,
        |    syy - sy*sy/nn sst FROM b)
        |SELECT n, round(b0*1000000)/1000000.0 AS beta0,
        |  round(b1*1000000)/1000000.0 AS beta1,
        |  round(b2*1000000)/1000000.0 AS beta2,
        |  round((1.0 - sse/sst)*1000000)/1000000.0 AS r2
        |FROM e""".stripMargin,
    "q248_decision_stump" ->
      """WITH pq AS (SELECT CAST(l_quantity AS INT) q,
        |    CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) pos
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT q, n, pos,
        |    CAST(sum(n) OVER (ORDER BY q) AS BIGINT) nl,
        |    CAST(sum(pos) OVER (ORDER BY q) AS BIGINT) pl
        |  FROM pq),
        |t AS (SELECT CAST(sum(n) AS BIGINT) nt, CAST(sum(pos) AS BIGINT) pt
        |  FROM pq),
        |g AS (SELECT q, nl, pl, nt - nl nr, pt - pl pr, nt, pt,
        |    round((
        |      -(CASE WHEN pt > 0 THEN CAST(pt AS DOUBLE)*ln(CAST(pt AS DOUBLE)/CAST(nt AS DOUBLE)) ELSE 0.0 END
        |        + CASE WHEN nt - pt > 0 THEN CAST(nt - pt AS DOUBLE)*ln(CAST(nt - pt AS DOUBLE)/CAST(nt AS DOUBLE)) ELSE 0.0 END)
        |      + (CASE WHEN pl > 0 THEN CAST(pl AS DOUBLE)*ln(CAST(pl AS DOUBLE)/CAST(nl AS DOUBLE)) ELSE 0.0 END
        |        + CASE WHEN nl - pl > 0 THEN CAST(nl - pl AS DOUBLE)*ln(CAST(nl - pl AS DOUBLE)/CAST(nl AS DOUBLE)) ELSE 0.0 END)
        |      + (CASE WHEN pt - pl > 0 THEN CAST(pt - pl AS DOUBLE)*ln(CAST(pt - pl AS DOUBLE)/CAST(nt - nl AS DOUBLE)) ELSE 0.0 END
        |        + CASE WHEN (nt - nl) - (pt - pl) > 0 THEN CAST((nt - nl) - (pt - pl) AS DOUBLE)*ln(CAST((nt - nl) - (pt - pl) AS DOUBLE)/CAST(nt - nl AS DOUBLE)) ELSE 0.0 END))
        |      / CAST(nt AS DOUBLE) * 1e12)/1e12 gain
        |  FROM c, t WHERE nl < nt),
        |r AS (SELECT *, row_number() OVER (ORDER BY gain DESC, q) rnk FROM g)
        |SELECT q AS threshold, round(gain*1000000)/1000000.0 AS gain,
        |  nl AS n_left, pl AS pos_left, nr AS n_right, pr AS pos_right
        |FROM r WHERE rnk = 1""".stripMargin,
    "q249_period_set_ops" ->
      """WITH u1 AS (SELECT DISTINCT user_id FROM events
        |    WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |u2 AS (SELECT DISTINCT user_id FROM events
        |    WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
        |SELECT 'both' AS segment, CAST(count(*) AS BIGINT) n_users
        |  FROM (SELECT * FROM u1 INTERSECT SELECT * FROM u2)
        |UNION ALL
        |SELECT 'only_first', CAST(count(*) AS BIGINT)
        |  FROM (SELECT * FROM u1 EXCEPT SELECT * FROM u2)
        |UNION ALL
        |SELECT 'only_second', CAST(count(*) AS BIGINT)
        |  FROM (SELECT * FROM u2 EXCEPT SELECT * FROM u1)
        |UNION ALL
        |SELECT 'either', CAST(count(*) AS BIGINT)
        |  FROM (SELECT * FROM u1 UNION SELECT * FROM u2)
        |ORDER BY segment""".stripMargin,
    "q250_rolling_distinct" ->
      """WITH du AS (SELECT DISTINCT
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dy, user_id FROM events),
        |mx AS (SELECT max(dy) max_day FROM du),
        |w AS (SELECT dy + gs.k win_day, user_id
        |  FROM du, generate_series(0, 6) gs(k))
        |SELECT CAST(win_day AS BIGINT) AS day_num,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |FROM w, mx WHERE win_day <= max_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q251_holt_linear" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1),
        |r AS (
        |  SELECT d1.event_type, CAST(2 AS BIGINT) AS t, d2.m AS l,
        |    d2.m - d1.m AS b, CAST(0.0 AS DOUBLE) AS sae
        |  FROM idx d1 JOIN idx d2 ON d1.event_type = d2.event_type
        |    AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    round((0.5*d.m + 0.5*(r.l + r.b))*1e12)/1e12,
        |    round((0.3*(round((0.5*d.m + 0.5*(r.l + r.b))*1e12)/1e12 - r.l)
        |      + 0.7*r.b)*1e12)/1e12,
        |    r.sae + round(abs(d.m - (r.l + r.b))*1e12)/1e12
        |  FROM r JOIN idx d ON d.event_type = r.event_type
        |    AND d.rn = r.t + 1)
        |SELECT r.event_type, r.t AS n_days,
        |  round(r.l*1000000)/1000000.0 AS level,
        |  round(r.b*1000000)/1000000.0 AS trend,
        |  round((r.l + 7.0*r.b)*1000000)/1000000.0 AS forecast_7d,
        |  round((CASE WHEN r.t > 2 THEN r.sae/CAST(r.t - 2 AS DOUBLE)
        |    ELSE 0.0 END)*1000000)/1000000.0 AS mae
        |FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t
        |ORDER BY 1""".stripMargin,
    "q252_savitzky_golay" ->
      """WITH s AS (SELECT event_type, event_id, value,
        |    lag(value, 2) OVER w a, lag(value, 1) OVER w b,
        |    lead(value, 1) OVER w d, lead(value, 2) OVER w e
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
        |f AS (SELECT event_type, event_id, value,
        |    (-3.0*a + 12.0*b + 17.0*value + 12.0*d - 3.0*e)/35.0 smooth
        |  FROM s WHERE a IS NOT NULL AND e IS NOT NULL)
        |SELECT event_type, event_id,
        |  round(smooth*1000000)/1000000.0 + 0.0 AS smooth,
        |  round((value - smooth)*1000000)/1000000.0 + 0.0 AS resid
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q253_norm_funnel" ->
      """SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) u_raw,
        |  CAST(count(DISTINCT md5(trim(text))) AS BIGINT) u_trim,
        |  CAST(count(DISTINCT md5(lower(trim(text)))) AS BIGINT) u_lower,
        |  CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)),
        |    '\s+', ' ', 'g'))) AS BIGINT) u_ws,
        |  CAST(count(DISTINCT md5(regexp_replace(regexp_replace(
        |    lower(trim(text)), '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g')))
        |    AS BIGINT) u_alnum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q254_dup_inflation" ->
      """WITH hs AS (SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) h,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
        |      AS BIGINT) n_tok
        |  FROM documents),
        |k AS (SELECT h, min(doc_id) keeper FROM hs GROUP BY 1),
        |j AS (SELECT hs.*, k.keeper FROM hs JOIN k ON hs.h = k.h),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(n_tok) AS BIGINT) tokens_total,
        |    CAST(sum(CASE WHEN doc_id <> keeper THEN n_tok ELSE 0 END)
        |      AS BIGINT) tokens_dup
        |  FROM j GROUP BY 1)
        |SELECT source, n_docs, tokens_total, tokens_dup,
        |  tokens_total - tokens_dup AS tokens_kept,
        |  CASE WHEN tokens_total - tokens_dup > 0
        |    THEN round(CAST(tokens_total AS DOUBLE)
        |      /CAST(tokens_total - tokens_dup AS DOUBLE)*10000)/10000.0
        |    ELSE 0.0 END AS inflation
        |FROM a ORDER BY 1""".stripMargin,
    "q255_landmark_bfs" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |      FROM lineitem a JOIN lineitem b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |adj AS (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |verts AS (SELECT DISTINCT u AS id FROM adj),
        |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) dg
        |  FROM adj GROUP BY 1),
        |lm AS (SELECT id FROM deg ORDER BY dg DESC, id LIMIT 1),
        |r1 AS (SELECT DISTINCT v AS id FROM adj JOIN lm ON adj.u = lm.id),
        |r2 AS (SELECT DISTINCT a2.v AS id FROM adj a2 JOIN r1 ON a2.u = r1.id),
        |r3 AS (SELECT DISTINCT a3.v AS id FROM adj a3 JOIN r2 ON a3.u = r2.id),
        |d AS (SELECT vv.id, CAST(CASE
        |    WHEN vv.id IN (SELECT id FROM lm) THEN 0
        |    WHEN vv.id IN (SELECT id FROM r1) THEN 1
        |    WHEN vv.id IN (SELECT id FROM r2) THEN 2
        |    WHEN vv.id IN (SELECT id FROM r3) THEN 3
        |    ELSE -1 END AS INT) dist
        |  FROM verts vv)
        |SELECT dist, CAST(count(*) AS BIGINT) n_parts
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q256_edge_formation" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pp AS (SELECT a.l_orderkey ok, a.l_partkey u, b.l_partkey v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey),
        |pd AS (SELECT pp.u, pp.v, pp.ok, o.o_orderdate
        |  FROM pp JOIN orders o ON pp.ok = o.o_orderkey),
        |r AS (SELECT u, v, o_orderdate, row_number() OVER (
        |    PARTITION BY u, v ORDER BY o_orderdate, ok) rn FROM pd),
        |f AS (SELECT CAST(year(o_orderdate)*100 + month(o_orderdate) AS INT)
        |    ym FROM r WHERE rn = 2),
        |m AS (SELECT ym, CAST(count(*) AS BIGINT) edges_formed
        |  FROM f GROUP BY 1)
        |SELECT ym, edges_formed,
        |  CAST(sum(edges_formed) OVER (ORDER BY ym) AS BIGINT) edges_cum
        |FROM m ORDER BY 1""".stripMargin,
    "q257_knn_graph" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v
        |  FROM ix),
        |n AS (SELECT vec_id,
        |    sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |  FROM xx GROUP BY 1),
        |d AS (SELECT a.label, a.vec_id src, b.vec_id dst,
        |    CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM xx a JOIN xx b ON a.i = b.i AND a.label = b.label
        |    AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT label, src, dst, dot/(ns.nrm*nd.nrm) cos
        |  FROM d JOIN n ns ON src = ns.vec_id JOIN n nd ON dst = nd.vec_id),
        |r AS (SELECT label, src, dst, row_number() OVER (
        |    PARTITION BY src ORDER BY cos DESC, dst) rnk FROM sc),
        |knn AS (SELECT label, src, dst FROM r WHERE rnk <= 3),
        |mu AS (SELECT k1.label, k1.src FROM knn k1
        |  JOIN knn k2 ON k1.src = k2.dst AND k1.dst = k2.src),
        |nv AS (SELECT label, CAST(count(*) AS BIGINT) n_vecs
        |  FROM e GROUP BY 1),
        |ne AS (SELECT label, CAST(count(*) AS BIGINT) n_edges
        |  FROM knn GROUP BY 1),
        |nm AS (SELECT label, CAST(count(*) AS BIGINT) n_mutual
        |  FROM mu GROUP BY 1)
        |SELECT nv.label, n_vecs, coalesce(n_edges, 0) n_edges,
        |  coalesce(n_mutual, 0) n_mutual,
        |  CASE WHEN coalesce(n_edges, 0) > 0
        |    THEN round(CAST(coalesce(n_mutual, 0) AS DOUBLE)
        |      /CAST(n_edges AS DOUBLE)*10000)/10000.0
        |    ELSE 0.0 END AS mutual_frac
        |FROM nv LEFT JOIN ne ON nv.label = ne.label
        |  LEFT JOIN nm ON nv.label = nm.label
        |ORDER BY 1""".stripMargin,
    "q258_brown_forsythe" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |g AS (SELECT event_type, value,
        |    ((e // 86400 + 4) % 7) IN (0, 6) we FROM ev),
        |med AS (SELECT event_type, we,
        |    round(quantile_cont(value, 0.5)*1000000)/1000000.0 m
        |  FROM g GROUP BY 1, 2),
        |z AS (SELECT g.event_type, g.we, med.m, abs(g.value - med.m) z
        |  FROM g JOIN med ON g.event_type = med.event_type
        |    AND g.we = med.we),
        |a AS (SELECT event_type,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) n_wd,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) n_we,
        |    max(CASE WHEN NOT we THEN m END) med_wd,
        |    max(CASE WHEN we THEN m END) med_we,
        |    sum(CASE WHEN NOT we THEN CAST(z AS DECIMAL(28,12)) END) sz_wd,
        |    sum(CASE WHEN we THEN CAST(z AS DECIMAL(28,12)) END) sz_we,
        |    sum(CASE WHEN NOT we THEN CAST(z*z AS DECIMAL(28,12)) END) zz_wd,
        |    sum(CASE WHEN we THEN CAST(z*z AS DECIMAL(28,12)) END) zz_we
        |  FROM z GROUP BY 1),
        |b AS (SELECT *, CAST(sz_wd AS DOUBLE)/n_wd zb_wd,
        |    CAST(sz_we AS DOUBLE)/n_we zb_we,
        |    CAST(sz_wd + sz_we AS DOUBLE)/(n_wd + n_we) zb FROM a),
        |c AS (SELECT *,
        |    CAST(n_wd + n_we - 2 AS DOUBLE)
        |      * (n_wd*(zb_wd - zb)*(zb_wd - zb)
        |        + n_we*(zb_we - zb)*(zb_we - zb)) num,
        |    (CAST(zz_wd AS DOUBLE) - n_wd*zb_wd*zb_wd)
        |      + (CAST(zz_we AS DOUBLE) - n_we*zb_we*zb_we) den
        |  FROM b)
        |SELECT event_type, n_wd, n_we, med_wd, med_we,
        |  round((CASE WHEN den > 0 THEN num/den ELSE 0.0 END)
        |    *1000000)/1000000.0 AS f_stat
        |FROM c ORDER BY 1""".stripMargin,
    "q259_kmeans_fixed" -> kmeansOracle(iters = 2, k = 4),
    "q260_event_dedup" ->
      """WITH k AS (SELECT event_type, user_id, value,
        |    CAST(floor(epoch(ts)/300) AS BIGINT) bkt FROM events),
        |u AS (SELECT event_type, user_id, value, bkt,
        |    CAST(count(*) AS BIGINT) copies
        |  FROM k GROUP BY 1, 2, 3, 4),
        |a AS (SELECT event_type, CAST(sum(copies) AS BIGINT) n_raw,
        |    CAST(count(*) AS BIGINT) n_unique
        |  FROM u GROUP BY 1)
        |SELECT event_type, n_raw, n_unique,
        |  round(CAST(n_raw - n_unique AS DOUBLE)
        |    /CAST(n_raw AS DOUBLE)*10000)/10000.0 AS dup_rate
        |FROM a ORDER BY 1""".stripMargin,
    "q261_iqr_outliers" ->
      """WITH q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25)*1000000)/1000000.0 q1,
        |    round(quantile_cont(value, 0.75)*1000000)/1000000.0 q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT *, q1 - 1.5*(q3 - q1) lo, q3 + 1.5*(q3 - q1) hi
        |  FROM q),
        |a AS (SELECT e.event_type, CAST(count(*) AS BIGINT) n,
        |    max(f.q1) q1, max(f.q3) q3,
        |    CAST(sum(CASE WHEN e.value < f.lo THEN 1 ELSE 0 END)
        |      AS BIGINT) n_low,
        |    CAST(sum(CASE WHEN e.value > f.hi THEN 1 ELSE 0 END)
        |      AS BIGINT) n_high
        |  FROM events e JOIN f ON e.event_type = f.event_type
        |  GROUP BY 1)
        |SELECT event_type, n, q1, q3, n_low, n_high,
        |  round(CAST(n_low + n_high AS DOUBLE)/CAST(n AS DOUBLE)
        |    *10000)/10000.0 AS pct_out
        |FROM a ORDER BY 1""".stripMargin,
    "q262_readability" ->
      """WITH t AS (SELECT doc_id, lang, lower(text) tx FROM documents),
        |c AS (SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(tx, '[^.!?]+', 0)) AS BIGINT) n_sent,
        |    CAST(len(regexp_extract_all(tx, '[a-z0-9]+', 0)) AS BIGINT)
        |      n_words,
        |    CAST(len(regexp_extract_all(tx, '[aeiou]+', 0)) AS BIGINT) n_syll
        |  FROM t)
        |SELECT doc_id, lang, n_sent, n_words, n_syll,
        |  CASE WHEN n_sent > 0 AND n_words > 0
        |    THEN round((206.835
        |      - 1.015*(CAST(n_words AS DOUBLE)/CAST(n_sent AS DOUBLE))
        |      - 84.6*(CAST(n_syll AS DOUBLE)/CAST(n_words AS DOUBLE)))
        |      *10000)/10000.0
        |    ELSE 0.0 END AS flesch
        |FROM c ORDER BY 1""".stripMargin,
    "q263_grouped_ols" ->
      """WITH xy AS (SELECT p_brand, l_quantity x, l_extendedprice y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (SELECT p_brand, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,6))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,6))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(38,4))) AS DOUBLE) syy
        |  FROM xy GROUP BY 1),
        |s AS (SELECT *, CAST(n AS DOUBLE) nn,
        |    CAST(n AS DOUBLE)*sxx - sx*sx vx,
        |    CAST(n AS DOUBLE)*syy - sy*sy vy,
        |    (CAST(n AS DOUBLE)*sxy - sx*sy)/(CAST(n AS DOUBLE)*sxx - sx*sx)
        |      slope FROM m)
        |SELECT p_brand, n,
        |  round(slope*1000000)/1000000.0 AS slope,
        |  round((sy - slope*sx)/nn*1000000)/1000000.0 AS intercept,
        |  round((nn*sxy - sx*sy)*(nn*sxy - sx*sy)/(vx*vy)
        |    *1000000)/1000000.0 AS r2
        |FROM s ORDER BY 1""".stripMargin,
    "q264_rfm_segments" ->
      """WITH per AS (SELECT o_custkey,
        |    max(CAST(floor(epoch(o_orderdate)/86400) AS BIGINT)) last_day,
        |    CAST(count(*) AS BIGINT) freq,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) monetary
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY last_day DESC, o_custkey) AS INT)
        |      r_q,
        |    CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS INT) f_q,
        |    CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS INT)
        |      m_q
        |  FROM per)
        |SELECT CAST(r_q*100 + f_q*10 + m_q AS INT) AS segment,
        |  CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(monetary) AS DOUBLE)/count(*)*100)/100.0
        |    AS avg_monetary
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q265_binseg_two_level" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 AS DECIMAL(28,12)) md
        |  FROM events GROUP BY 1, 2),
        |base AS (SELECT event_type, d, md,
        |    CAST(row_number() OVER w AS BIGINT) rn,
        |    sum(md) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) cum,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) n,
        |    sum(md) OVER (PARTITION BY event_type) total
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |cand AS (SELECT *, CAST(cum AS DOUBLE)/rn mean_l,
        |    CAST(total - cum AS DOUBLE)/(n - rn) mean_r,
        |    abs(CAST(cum AS DOUBLE)/rn - CAST(total - cum AS DOUBLE)/(n - rn))
        |      shift
        |  FROM base WHERE rn >= 3 AND rn <= n - 3),
        |root AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY event_type ORDER BY shift DESC, rn) pick
        |    FROM cand) WHERE pick = 1),
        |sided AS (SELECT b.event_type, b.d, b.md,
        |    CASE WHEN b.rn <= root.rn THEN 'left' ELSE 'right' END side
        |  FROM base b JOIN root ON b.event_type = root.event_type),
        |base2 AS (SELECT event_type, side, d, md,
        |    CAST(row_number() OVER w2 AS BIGINT) rn,
        |    sum(md) OVER (w2 ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) cum,
        |    CAST(count(*) OVER (PARTITION BY event_type, side) AS BIGINT) n,
        |    sum(md) OVER (PARTITION BY event_type, side) total
        |  FROM sided
        |  WINDOW w2 AS (PARTITION BY event_type, side ORDER BY d)),
        |cand2 AS (SELECT *, CAST(cum AS DOUBLE)/rn mean_l,
        |    CAST(total - cum AS DOUBLE)/(n - rn) mean_r,
        |    abs(CAST(cum AS DOUBLE)/rn - CAST(total - cum AS DOUBLE)/(n - rn))
        |      shift
        |  FROM base2 WHERE rn >= 3 AND rn <= n - 3),
        |sub AS (SELECT * FROM (SELECT *, row_number() OVER (
        |      PARTITION BY event_type, side ORDER BY shift DESC, rn) pick
        |    FROM cand2) WHERE pick = 1),
        |allrows AS (
        |  SELECT event_type, 'root' AS "level", d, n, mean_l, mean_r, shift
        |    FROM root
        |  UNION ALL
        |  SELECT event_type, side, d, n, mean_l, mean_r, shift FROM sub)
        |SELECT event_type, "level", d AS split_day, n AS n_days,
        |  round(mean_l*1000000)/1000000.0 AS mean_l,
        |  round(mean_r*1000000)/1000000.0 AS mean_r,
        |  round(shift*1000000)/1000000.0 AS shift
        |FROM allrows ORDER BY 1, 2""".stripMargin,
    "q266_silhouette" ->
      """WITH e AS (SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |ix AS (SELECT vec_id, label, v,
        |    unnest(generate_series(1, len(v))) i FROM e),
        |xx AS (SELECT vec_id, label, i, v[i] x FROM ix),
        |cent AS (SELECT label clabel, i,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)/count(*) c
        |  FROM xx GROUP BY 1, 2),
        |vv AS (SELECT vec_id,
        |    CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE) dvv
        |  FROM xx GROUP BY 1),
        |cc AS (SELECT clabel,
        |    CAST(sum(CAST(c*c AS DECIMAL(18,16))) AS DOUBLE) dcc
        |  FROM cent GROUP BY 1),
        |dt AS (SELECT xx.vec_id, xx.label, cent.clabel,
        |    CAST(sum(CAST(xx.x*cent.c AS DECIMAL(18,16))) AS DOUBLE) dvc
        |  FROM xx JOIN cent ON xx.i = cent.i GROUP BY 1, 2, 3),
        |d2 AS (SELECT dt.vec_id, dt.label, dt.clabel,
        |    vv.dvv - 2.0*dt.dvc + cc.dcc d2
        |  FROM dt JOIN vv ON dt.vec_id = vv.vec_id
        |    JOIN cc ON dt.clabel = cc.clabel),
        |a AS (SELECT vec_id, label, d2 a2 FROM d2 WHERE clabel = label),
        |b AS (SELECT vec_id, min(d2) b2 FROM d2 WHERE clabel <> label
        |  GROUP BY 1),
        |s AS (SELECT a.vec_id, a.label,
        |    CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
        |      THEN (sqrt(b2) - sqrt(a2))/greatest(sqrt(a2), sqrt(b2))
        |      ELSE 0.0 END s
        |  FROM a JOIN b ON a.vec_id = b.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) n_vecs,
        |  round(CAST(sum(CAST(s AS DECIMAL(28,12))) AS DOUBLE)/count(*)
        |    *1000000)/1000000.0 AS mean_silhouette,
        |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    n_misplaced
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q267_tfidf_cosine" ->
      """WITH tok AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) tf
        |  FROM (SELECT doc_id, unnest(string_split(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) term
        |    FROM documents)
        |  GROUP BY 1, 2),
        |df0 AS (SELECT term, CAST(count(*) AS BIGINT) df FROM tok
        |  GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) n FROM documents),
        |dfq AS (SELECT term, df FROM df0, nn
        |  WHERE df*5 <= n AND df <= 1000),
        |w AS (SELECT doc_id, tok.term,
        |    round((tf*(ln((1.0 + n)/(1.0 + df)) + 1.0))*1e12)/1e12 w
        |  FROM tok JOIN dfq ON tok.term = dfq.term CROSS JOIN nn),
        |nrm AS (SELECT doc_id,
        |    sqrt(CAST(sum(CAST(round(w*w*1e12)/1e12 AS DECIMAL(28,12)))
        |      AS DOUBLE)) nrm
        |  FROM w GROUP BY 1),
        |dots AS (SELECT a.doc_id doc_a, b.doc_id doc_b,
        |    CAST(count(*) AS BIGINT) n_shared_terms,
        |    CAST(sum(CAST(round(a.w*b.w*1e12)/1e12 AS DECIMAL(28,12)))
        |      AS DOUBLE) dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sc AS (SELECT doc_a, doc_b, n_shared_terms,
        |    dot/(na.nrm*nb.nrm) cos
        |  FROM dots JOIN nrm na ON doc_a = na.doc_id
        |    JOIN nrm nb ON doc_b = nb.doc_id)
        |SELECT doc_a, doc_b, n_shared_terms,
        |  round(cos*1000000)/1000000.0 AS cosine
        |FROM sc WHERE cos >= 0.3 ORDER BY 1, 2""".stripMargin,
    "q268_negative_samples" ->
      """WITH d AS (SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) h,
        |    doc_id % 64 b
        |  FROM documents),
        |reps AS (SELECT b tb, min(doc_id) rep_id FROM d GROUP BY 1),
        |r2 AS (SELECT reps.tb, reps.rep_id, d.h rep_h
        |  FROM reps JOIN d ON reps.rep_id = d.doc_id),
        |c0 AS (SELECT d.doc_id, d.source, d.h, d.b, os.o
        |  FROM d, (SELECT unnest([1, 7, 31]) o) os),
        |cand AS (SELECT c0.doc_id, c0.source, c0.h, r2.rep_id, r2.rep_h
        |  FROM c0 JOIN r2 ON (c0.b + c0.o) % 64 = r2.tb)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) n_docs,
        |  CAST(sum(CASE WHEN rep_id <> doc_id AND rep_h <> h
        |    THEN 1 ELSE 0 END) AS BIGINT) n_negs,
        |  CAST(sum(CASE WHEN rep_id <> doc_id AND rep_h = h
        |    THEN 1 ELSE 0 END) AS BIGINT) n_dropped_dup,
        |  CAST(sum(CASE WHEN rep_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    n_dropped_self
        |FROM cand GROUP BY 1 ORDER BY 1""".stripMargin,
    "q269_dup_transitivity" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh
        |  FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig,
        |            count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b
        |  FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |adj AS (SELECT doc_a m, doc_b x FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |wedges AS (SELECT a1.m, a1.x, a2.x y FROM adj a1
        |  JOIN adj a2 ON a1.m = a2.m AND a1.x < a2.x),
        |closed AS (SELECT w.* FROM wedges w
        |  JOIN pairs p ON w.x = p.doc_a AND w.y = p.doc_b),
        |np AS (SELECT CAST(count(*) AS BIGINT) n_pairs FROM pairs),
        |nw AS (SELECT CAST(count(*) AS BIGINT) n_wedges FROM wedges),
        |nc AS (SELECT CAST(count(*) AS BIGINT) n_closed FROM closed)
        |SELECT n_pairs, n_wedges, n_closed,
        |  CASE WHEN n_wedges > 0
        |    THEN round(CAST(n_closed AS DOUBLE)/CAST(n_wedges AS DOUBLE)
        |      *10000)/10000.0
        |    ELSE 0.0 END AS closure_rate
        |FROM np, nw, nc""".stripMargin,
    "q270_calibration_bins" -> calibrationOracle(4),
    "q271_lifecycle_states" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(floor(floor(epoch(ts)/86400)/7) AS BIGINT) wk FROM events),
        |mx AS (SELECT max(wk) max_wk FROM uw),
        |lg AS (SELECT user_id, wk,
        |    lag(wk) OVER (PARTITION BY user_id ORDER BY wk) pwk,
        |    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) nwk
        |  FROM uw),
        |st AS (SELECT wk, CAST(count(*) AS BIGINT) n_active,
        |    CAST(sum(CASE WHEN pwk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      n_new,
        |    CAST(sum(CASE WHEN pwk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      n_retained,
        |    CAST(sum(CASE WHEN pwk IS NOT NULL AND pwk < wk - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) n_resurrected
        |  FROM lg GROUP BY 1),
        |ch AS (SELECT wk + 1 wk, CAST(count(*) AS BIGINT) n_churned
        |  FROM lg, mx
        |  WHERE (nwk IS NULL AND wk < max_wk) OR nwk > wk + 1
        |  GROUP BY 1)
        |SELECT wk, coalesce(n_active, 0) AS n_active,
        |  coalesce(n_new, 0) AS n_new,
        |  coalesce(n_retained, 0) AS n_retained,
        |  coalesce(n_resurrected, 0) AS n_resurrected,
        |  coalesce(n_churned, 0) AS n_churned
        |FROM st FULL JOIN ch USING (wk) ORDER BY 1""".stripMargin,
    "q272_mode_per_group" ->
      """WITH c AS (SELECT l_returnflag, CAST(l_quantity AS INT) q,
        |    CAST(count(*) AS BIGINT) cnt
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) n
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY cnt DESC, q) rn FROM c)
        |SELECT r.l_returnflag, q AS mode_qty, cnt AS mode_count, n,
        |  round(CAST(cnt AS DOUBLE)/CAST(n AS DOUBLE)*1000000)/1000000.0
        |    AS mode_share
        |FROM r JOIN t ON r.l_returnflag = t.l_returnflag
        |WHERE rn = 1 ORDER BY 1""".stripMargin,
    "q273_holt_winters" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1
        |  HAVING max(rn) >= 14),
        |piv AS (SELECT event_type,
        |    max(CASE WHEN rn = 1 THEN m END) m1,
        |    max(CASE WHEN rn = 2 THEN m END) m2,
        |    max(CASE WHEN rn = 3 THEN m END) m3,
        |    max(CASE WHEN rn = 4 THEN m END) m4,
        |    max(CASE WHEN rn = 5 THEN m END) m5,
        |    max(CASE WHEN rn = 6 THEN m END) m6,
        |    max(CASE WHEN rn = 7 THEN m END) m7,
        |    max(CASE WHEN rn = 8 THEN m END) m8,
        |    max(CASE WHEN rn = 9 THEN m END) m9,
        |    max(CASE WHEN rn = 10 THEN m END) m10,
        |    max(CASE WHEN rn = 11 THEN m END) m11,
        |    max(CASE WHEN rn = 12 THEN m END) m12,
        |    max(CASE WHEN rn = 13 THEN m END) m13,
        |    max(CASE WHEN rn = 14 THEN m END) m14
        |  FROM idx WHERE rn <= 14 GROUP BY 1 HAVING count(*) >= 14),
        |i0 AS (SELECT event_type, m1, m2, m3, m4, m5, m6, m7,
        |    round(((((((m1+m2)+m3)+m4)+m5)+m6)+m7)/7.0*1e12)/1e12 l,
        |    round(((((((m8+m9)+m10)+m11)+m12)+m13)+m14)/7.0*1e12)/1e12 w2
        |  FROM piv),
        |r AS (
        |  SELECT event_type, CAST(14 AS BIGINT) t, l,
        |    round((w2 - l)/7.0*1e12)/1e12 b,
        |    round((m1 - l)*1e12)/1e12 s0,
        |    round((m2 - l)*1e12)/1e12 s1,
        |    round((m3 - l)*1e12)/1e12 s2,
        |    round((m4 - l)*1e12)/1e12 s3,
        |    round((m5 - l)*1e12)/1e12 s4,
        |    round((m6 - l)*1e12)/1e12 s5,
        |    round((m7 - l)*1e12)/1e12 s6,
        |    CAST(0.0 AS DOUBLE) sae
        |  FROM i0
        |  UNION ALL
        |  SELECT event_type, t, lnew, bnew,
        |    CASE WHEN sidx = 0 THEN snew ELSE s0 END,
        |    CASE WHEN sidx = 1 THEN snew ELSE s1 END,
        |    CASE WHEN sidx = 2 THEN snew ELSE s2 END,
        |    CASE WHEN sidx = 3 THEN snew ELSE s3 END,
        |    CASE WHEN sidx = 4 THEN snew ELSE s4 END,
        |    CASE WHEN sidx = 5 THEN snew ELSE s5 END,
        |    CASE WHEN sidx = 6 THEN snew ELSE s6 END,
        |    saenew
        |  FROM (SELECT *,
        |      round((0.2*(lnew - l) + 0.8*b)*1e12)/1e12 bnew,
        |      round((0.3*(x - lnew) + 0.7*scur)*1e12)/1e12 snew,
        |      sae + round(abs(x - (l + b + scur))*1e12)/1e12 saenew
        |    FROM (SELECT *,
        |        round((0.4*(x - scur) + 0.6*(l + b))*1e12)/1e12 lnew
        |      FROM (SELECT r.event_type, r.t + 1 t, d.m x, r.l, r.b,
        |          r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6, r.sae,
        |          CAST(r.t % 7 AS INT) sidx,
        |          CASE CAST(r.t % 7 AS INT) WHEN 0 THEN r.s0
        |            WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3
        |            WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END scur
        |        FROM r JOIN idx d ON d.event_type = r.event_type
        |          AND d.rn = r.t + 1))))
        |SELECT r.event_type, r.t AS n_days,
        |  round(r.l*1000000)/1000000.0 AS level,
        |  round(r.b*1000000)/1000000.0 AS trend,
        |  round((r.l + r.b + (CASE CAST(r.t % 7 AS INT) WHEN 0 THEN r.s0
        |    WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3
        |    WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 ELSE r.s6 END))
        |    *1000000)/1000000.0 AS forecast_1,
        |  round((greatest(r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6)
        |    - least(r.s0, r.s1, r.s2, r.s3, r.s4, r.s5, r.s6))
        |    *1000000)/1000000.0 AS s_amplitude,
        |  round((CASE WHEN r.t > 14 THEN r.sae/CAST(r.t - 14 AS DOUBLE)
        |    ELSE 0.0 END)*1000000)/1000000.0 AS mae
        |FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t
        |ORDER BY 1""".stripMargin,
    "q274_against_tide" ->
      """WITH per AS (SELECT o_custkey,
        |    sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) r1,
        |    sum(CASE WHEN year(o_orderdate) = 1997
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) r2
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        |  GROUP BY 1),
        |d AS (SELECT o_custkey,
        |    coalesce(r2, CAST(0 AS DECIMAL(18,2)))
        |      - coalesce(r1, CAST(0 AS DECIMAL(18,2))) dd
        |  FROM per),
        |wn AS (SELECT d.o_custkey, d.dd, n.n_name
        |  FROM d JOIN customer c ON d.o_custkey = c.c_custkey
        |    JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |tide AS (SELECT n_name, sum(dd) nation_delta FROM wn GROUP BY 1)
        |SELECT wn.n_name AS nation,
        |  CAST(tide.nation_delta AS DOUBLE) AS nation_delta,
        |  CAST(count(*) AS BIGINT) n_customers,
        |  CAST(sum(CASE WHEN dd > 0 AND nation_delta < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) n_up_against,
        |  CAST(sum(CASE WHEN dd < 0 AND nation_delta > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) n_down_against
        |FROM wn JOIN tide ON wn.n_name = tide.n_name
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q275_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(regexp_replace(
        |      lower(trim(text)), '\s+', ' ', 'g'), ' ')) tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) n_tok
        |  FROM st GROUP BY 1),
        |inter AS (SELECT a.source src_a, b.source src_b,
        |    CAST(count(*) AS BIGINT) n_shared
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared, sa.n_tok AS na, sb.n_tok AS nb,
        |  round(CAST(n_shared AS DOUBLE)
        |    /CAST(least(sa.n_tok, sb.n_tok) AS DOUBLE)*1000000)/1000000.0
        |    AS overlap
        |FROM inter JOIN sizes sa ON src_a = sa.source
        |  JOIN sizes sb ON src_b = sb.source
        |ORDER BY 1, 2""".stripMargin,
    "q276_price_volume_mix" ->
      """WITH f AS (SELECT n.n_name, year(o.o_orderdate) yr,
        |    l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN customer c ON o.o_custkey = c.c_custkey
        |    JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE year(o.o_orderdate) IN (1996, 1997)),
        |m AS (SELECT n_name,
        |    sum(CASE WHEN yr = 1996
        |      THEN CAST(l_quantity AS DECIMAL(18,2)) END) q1,
        |    sum(CASE WHEN yr = 1997
        |      THEN CAST(l_quantity AS DECIMAL(18,2)) END) q2,
        |    sum(CASE WHEN yr = 1996
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) r1,
        |    sum(CASE WHEN yr = 1997
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) r2
        |  FROM f GROUP BY 1),
        |d AS (SELECT *, CAST(r1 AS DOUBLE)/CAST(q1 AS DOUBLE) p1,
        |    CAST(r2 AS DOUBLE)/CAST(q2 AS DOUBLE) p2 FROM m)
        |SELECT n_name AS nation,
        |  CAST(r2 - r1 AS DOUBLE) AS delta_rev,
        |  round((CAST(q2 AS DOUBLE) - CAST(q1 AS DOUBLE))*p1*100)/100.0
        |    AS volume_effect,
        |  round(CAST(q2 AS DOUBLE)*(p2 - p1)*100)/100.0 AS price_effect
        |FROM d ORDER BY 1""".stripMargin,
    "q277_fanout_profile" ->
      """WITH po AS (SELECT l_orderkey k, CAST(count(*) AS BIGINT) n
        |  FROM lineitem GROUP BY 1),
        |pc AS (SELECT o_custkey k, CAST(count(*) AS BIGINT) n
        |  FROM orders GROUP BY 1),
        |bo AS (SELECT CAST(power(2, length(bin(n)) - 1) AS BIGINT) bucket,
        |    CAST(count(*) AS BIGINT) keys_in_bucket,
        |    max(n) max_fanout FROM po GROUP BY 1),
        |bc AS (SELECT CAST(power(2, length(bin(n)) - 1) AS BIGINT) bucket,
        |    CAST(count(*) AS BIGINT) keys_in_bucket,
        |    max(n) max_fanout FROM pc GROUP BY 1),
        |to_ AS (SELECT CAST(count(*) AS BIGINT) n_keys FROM po),
        |tc AS (SELECT CAST(count(*) AS BIGINT) n_keys FROM pc)
        |SELECT 'orders->lineitem' AS relation, bucket, keys_in_bucket,
        |  round(CAST(keys_in_bucket AS DOUBLE)/CAST(n_keys AS DOUBLE)
        |    *10000)/10000.0 AS share, max_fanout
        |FROM bo, to_
        |UNION ALL
        |SELECT 'customer->orders', bucket, keys_in_bucket,
        |  round(CAST(keys_in_bucket AS DOUBLE)/CAST(n_keys AS DOUBLE)
        |    *10000)/10000.0, max_fanout
        |FROM bc, tc
        |ORDER BY 1, 2""".stripMargin,
    "q278_source_minhash" ->
      """WITH d AS (SELECT source, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT source, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT source, w[g]||' '||w[g+1]||' '||w[g+2] sh
        |  FROM ix),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) n_sh
        |  FROM sh GROUP BY 1),
        |inter AS (SELECT a.source src_a, b.source src_b,
        |    CAST(count(*) AS BIGINT) n_inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2),
        |sigs AS (SELECT source, s.g salt,
        |    min(md5(CAST(s.g AS VARCHAR)||':'||sh)) m
        |  FROM sh, (SELECT unnest(generate_series(0, 11)) g) s
        |  GROUP BY 1, 2),
        |mt AS (SELECT a.source src_a, b.source src_b,
        |    CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
        |      n_match
        |  FROM sigs a JOIN sigs b ON a.salt = b.salt
        |    AND a.source < b.source
        |  GROUP BY 1, 2),
        |f AS (SELECT i.src_a, i.src_b, i.n_inter,
        |    CAST(i.n_inter AS DOUBLE)
        |      /CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) exact_j,
        |    CAST(mt.n_match AS DOUBLE)/12.0 est_j
        |  FROM inter i JOIN sizes sa ON i.src_a = sa.source
        |    JOIN sizes sb ON i.src_b = sb.source
        |    JOIN mt ON i.src_a = mt.src_a AND i.src_b = mt.src_b)
        |SELECT src_a, src_b, n_inter,
        |  round(exact_j*10000)/10000.0 AS exact_j,
        |  round(est_j*10000)/10000.0 AS est_j,
        |  round(abs(est_j - exact_j)*10000)/10000.0 AS abs_err
        |FROM f ORDER BY 1, 2""".stripMargin,
    "q279_retention_halflife" ->
      """WITH weeks AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)/604800) AS BIGINT) wk FROM events),
        |cohorts AS (SELECT user_id, min(wk) cw FROM weeks GROUP BY 1),
        |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) sz
        |  FROM cohorts GROUP BY 1),
        |mx AS (SELECT max(wk) max_wk FROM weeks),
        |offs AS (SELECT wk - cw o, CAST(count(*) AS BIGINT) num
        |  FROM weeks JOIN cohorts ON weeks.user_id = cohorts.user_id
        |  WHERE wk > cw GROUP BY 1),
        |dens AS (SELECT o, CAST(sum(sz) AS BIGINT) den
        |  FROM sizes, mx, (SELECT o FROM offs) oo
        |  WHERE cw + o <= max_wk GROUP BY 1),
        |rates AS (SELECT offs.o, num, den,
        |    CAST(num AS DOUBLE)/CAST(den AS DOUBLE) rate,
        |    round(ln(CAST(num AS DOUBLE)/CAST(den AS DOUBLE))*1e12)/1e12 y
        |  FROM offs JOIN dens ON offs.o = dens.o
        |  WHERE CAST(num AS DOUBLE)/CAST(den AS DOUBLE) > 0),
        |fit AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(o AS DECIMAL(28,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(o*o AS DECIMAL(28,12))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(CAST(o AS DOUBLE)*y AS DECIMAL(28,12)))
        |      AS DOUBLE) sxy
        |  FROM rates),
        |sl AS (SELECT (CAST(n AS DOUBLE)*sxy - sx*sy)
        |    /(CAST(n AS DOUBLE)*sxx - sx*sx) slope FROM fit)
        |SELECT o AS week_offset, num, den,
        |  round(rate*10000)/10000.0 AS rate,
        |  round(slope*1000000)/1000000.0 AS slope,
        |  round((CASE WHEN slope < 0 THEN -ln(2.0)/slope ELSE 0.0 END)
        |    *10000)/10000.0 AS half_life_weeks
        |FROM rates, sl ORDER BY 1""".stripMargin,
    "q280_rollup_consistency" ->
      """WITH base AS (SELECT year(o_orderdate) yr, month(o_orderdate) mo,
        |    day(o_orderdate) dom, CAST(o_totalprice AS DECIMAL(18,2)) p
        |  FROM orders),
        |daily AS (SELECT yr, mo, dom, sum(p) day_rev,
        |    CAST(count(*) AS BIGINT) day_n
        |  FROM base GROUP BY 1, 2, 3),
        |merged AS (SELECT yr, mo, sum(day_rev) rev_merged,
        |    CAST(sum(day_n) AS BIGINT) n_merged,
        |    CAST(count(*) AS BIGINT) n_days
        |  FROM daily GROUP BY 1, 2),
        |direct AS (SELECT yr, mo, sum(p) rev_direct,
        |    CAST(count(*) AS BIGINT) n_direct
        |  FROM base GROUP BY 1, 2)
        |SELECT m.yr, m.mo, n_days,
        |  CAST(rev_merged AS DOUBLE) AS rev_merged,
        |  CAST(rev_direct AS DOUBLE) AS rev_direct,
        |  (rev_merged = rev_direct AND n_merged = n_direct) AS consistent
        |FROM merged m JOIN direct d ON m.yr = d.yr AND m.mo = d.mo
        |ORDER BY 1, 2""".stripMargin,
    "q281_compressibility" ->
      """WITH t AS (SELECT source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |g AS (SELECT source, unnest(list_transform(
        |    generate_series(1, length(t) - 3), i -> substring(t, i, 4))) g
        |  FROM t WHERE length(t) >= 4)
        |SELECT source, CAST(count(*) AS BIGINT) n_grams,
        |  CAST(count(DISTINCT g) AS BIGINT) n_distinct,
        |  round(CAST(count(DISTINCT g) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |    *10000)/10000.0 AS distinct_ratio
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q282_session_conversion" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |l AS (SELECT *, lag(ep) OVER (PARTITION BY user_id
        |    ORDER BY ep, event_id) prev FROM e),
        |m AS (SELECT *, CASE WHEN prev IS NULL OR ep - prev > 14400
        |    THEN 1 ELSE 0 END is_new FROM l),
        |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ep, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    sess_n FROM m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess_n
        |    ORDER BY ep, event_id) rn FROM s),
        |per AS (SELECT user_id, sess_n,
        |    max(CASE WHEN rn = 1 THEN event_type END) entry_type,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      converted,
        |    CAST(count(*) AS BIGINT) n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT entry_type, CAST(count(*) AS BIGINT) n_sessions,
        |  CAST(sum(converted) AS BIGINT) n_converted,
        |  round(CAST(sum(n_events) AS DOUBLE)/count(*)*10000)/10000.0
        |    AS avg_events,
        |  round(CAST(sum(converted) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |    *10000)/10000.0 AS conversion_rate
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q283_detector_agreement" ->
      """WITH mom AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |ms AS (SELECT event_type, s1/n m,
        |    sqrt((s2 - n*(s1/n)*(s1/n))/(n - 1)) sd FROM mom
        |  WHERE n >= 2),
        |q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25)*1000000)/1000000.0 q1,
        |    round(quantile_cont(value, 0.75)*1000000)/1000000.0 q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT *, q1 - 1.5*(q3 - q1) lo, q3 + 1.5*(q3 - q1) hi
        |  FROM q),
        |fl AS (SELECT e.event_type,
        |    abs(e.value - ms.m) > 3.0*ms.sd fa,
        |    (e.value < f.lo OR e.value > f.hi) fb
        |  FROM events e JOIN ms ON e.event_type = ms.event_type
        |    JOIN f ON e.event_type = f.event_type),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT) n_a,
        |    CAST(sum(CASE WHEN fb THEN 1 ELSE 0 END) AS BIGINT) n_b,
        |    CAST(sum(CASE WHEN fa AND fb THEN 1 ELSE 0 END) AS BIGINT)
        |      n_both
        |  FROM fl GROUP BY 1),
        |k AS (SELECT *, CAST(n_a AS DOUBLE)/n pa, CAST(n_b AS DOUBLE)/n pb,
        |    CAST(n_both + (n - n_a - n_b + n_both) AS DOUBLE)/n po
        |  FROM a),
        |k2 AS (SELECT *, pa*pb + (1.0 - pa)*(1.0 - pb) pe FROM k)
        |SELECT event_type, n, n_a, n_b, n_both,
        |  round((CASE WHEN n_a + n_b - n_both > 0
        |    THEN CAST(n_both AS DOUBLE)/CAST(n_a + n_b - n_both AS DOUBLE)
        |    ELSE 0.0 END)*10000)/10000.0 AS jaccard,
        |  round((CASE WHEN 1.0 - pe > 0 THEN (po - pe)/(1.0 - pe)
        |    ELSE 0.0 END)*10000)/10000.0 AS kappa
        |FROM k2 ORDER BY 1""".stripMargin,
    "q284_lang_purity" ->
      """WITH sc AS (SELECT source, lang,
        |    len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
        |      'g'), ' ')) n_tok,
        |    len(list_filter(string_split(regexp_replace(lower(trim(text)),
        |      '\s+', ' ', 'g'), ' '),
        |      t -> t IN ('the','a','of','and','to','in','is','it'))) n_stop
        |  FROM documents),
        |p AS (SELECT source, lang,
        |    CASE WHEN n_stop*1000 >= n_tok*80 THEN 'en' ELSE 'other' END
        |      pred_lang
        |  FROM sc)
        |SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |  CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
        |    n_match,
        |  round(CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)
        |    AS DOUBLE)/CAST(count(*) AS DOUBLE)*10000)/10000.0 AS purity
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q285_basket_confidence" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |s1 AS (SELECT l_partkey, CAST(count(*) AS BIGINT) s FROM li
        |  GROUP BY 1),
        |pr AS (SELECT a.l_partkey ante, b.l_partkey cons,
        |    CAST(count(*) AS BIGINT) s_ab
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |cf AS (SELECT ante, cons, s_ab, s1.s s_a,
        |    round(CAST(s_ab AS DOUBLE)/CAST(s1.s AS DOUBLE)*10000)/10000.0
        |      conf
        |  FROM pr JOIN s1 ON pr.ante = s1.l_partkey),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    ORDER BY conf DESC, ante, cons) AS INT) rnk FROM cf)
        |SELECT rnk, ante, cons, s_ab, s_a, conf
        |FROM r WHERE rnk <= 10 ORDER BY 1""".stripMargin,
    "q286_profile_neighbors" ->
      """WITH p AS (SELECT event_type,
        |    CAST((CAST(floor(epoch(ts)) AS BIGINT) % 86400) // 3600 AS INT)
        |      hod,
        |    CAST(count(*) AS BIGINT) n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) nt FROM p
        |  GROUP BY 1),
        |sh AS (SELECT p.event_type, hod,
        |    CAST(n AS DOUBLE)/CAST(nt AS DOUBLE) s
        |  FROM p JOIN t ON p.event_type = t.event_type),
        |d AS (SELECT a.event_type type_a, b.event_type type_b,
        |    CAST(sum(CAST((a.s - b.s)*(a.s - b.s) AS DECIMAL(28,16)))
        |      AS DOUBLE) d2
        |  FROM sh a JOIN sh b ON a.hod = b.hod
        |    AND a.event_type <> b.event_type
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY type_a
        |    ORDER BY d2, type_b) rn FROM d)
        |SELECT type_a AS event_type, type_b AS nearest_type,
        |  round(sqrt(d2)*1000000)/1000000.0 AS l2_dist
        |FROM r WHERE rn = 1 ORDER BY 1""".stripMargin,
    "q287_kalman_level" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1
        |  HAVING max(rn) >= 2),
        |r AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS t, m AS x,
        |    CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k,
        |    CAST(0.0 AS DOUBLE) AS sae
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    round((r.x + (round(((r.p + 0.1)/(r.p + 1.1))*1e12)/1e12)
        |      *(d.m - r.x))*1e12)/1e12,
        |    round(((1.0 - round(((r.p + 0.1)/(r.p + 1.1))*1e12)/1e12)
        |      *(r.p + 0.1))*1e12)/1e12,
        |    round(((r.p + 0.1)/(r.p + 1.1))*1e12)/1e12,
        |    r.sae + round(abs(d.m - r.x)*1e12)/1e12
        |  FROM r JOIN idx d ON d.event_type = r.event_type
        |    AND d.rn = r.t + 1)
        |SELECT r.event_type, r.t AS n_days,
        |  round(r.x*1000000)/1000000.0 AS level,
        |  round(r.p*1000000)/1000000.0 AS p_var,
        |  round(r.k*1000000)/1000000.0 AS gain,
        |  round(r.sae/CAST(r.t - 1 AS DOUBLE)*1000000)/1000000.0
        |    AS mean_abs_innov
        |FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t
        |ORDER BY 1""".stripMargin,
    "q288_kpss_level" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    round(CAST(sum(CAST(m AS DECIMAL(28,16))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 mu
        |  FROM daily GROUP BY 1),
        |cx AS (SELECT daily.event_type, d,
        |    round((m - mu)*1e12)/1e12 e, n
        |  FROM daily JOIN st ON daily.event_type = st.event_type),
        |cs AS (SELECT event_type, e, n,
        |    CAST(sum(CAST(e AS DECIMAL(28,12))) OVER (
        |      PARTITION BY event_type ORDER BY d) AS DOUBLE) s
        |  FROM cx),
        |ag AS (SELECT event_type, max(n) n_days,
        |    CAST(sum(CAST(e*e AS DECIMAL(28,16))) AS DOUBLE) ss,
        |    CAST(sum(CAST(s*s AS DECIMAL(38,16))) AS DOUBLE) cum2
        |  FROM cs GROUP BY 1 HAVING
        |    CAST(sum(CAST(e*e AS DECIMAL(28,16))) AS DOUBLE) > 0)
        |SELECT event_type, n_days,
        |  round(cum2/CAST(n_days*n_days AS DOUBLE)
        |    /(ss/CAST(n_days AS DOUBLE))*1000000)/1000000.0 AS kpss_eta
        |FROM ag ORDER BY 1""".stripMargin,
    "q289_rolling_median" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, d AS day,
        |  CAST(count(*) OVER w AS INT) AS n_in_window,
        |  round(median(m) OVER w*1000000)/1000000.0 AS med7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,
    "q290_interval_coverage" ->
      """WITH iv AS (SELECT event_type, s, CAST(count(*) AS BIGINT) cnt,
        |    s + 1800 e
        |  FROM (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) s
        |        FROM events) GROUP BY 1, 2),
        |mm AS (SELECT *, max(e) OVER (PARTITION BY event_type
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    pmax
        |  FROM iv),
        |op AS (SELECT *, CASE WHEN pmax IS NULL OR s > pmax
        |    THEN 1 ELSE 0 END opens FROM mm),
        |sg AS (SELECT *, sum(opens) OVER (PARTITION BY event_type
        |    ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    seg
        |  FROM op),
        |g AS (SELECT event_type, seg, CAST(sum(cnt) AS BIGINT) n,
        |    min(s) ss, max(e) se
        |  FROM sg GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(n) AS BIGINT) n_intervals,
        |  CAST(count(*) AS BIGINT) n_merged,
        |  CAST(sum(se - ss) AS BIGINT) covered_sec,
        |  round(CAST(count(*) AS DOUBLE)/CAST(sum(n) AS DOUBLE)*10000)
        |    /10000.0 AS merge_ratio
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q291_delivery_percentiles" ->
      """SELECT o_orderpriority AS prio,
        |  round(quantile_cont(datediff('day', o_orderdate, l_shipdate),
        |    0.5), 4) AS p50_days,
        |  round(quantile_cont(datediff('day', o_orderdate, l_shipdate),
        |    0.9), 4) AS p90_days,
        |  round(quantile_cont(datediff('day', o_orderdate, l_shipdate),
        |    0.99), 4) AS p99_days,
        |  count(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q292_markov_stationary" ->
      """WITH stp AS MATERIALIZED (SELECT event_type src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) dst
        |  FROM events),
        |tr AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) n
        |  FROM stp WHERE dst IS NOT NULL GROUP BY 1, 2),
        |ot AS (SELECT src, CAST(sum(n) AS BIGINT) tot FROM tr GROUP BY 1),
        |p AS MATERIALIZED (SELECT tr.src, tr.dst,
        |    round(CAST(n AS DOUBLE)/CAST(tot AS DOUBLE)*1e12)/1e12 p
        |  FROM tr JOIN ot ON tr.src = ot.src),
        |kk AS (SELECT count(DISTINCT src) k FROM p),
        |pi0 AS (SELECT DISTINCT src state, 1.0/CAST(k AS DOUBLE) pi
        |  FROM p, kk),
        |pi1 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi0 ON p.src = pi0.state GROUP BY 1),
        |pi2 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi1 ON p.src = pi1.state GROUP BY 1),
        |pi3 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi2 ON p.src = pi2.state GROUP BY 1),
        |pi4 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi3 ON p.src = pi3.state GROUP BY 1),
        |pi5 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi4 ON p.src = pi4.state GROUP BY 1),
        |pi6 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi5 ON p.src = pi5.state GROUP BY 1),
        |pi7 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi6 ON p.src = pi6.state GROUP BY 1),
        |pi8 AS MATERIALIZED (SELECT dst state,
        |    round(CAST(sum(CAST(pi*p AS DECIMAL(38,18))) AS DOUBLE)
        |      *1e12)/1e12 pi
        |  FROM p JOIN pi7 ON p.src = pi7.state GROUP BY 1)
        |SELECT state, round(pi*1000000)/1000000.0 AS pi
        |FROM pi8 ORDER BY 1""".stripMargin,
    "q293_simpson_diversity" ->
      """WITH t AS (SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w
        |  FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) c
        |  FROM t GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) n_tokens,
        |  CAST(count(*) AS BIGINT) n_distinct,
        |  round((1.0 - CAST(sum(CAST(c AS DECIMAL(19,0))
        |      *CAST(c - 1 AS DECIMAL(19,0))) AS DOUBLE)
        |    /(CAST(sum(c) AS DOUBLE)*CAST(sum(c) - 1 AS DOUBLE)))
        |    *1000000)/1000000.0 AS simpson
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q294_gap_acf" ->
      """WITH g1 AS (SELECT event_type, ts, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY event_type ORDER BY ts, event_id) g
        |  FROM events),
        |g2 AS (SELECT event_type, ts, event_id, g FROM g1
        |  WHERE g IS NOT NULL),
        |pr AS (SELECT event_type, g, lead(g) OVER (
        |    PARTITION BY event_type ORDER BY ts, event_id) g2
        |  FROM g2),
        |ag AS (SELECT event_type,
        |    CAST(count(*) AS DECIMAL(38,0)) n_pairs,
        |    sum(CAST(g AS DECIMAL(38,0))) sx,
        |    sum(CAST(g2 AS DECIMAL(38,0))) sy,
        |    sum(CAST(g*g AS DECIMAL(38,0))) sxx,
        |    sum(CAST(g2*g2 AS DECIMAL(38,0))) syy,
        |    sum(CAST(g*g2 AS DECIMAL(38,0))) sxy
        |  FROM pr WHERE g2 IS NOT NULL GROUP BY 1),
        |dn AS (SELECT *, sqrt(CAST(n_pairs*sxx - sx*sx AS DOUBLE)
        |    *CAST(n_pairs*syy - sy*sy AS DOUBLE)) den FROM ag)
        |SELECT event_type, CAST(n_pairs AS BIGINT) n_pairs,
        |  round(CAST(n_pairs*sxy - sx*sy AS DOUBLE)/den*1000000)
        |    /1000000.0 AS gap_acf1
        |FROM dn WHERE den > 0 ORDER BY 1""".stripMargin,
    "q295_weighted_jaccard" ->
      """WITH t AS (SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w
        |  FROM documents),
        |c AS (SELECT source, w, CAST(count(*) AS BIGINT) c
        |  FROM t GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) tot FROM c
        |  GROUP BY 1),
        |mn AS (SELECT a.source src_a, b.source src_b,
        |    CAST(sum(least(a.c, b.c)) AS BIGINT) smin
        |  FROM c a JOIN c b ON a.w = b.w AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, smin,
        |  round(CAST(smin AS DOUBLE)
        |    /CAST(ta.tot + tb.tot - smin AS DOUBLE)*1000000)/1000000.0
        |    AS weighted_jaccard
        |FROM mn JOIN tot ta ON mn.src_a = ta.source
        |  JOIN tot tb ON mn.src_b = tb.source
        |ORDER BY 1, 2""".stripMargin,
    "q296_boosted_stumps" ->
      """WITH pq AS MATERIALIZED (SELECT CAST(l_quantity AS INT) q,
        |    CAST(count(*) AS BIGINT) n,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) sy,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      *CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,6)))
        |      syy
        |  FROM lineitem GROUP BY 1),
        |t1 AS (SELECT CAST(sum(n) AS BIGINT) nt, sum(sy) syt,
        |    sum(syy) syyt FROM pq),
        |c1a AS (SELECT q,
        |    CAST(sum(n) OVER w AS BIGINT) nl, sum(sy) OVER w syl,
        |    nt, syt, syyt
        |  FROM pq, t1
        |  WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW)),
        |c1b AS (SELECT q, nl, nt,
        |    round(CAST(syl AS DOUBLE)/CAST(nl AS DOUBLE)*1e12)/1e12 ml,
        |    round(CAST(syt - syl AS DOUBLE)/CAST(nt - nl AS DOUBLE)*1e12)
        |      /1e12 mr,
        |    syyt
        |  FROM c1a WHERE nl < nt),
        |c1 AS (SELECT q, ml, mr,
        |    round((CAST(syyt AS DOUBLE) - CAST(nl AS DOUBLE)*ml*ml
        |      - CAST(nt - nl AS DOUBLE)*mr*mr)*1e12)/1e12 sse
        |  FROM c1b),
        |r1 AS MATERIALIZED (SELECT q t, ml, mr, sse FROM c1
        |  ORDER BY sse, q LIMIT 1),
        |pq2 AS MATERIALIZED (SELECT pq.q, pq.n,
        |    pq.sy - CAST(CAST(pq.n AS DOUBLE)
        |      *(round((CASE WHEN pq.q <= r1.t THEN r1.ml ELSE r1.mr END
        |        *0.5)*1e12)/1e12) AS DECIMAL(28,6)) sy,
        |    CAST(CAST(pq.syy AS DOUBLE)
        |      - 2.0*(round((CASE WHEN pq.q <= r1.t THEN r1.ml ELSE r1.mr
        |        END*0.5)*1e12)/1e12)*CAST(pq.sy AS DOUBLE)
        |      + CAST(pq.n AS DOUBLE)
        |        *(round((CASE WHEN pq.q <= r1.t THEN r1.ml ELSE r1.mr END
        |          *0.5)*1e12)/1e12)
        |        *(round((CASE WHEN pq.q <= r1.t THEN r1.ml ELSE r1.mr END
        |          *0.5)*1e12)/1e12) AS DECIMAL(38,6)) syy
        |  FROM pq, r1),
        |t2 AS (SELECT CAST(sum(n) AS BIGINT) nt, sum(sy) syt,
        |    sum(syy) syyt FROM pq2),
        |c2a AS (SELECT q,
        |    CAST(sum(n) OVER w AS BIGINT) nl, sum(sy) OVER w syl,
        |    nt, syt, syyt
        |  FROM pq2, t2
        |  WINDOW w AS (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW)),
        |c2b AS (SELECT q, nl, nt,
        |    round(CAST(syl AS DOUBLE)/CAST(nl AS DOUBLE)*1e12)/1e12 ml,
        |    round(CAST(syt - syl AS DOUBLE)/CAST(nt - nl AS DOUBLE)*1e12)
        |      /1e12 mr,
        |    syyt
        |  FROM c2a WHERE nl < nt),
        |c2 AS (SELECT q, ml, mr,
        |    round((CAST(syyt AS DOUBLE) - CAST(nl AS DOUBLE)*ml*ml
        |      - CAST(nt - nl AS DOUBLE)*mr*mr)*1e12)/1e12 sse
        |  FROM c2b),
        |r2 AS (SELECT q t, ml, mr, sse FROM c2 ORDER BY sse, q LIMIT 1)
        |SELECT 1 AS round, t AS threshold,
        |  round(round((ml*0.5)*1e12)/1e12*1000000)/1000000.0 AS incr_left,
        |  round(round((mr*0.5)*1e12)/1e12*1000000)/1000000.0 AS incr_right,
        |  round(sse/1e6*10)/10.0 AS split_sse_m
        |FROM r1
        |UNION ALL
        |SELECT 2, t, round(round((ml*0.5)*1e12)/1e12*1000000)/1000000.0,
        |  round(round((mr*0.5)*1e12)/1e12*1000000)/1000000.0,
        |  round(sse/1e6*10)/10.0
        |FROM r2 ORDER BY 1""".stripMargin,
    "q297_target_encoding" ->
      """WITH cells AS (SELECT o_orderpriority cat,
        |    CAST(o_orderkey % 3 AS INT) fold,
        |    CAST(count(*) AS BIGINT) n,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) sy
        |  FROM orders GROUP BY 1, 2),
        |pc AS (SELECT cat, CAST(sum(n) AS BIGINT) cn, sum(sy) csy
        |  FROM cells GROUP BY 1),
        |g AS (SELECT round(CAST(sum(sy) AS DOUBLE)
        |    /CAST(sum(n) AS DOUBLE)*1e12)/1e12 gmean FROM cells)
        |SELECT cells.cat, fold, n AS n_in_fold, cn - n AS n_oof,
        |  round(round((CAST(csy - sy AS DOUBLE) + 10.0*gmean)
        |    /(CAST(cn - n AS DOUBLE) + 10.0)*1e12)/1e12*1000000)
        |    /1000000.0 AS encoding
        |FROM cells JOIN pc ON cells.cat = pc.cat, g
        |ORDER BY 1, 2""".stripMargin,
    "q298_radius_profile" ->
      """WITH ix AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) i, embedding
        |  FROM embeddings),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v
        |  FROM ix),
        |ct AS (SELECT label, i,
        |    CAST(sum(CAST(v AS DECIMAL(28,12))) AS DOUBLE)/count(*) cd
        |  FROM xx GROUP BY 1, 2),
        |cc AS (SELECT label,
        |    CAST(sum(CAST(cd*cd AS DECIMAL(28,16))) AS DOUBLE) cc
        |  FROM ct GROUP BY 1),
        |vv AS (SELECT vec_id, label,
        |    CAST(sum(CAST(v*v AS DECIMAL(28,16))) AS DOUBLE) vv
        |  FROM xx GROUP BY 1, 2),
        |dt AS (SELECT xx.vec_id, xx.label,
        |    CAST(sum(CAST(v*cd AS DECIMAL(28,16))) AS DOUBLE) dot
        |  FROM xx JOIN ct ON xx.label = ct.label AND xx.i = ct.i
        |  GROUP BY 1, 2),
        |d AS (SELECT vv.vec_id, vv.label,
        |    sqrt(greatest(vv - 2.0*dot + cc.cc, 0.0)) d
        |  FROM vv JOIN dt ON vv.vec_id = dt.vec_id AND vv.label = dt.label
        |    JOIN cc ON vv.label = cc.label),
        |dm AS (SELECT label, max(d) dmax, CAST(count(*) AS BIGINT) n_vecs
        |  FROM d GROUP BY 1),
        |sh AS (SELECT d.label,
        |    CASE WHEN dmax = 0 THEN 0
        |      ELSE CAST(least(floor(d/dmax*5), 4) AS INT) END shell,
        |    n_vecs
        |  FROM d JOIN dm ON d.label = dm.label)
        |SELECT label, shell, CAST(count(*) AS BIGINT) n_in_shell,
        |  round(CAST(count(*) AS DOUBLE)/CAST(max(n_vecs) AS DOUBLE)
        |    *10000)/10000.0 AS share
        |FROM sh GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q299_absorbing_time" ->
      """WITH stp AS MATERIALIZED (SELECT event_type src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) dst
        |  FROM events),
        |tr AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) n
        |  FROM stp WHERE dst IS NOT NULL GROUP BY 1, 2),
        |ot AS (SELECT src, CAST(sum(n) AS BIGINT) tot FROM tr GROUP BY 1),
        |p AS MATERIALIZED (SELECT tr.src, tr.dst,
        |    round(CAST(n AS DOUBLE)/CAST(tot AS DOUBLE)*1e12)/1e12 p
        |  FROM tr JOIN ot ON tr.src = ot.src),
        |ss AS MATERIALIZED (SELECT DISTINCT src state FROM p),
        |t0 AS (SELECT state, 0.0 t FROM ss),
        |t1 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t0 ON p.dst = t0.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t2 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t1 ON p.dst = t1.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t3 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t2 ON p.dst = t2.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t4 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t3 ON p.dst = t3.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t5 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t4 ON p.dst = t4.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t6 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t5 ON p.dst = t5.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t7 AS MATERIALIZED (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t6 ON p.dst = t6.state GROUP BY 1) i
        |    ON ss.state = i.src),
        |t8 AS (SELECT ss.state,
        |    CASE WHEN ss.state = 'purchase' THEN 0.0
        |      ELSE round((1.0 + coalesce(i.et, 0.0))*1e12)/1e12 END t
        |  FROM ss LEFT JOIN (SELECT src,
        |      round(CAST(sum(CAST(p*t AS DECIMAL(38,18))) AS DOUBLE)
        |        *1e12)/1e12 et
        |    FROM p JOIN t7 ON p.dst = t7.state GROUP BY 1) i
        |    ON ss.state = i.src)
        |SELECT state, round(t*1000000)/1000000.0 AS exp_steps
        |FROM t8 ORDER BY 1""".stripMargin,
    "q300_jaccard_sweep" ->
      // the sweep's base build is the CAPPED q389 configuration (df <= 5)
      """WITH d AS (SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |  FROM d WHERE len(w) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh
        |  FROM ix),
        |f AS (SELECT sh, count(*) df FROM sh0 GROUP BY 1),
        |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN f USING (sh)
        |  WHERE df <= 5),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pj AS (SELECT round(CAST(n_shared AS DOUBLE)
        |    /(sa.n_sh + sb.n_sh - n_shared), 6) jaccard
        |  FROM inter JOIN sz sa ON doc_a = sa.doc_id
        |    JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE CAST(n_shared AS DOUBLE)
        |    /(sa.n_sh + sb.n_sh - n_shared) >= 0.3),
        |grid AS (SELECT CAST(g AS DOUBLE)/10.0 threshold
        |  FROM generate_series(3, 9) t(g)),
        |cn AS (SELECT threshold, CAST(count(*) AS BIGINT) n_pairs,
        |    sum(CAST(jaccard AS DECIMAL(28,6))) sj
        |  FROM pj JOIN grid ON jaccard >= threshold GROUP BY 1)
        |SELECT grid.threshold, coalesce(n_pairs, 0) AS n_pairs,
        |  round(CASE WHEN n_pairs IS NULL THEN 0.0
        |    ELSE CAST(sj AS DOUBLE)/CAST(n_pairs AS DOUBLE) END
        |    *1000000)/1000000.0 AS mean_jaccard
        |FROM grid LEFT JOIN cn ON grid.threshold = cn.threshold
        |ORDER BY 1""".stripMargin,
    "q301_peak_concurrency" ->
      """WITH pts AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) t,
        |    CAST(1 AS BIGINT) delta FROM events
        |  UNION ALL
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) + 1800,
        |    CAST(-1 AS BIGINT) FROM events),
        |run AS (SELECT event_type, t,
        |    sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) active
        |  FROM pts),
        |pk AS (SELECT event_type, t, active, row_number() OVER (
        |    PARTITION BY event_type ORDER BY active DESC, t) rn
        |  FROM run),
        |nv AS (SELECT event_type, count(*) n_intervals FROM events
        |  GROUP BY 1)
        |SELECT pk.event_type, n_intervals,
        |  CAST(active AS BIGINT) peak_concurrency, t AS peak_at
        |FROM pk JOIN nv ON pk.event_type = nv.event_type
        |WHERE rn = 1 ORDER BY 1""".stripMargin,
    "q302_cvm_drift" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e)) * 0.75)
        |    AS BIGINT) split_e FROM ev),
        |ph AS (SELECT event_type, value,
        |    CASE WHEN e < split_e THEN 1 ELSE 0 END tr
        |  FROM ev CROSS JOIN sp),
        |c AS (SELECT event_type, value, CAST(sum(tr) AS BIGINT) ca,
        |    CAST(sum(1 - tr) AS BIGINT) cb FROM ph GROUP BY 1, 2),
        |cum AS (SELECT event_type, ca, cb,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumb,
        |    sum(ca) OVER (PARTITION BY event_type) na,
        |    sum(cb) OVER (PARTITION BY event_type) nb
        |  FROM c),
        |g AS (SELECT event_type, na, nb,
        |    CAST(round((CAST(cuma AS DOUBLE)/na - CAST(cumb AS DOUBLE)/nb)
        |      *(CAST(cuma AS DOUBLE)/na - CAST(cumb AS DOUBLE)/nb)
        |      *CAST(ca + cb AS DOUBLE)*1e12)/1e12 AS DECIMAL(38,12)) gap2
        |  FROM cum WHERE na > 0 AND nb > 0),
        |ag AS (SELECT event_type, CAST(max(na) AS BIGINT) n_train,
        |    CAST(max(nb) AS BIGINT) n_eval,
        |    CAST(sum(gap2) AS DOUBLE) sg
        |  FROM g GROUP BY 1),
        |fin AS (SELECT event_type, n_train, n_eval,
        |    round(CAST(n_train AS DOUBLE)*CAST(n_eval AS DOUBLE)
        |      /(CAST(n_train + n_eval AS DOUBLE)
        |        *CAST(n_train + n_eval AS DOUBLE))
        |      *sg*1000000)/1000000.0 cvm_r
        |  FROM ag)
        |SELECT event_type, n_train, n_eval, cvm_r AS cvm,
        |  cvm_r > 0.461 AS drifted
        |FROM fin ORDER BY 1""".stripMargin,
    "q303_knn_hubness" ->
      """WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
        |ix AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v
        |  FROM ix),
        |n AS (SELECT vec_id,
        |    sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |  FROM xx GROUP BY 1),
        |d AS (SELECT a.label, a.vec_id src, b.vec_id dst,
        |    CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM xx a JOIN xx b ON a.i = b.i AND a.label = b.label
        |    AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2, 3),
        |sc AS (SELECT label, src, dst, dot/(ns.nrm*nd.nrm) cos
        |  FROM d JOIN n ns ON src = ns.vec_id JOIN n nd ON dst = nd.vec_id),
        |r AS (SELECT label, src, dst, row_number() OVER (
        |    PARTITION BY src ORDER BY cos DESC, dst) rnk FROM sc),
        |knn AS (SELECT label, dst FROM r WHERE rnk <= 3),
        |indeg AS (SELECT label, dst, CAST(count(*) AS BIGINT) occ
        |  FROM knn GROUP BY 1, 2),
        |hist AS (SELECT label, occ, CAST(count(*) AS BIGINT) n_vectors
        |  FROM indeg GROUP BY 1, 2),
        |nv AS (SELECT label, CAST(count(*) AS BIGINT) n_vecs FROM e
        |  GROUP BY 1),
        |hit AS (SELECT label, CAST(count(*) AS BIGINT) n_hit FROM indeg
        |  GROUP BY 1)
        |SELECT label, occ, n_vectors FROM hist
        |UNION ALL
        |SELECT nv.label, CAST(0 AS BIGINT), n_vecs - n_hit
        |FROM nv JOIN hit ON nv.label = hit.label
        |WHERE n_vecs > n_hit
        |ORDER BY 1, 2""".stripMargin,
    "q304_burrows_delta" ->
      """WITH t AS (SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w
        |  FROM documents),
        |top AS MATERIALIZED (SELECT w FROM
        |  (SELECT w, count(*) n FROM t GROUP BY 1) c
        |  ORDER BY n DESC, w LIMIT 30),
        |ps AS (SELECT source, CAST(count(*) AS BIGINT) nt FROM t
        |  GROUP BY 1),
        |f AS (SELECT t.source, t.w,
        |    round(CAST(count(*) AS DOUBLE)/CAST(max(nt) AS DOUBLE)
        |      *1e12)/1e12 f
        |  FROM t JOIN top ON t.w = top.w
        |    JOIN ps ON t.source = ps.source
        |  GROUP BY 1, 2),
        |grid AS (SELECT source, w FROM ps, top),
        |cells AS (SELECT grid.source, grid.w, coalesce(f.f, 0.0) f
        |  FROM grid LEFT JOIN f ON grid.source = f.source
        |    AND grid.w = f.w),
        |mom AS (SELECT w, count(*) ns,
        |    CAST(sum(CAST(f AS DECIMAL(28,16))) AS DOUBLE) sf,
        |    CAST(sum(CAST(f*f AS DECIMAL(28,16))) AS DOUBLE) sff
        |  FROM cells GROUP BY 1),
        |ms AS (SELECT w, round(sf/ns*1e12)/1e12 mu,
        |    sqrt(greatest(sff/ns - (round(sf/ns*1e12)/1e12)
        |      *(round(sf/ns*1e12)/1e12), 0.0)) sg
        |  FROM mom),
        |z AS (SELECT source, cells.w, (f - mu)/sg z
        |  FROM cells JOIN ms ON cells.w = ms.w WHERE sg > 0)
        |SELECT a.source src_a, b.source src_b,
        |  CAST(count(*) AS BIGINT) n_words,
        |  round(CAST(sum(CAST(round(abs(a.z - b.z)*1e12)/1e12
        |      AS DECIMAL(28,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS delta
        |FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q305_nation_gini" ->
      """WITH pc AS (SELECT n_name, o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,6))) rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |rk AS (SELECT n_name, rev, CAST(row_number() OVER (
        |    PARTITION BY n_name ORDER BY rev, o_custkey) AS BIGINT) i
        |  FROM pc)
        |SELECT n_name, CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(rev) AS DOUBLE)*10000)/10000 AS total_rev,
        |  round((2.0*CAST(sum(rev*i) AS DOUBLE)
        |    /(count(*)*CAST(sum(rev) AS DOUBLE))
        |    - CAST(count(*) + 1 AS DOUBLE)/count(*))*1000000)/1000000
        |    AS gini
        |FROM rk GROUP BY 1 ORDER BY 1""".stripMargin,
    "q306_theil_decomposition" ->
      """WITH pc AS (SELECT n_name, o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) x
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |gl AS (SELECT CAST(count(*) AS BIGINT) n,
        |    round(CAST(sum(x) AS DOUBLE)/count(*)*1e12)/1e12 mu FROM pc),
        |pn AS (SELECT n_name, CAST(count(*) AS BIGINT) ng,
        |    round(CAST(sum(x) AS DOUBLE)/count(*)*1e12)/1e12 mug
        |  FROM pc GROUP BY 1),
        |tm AS (SELECT pc.n_name, ng, mug, n, mu,
        |    round(CAST(x AS DOUBLE)/mu*ln(CAST(x AS DOUBLE)/mu)*1e12)
        |      /1e12 t_tot,
        |    round(CAST(x AS DOUBLE)/mug*ln(CAST(x AS DOUBLE)/mug)*1e12)
        |      /1e12 t_in
        |  FROM pc JOIN pn ON pc.n_name = pn.n_name, gl),
        |nt AS (SELECT n_name, max(ng) ng, max(mug) mug, max(n) n,
        |    max(mu) mu,
        |    round(CAST(sum(CAST(t_in AS DECIMAL(38,12))) AS DOUBLE)
        |      /max(ng)*1e12)/1e12 tg
        |  FROM tm GROUP BY 1),
        |nb AS (SELECT n_name,
        |    round(CAST(ng AS DOUBLE)/n*(mug/mu)*ln(mug/mu)*1e12)/1e12 bt,
        |    round(CAST(ng AS DOUBLE)/n*(mug/mu)*tg*1e12)/1e12 wt
        |  FROM nt),
        |tt AS (SELECT max(n) n_customers,
        |    round(CAST(sum(CAST(t_tot AS DECIMAL(38,12))) AS DOUBLE)
        |      /max(n)*1e12)/1e12 t_total
        |  FROM tm),
        |pp AS (SELECT
        |    round(CAST(sum(CAST(bt AS DECIMAL(38,12))) AS DOUBLE)*1e12)
        |      /1e12 t_between,
        |    round(CAST(sum(CAST(wt AS DECIMAL(38,12))) AS DOUBLE)*1e12)
        |      /1e12 t_within
        |  FROM nb)
        |SELECT n_customers,
        |  round(t_total*1000000)/1000000.0 AS theil_total,
        |  round(t_between*1000000)/1000000.0 AS theil_between,
        |  round(t_within*1000000)/1000000.0 AS theil_within,
        |  round((t_total - t_between - t_within)*1000000)/1000000.0
        |    + 0.0 AS identity_gap
        |FROM tt, pp""".stripMargin,
    "q307_diff_in_diff" ->
      """WITH li AS (SELECT (p_type LIKE 'PROMO%') AS treat,
        |    (year(o_orderdate) = 1996) AS post,
        |    CAST(l_extendedprice*(1 - l_discount) AS DECIMAL(18,6)) rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey
        |  WHERE year(o_orderdate) IN (1995, 1996)),
        |c AS (SELECT CAST(count(*) AS BIGINT) n_lines,
        |    round(CAST(sum(CASE WHEN treat AND NOT post THEN rev END)
        |      AS DOUBLE)/sum(CASE WHEN treat AND NOT post THEN 1 ELSE 0
        |      END)*1e12)/1e12 m_tp,
        |    round(CAST(sum(CASE WHEN treat AND post THEN rev END)
        |      AS DOUBLE)/sum(CASE WHEN treat AND post THEN 1 ELSE 0 END)
        |      *1e12)/1e12 m_ta,
        |    round(CAST(sum(CASE WHEN NOT treat AND NOT post THEN rev END)
        |      AS DOUBLE)/sum(CASE WHEN NOT treat AND NOT post THEN 1
        |      ELSE 0 END)*1e12)/1e12 m_cp,
        |    round(CAST(sum(CASE WHEN NOT treat AND post THEN rev END)
        |      AS DOUBLE)/sum(CASE WHEN NOT treat AND post THEN 1 ELSE 0
        |      END)*1e12)/1e12 m_ca
        |  FROM li)
        |SELECT n_lines,
        |  round(m_tp*100)/100.0 AS m_treat_pre,
        |  round(m_ta*100)/100.0 AS m_treat_post,
        |  round(m_cp*100)/100.0 AS m_ctrl_pre,
        |  round(m_ca*100)/100.0 AS m_ctrl_post,
        |  round((m_ta - m_tp - (m_ca - m_cp))*100)/100.0 AS did
        |FROM c""".stripMargin,
    "q308_cold_start" ->
      """WITH pm AS (SELECT l_partkey,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) - 1 AS BIGINT)
        |      m,
        |    sum(CAST(l_extendedprice*(1 - l_discount) AS DECIMAL(18,6)))
        |      rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |fs AS (SELECT l_partkey, min(m) m0 FROM pm GROUP BY 1),
        |o AS (SELECT pm.l_partkey, m0, (m - m0) AS ofs, rev
        |  FROM pm JOIN fs ON pm.l_partkey = fs.l_partkey
        |  WHERE m - m0 <= 2)
        |SELECT CAST(m0 // 12 AS INT) cohort_year,
        |  CAST(m0 % 12 + 1 AS INT) cohort_month,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) n_parts,
        |  round(CAST(sum(CASE WHEN ofs = 0 THEN rev END) AS DOUBLE)*100)
        |    /100.0 AS rev_m0,
        |  round(CAST(coalesce(sum(CASE WHEN ofs = 1 THEN rev END), 0)
        |    AS DOUBLE)*100)/100.0 AS rev_m1,
        |  round(CAST(coalesce(sum(CASE WHEN ofs = 2 THEN rev END), 0)
        |    AS DOUBLE)*100)/100.0 AS rev_m2
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q309_spend_migration" ->
      """WITH y1 AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |q1 AS (SELECT o_custkey, ntile(5) OVER (
        |    ORDER BY rev DESC, o_custkey) q_from FROM y1),
        |y2 AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
        |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1),
        |q2 AS (SELECT o_custkey, ntile(5) OVER (
        |    ORDER BY rev DESC, o_custkey) q_to FROM y2),
        |m AS (SELECT q_from, q_to, CAST(count(*) AS BIGINT) n_customers
        |  FROM q1 JOIN q2 USING (o_custkey) GROUP BY 1, 2),
        |rt AS (SELECT q_from, CAST(sum(n_customers) AS BIGINT) rt
        |  FROM m GROUP BY 1)
        |SELECT m.q_from, q_to, n_customers,
        |  round(CAST(n_customers AS DOUBLE)/CAST(rt AS DOUBLE)*10000)
        |    /10000.0 AS row_share
        |FROM m JOIN rt ON m.q_from = rt.q_from
        |ORDER BY 1, 2""".stripMargin,
    "q310_token_burstiness" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) w
        |  FROM documents),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) d
        |  FROM documents),
        |pd AS (SELECT w, doc_id, count(*) c FROM t GROUP BY 1, 2),
        |st AS (SELECT w, CAST(sum(c) AS BIGINT) cf,
        |    CAST(count(*) AS BIGINT) df
        |  FROM pd GROUP BY 1),
        |top AS (SELECT * FROM st ORDER BY cf DESC, w LIMIT 50),
        |x AS (SELECT w, cf, df,
        |    round(CAST(cf AS DOUBLE)/CAST(df AS DOUBLE)*1e12)/1e12 rate,
        |    round(CAST(d AS DOUBLE)
        |      *(1.0 - exp(-(CAST(cf AS DOUBLE)/CAST(d AS DOUBLE))))
        |      *1e12)/1e12 df_hat
        |  FROM top, nd)
        |SELECT w AS token, cf, df,
        |  round(rate*10000)/10000.0 AS per_doc_rate,
        |  round(df_hat*100)/100.0 AS df_expected,
        |  round(CAST(df AS DOUBLE)/df_hat*10000)/10000.0 AS spread_ratio
        |FROM x ORDER BY 1""".stripMargin,
    "q311_repurchase_latency" ->
      """WITH g AS (SELECT o_custkey, o_orderdate,
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) prev
        |  FROM orders),
        |gap AS (SELECT c_mktsegment segment,
        |    CAST(datediff('day', prev, o_orderdate) AS DOUBLE) gap
        |  FROM g JOIN customer ON o_custkey = c_custkey
        |  WHERE prev IS NOT NULL)
        |SELECT segment,
        |  round(quantile_cont(gap, 0.5), 4) AS p50_days,
        |  round(quantile_cont(gap, 0.9), 4) AS p90_days,
        |  count(*) AS n_gaps
        |FROM gap GROUP BY 1 ORDER BY 1""".stripMargin,
    "q312_brand_revenue_corr" ->
      """WITH bm AS (SELECT p_brand,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) m,
        |    CAST(sum(CAST(l_extendedprice*(1 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE) r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |pr AS (SELECT a.p_brand brand_a, b.p_brand brand_b,
        |    CAST(count(*) AS BIGINT) n_months,
        |    CAST(sum(CAST(a.r AS DECIMAL(28,6))) AS DOUBLE) sx,
        |    CAST(sum(CAST(b.r AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(a.r*a.r AS DECIMAL(38,6))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(b.r*b.r AS DECIMAL(38,6))) AS DOUBLE) syy,
        |    CAST(sum(CAST(a.r*b.r AS DECIMAL(38,6))) AS DOUBLE) sxy
        |  FROM bm a JOIN bm b ON a.m = b.m AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2),
        |dn AS (SELECT *, sqrt((n_months*sxx - sx*sx)
        |    *(n_months*syy - sy*sy)) den FROM pr)
        |SELECT brand_a, brand_b, n_months,
        |  round((n_months*sxy - sx*sy)/den*1000000)/1000000.0 AS rev_corr
        |FROM dn WHERE den > 0 ORDER BY 1, 2""".stripMargin,
    "q313_intrinsic_dim" ->
      """WITH ix AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) i, embedding
        |  FROM embeddings),
        |xx0 AS (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v
        |  FROM ix),
        |cnt AS (SELECT label, CAST(count(*) AS BIGINT) c
        |  FROM embeddings GROUP BY 1),
        |bl AS (SELECT label, (c + 255) // 256 nb FROM cnt),
        |xx AS (SELECT xx0.vec_id, xx0.label, xx0.i, xx0.v,
        |    xx0.vec_id % bl.nb sb
        |  FROM xx0 JOIN bl USING (label)),
        |n2 AS (SELECT vec_id,
        |    CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE) nn
        |  FROM xx GROUP BY 1),
        |dt AS (SELECT a.label, a.vec_id src, b.vec_id dst,
        |    CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM xx a JOIN xx b ON a.i = b.i AND a.label = b.label
        |    AND a.sb = b.sb AND a.vec_id <> b.vec_id
        |  GROUP BY 1, 2, 3),
        |d2 AS (SELECT label, src, dst,
        |    na.nn - 2.0*dot + nb.nn d2
        |  FROM dt JOIN n2 na ON src = na.vec_id
        |    JOIN n2 nb ON dst = nb.vec_id),
        |r AS (SELECT label, src, d2, row_number() OVER (
        |    PARTITION BY src ORDER BY d2, dst) rnk FROM d2),
        |nn2 AS (SELECT label, src,
        |    min(CASE WHEN rnk = 1 THEN d2 END) d1,
        |    min(CASE WHEN rnk = 2 THEN d2 END) d2nd
        |  FROM r WHERE rnk <= 2 GROUP BY 1, 2),
        |tm AS (SELECT label,
        |    (d1 > 0 AND d2nd IS NOT NULL) ok,
        |    CASE WHEN d1 > 0 AND d2nd IS NOT NULL
        |      THEN round(ln(sqrt(d2nd/d1))*1e12)/1e12 END t
        |  FROM nn2),
        |ag AS (SELECT label, CAST(count(*) AS BIGINT) n_vecs,
        |    CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT)
        |      n_degenerate,
        |    CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) n_used,
        |    CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) st
        |  FROM tm GROUP BY 1)
        |SELECT label, n_vecs, n_degenerate,
        |  round(ln(2.0)/(st/n_used)*10000)/10000.0 AS intrinsic_dim
        |FROM ag WHERE st > 0 ORDER BY 1""".stripMargin,
    "q314_energy_distance" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e)) * 0.75)
        |    AS BIGINT) split_e FROM ev),
        |ph AS (SELECT event_type, value,
        |    CASE WHEN e < split_e THEN 1 ELSE 0 END tr
        |  FROM ev CROSS JOIN sp),
        |c AS (SELECT event_type, value, CAST(sum(tr) AS BIGINT) ca,
        |    CAST(sum(1 - tr) AS BIGINT) cb FROM ph GROUP BY 1, 2),
        |cum AS (SELECT event_type, value, ca, cb,
        |    sum(ca) OVER wv cuma, sum(cb) OVER wv cumb,
        |    CAST(sum(CAST(round(ca*value*1e12)/1e12 AS DECIMAL(38,12)))
        |      OVER wv AS DOUBLE) cumsa,
        |    CAST(sum(CAST(round(cb*value*1e12)/1e12 AS DECIMAL(38,12)))
        |      OVER wv AS DOUBLE) cumsb,
        |    sum(ca) OVER we na, sum(cb) OVER we nb,
        |    CAST(sum(CAST(round(ca*value*1e12)/1e12 AS DECIMAL(38,12)))
        |      OVER we AS DOUBLE) tsa,
        |    CAST(sum(CAST(round(cb*value*1e12)/1e12 AS DECIMAL(38,12)))
        |      OVER we AS DOUBLE) tsb
        |  FROM c
        |  WINDOW wv AS (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  we AS (PARTITION BY event_type)),
        |k AS (SELECT event_type,
        |    round(CAST(ca AS DOUBLE)*(value*CAST(cumb AS DOUBLE) - cumsb
        |      + (tsb - cumsb) - value*CAST(nb - cumb AS DOUBLE))*1e12)
        |      /1e12 xy,
        |    round(CAST(ca AS DOUBLE)*(value*CAST(cuma AS DOUBLE) - cumsa
        |      + (tsa - cumsa) - value*CAST(na - cuma AS DOUBLE))*1e12)
        |      /1e12 xx,
        |    round(CAST(cb AS DOUBLE)*(value*CAST(cumb AS DOUBLE) - cumsb
        |      + (tsb - cumsb) - value*CAST(nb - cumb AS DOUBLE))*1e12)
        |      /1e12 yy,
        |    na, nb
        |  FROM cum WHERE na > 0 AND nb > 0),
        |ag AS (SELECT event_type, CAST(max(na) AS BIGINT) n_train,
        |    CAST(max(nb) AS BIGINT) n_eval,
        |    CAST(sum(CAST(xy AS DECIMAL(38,6))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(xx AS DECIMAL(38,6))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(yy AS DECIMAL(38,6))) AS DOUBLE) syy
        |  FROM k GROUP BY 1)
        |SELECT event_type, n_train, n_eval,
        |  round((2.0*sxy/(CAST(n_train AS DOUBLE)*CAST(n_eval AS DOUBLE))
        |    - sxx/(CAST(n_train AS DOUBLE)*CAST(n_train AS DOUBLE))
        |    - syy/(CAST(n_eval AS DOUBLE)*CAST(n_eval AS DOUBLE)))
        |    *1000000)/1000000.0 AS energy_d2
        |FROM ag ORDER BY 1""".stripMargin,
    "q315_decayed_share" ->
      """WITH li AS (SELECT p_brand, o_orderdate,
        |    l_extendedprice*(1 - l_discount) rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey),
        |an AS (SELECT max(o_orderdate) mx FROM li),
        |d AS (SELECT p_brand,
        |    CAST(round(rev*exp(CAST(datediff('day', o_orderdate, mx)
        |      AS DOUBLE)*(-ln(2.0)/180.0))*1e12)/1e12 AS DECIMAL(38,12))
        |      wrev
        |  FROM li, an),
        |g AS (SELECT p_brand, sum(wrev) drev,
        |    CAST(count(*) AS BIGINT) n_lines FROM d GROUP BY 1),
        |t AS (SELECT sum(drev) dtot FROM g)
        |SELECT p_brand, n_lines,
        |  round(CAST(drev AS DOUBLE)*100)/100.0 AS decayed_rev,
        |  round(CAST(drev AS DOUBLE)/CAST(dtot AS DOUBLE)*1000000)
        |    /1000000.0 AS decayed_share
        |FROM g, t ORDER BY 1""".stripMargin,
    "q316_bimodality" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,8))) AS DOUBLE) s2,
        |    CAST(sum(CAST(value*value*value AS DECIMAL(38,6)))
        |      AS DOUBLE) s3,
        |    CAST(sum(CAST(value*value*value*value AS DECIMAL(38,4)))
        |      AS DOUBLE) s4
        |  FROM events GROUP BY 1),
        |mm AS (SELECT event_type, n, CAST(n AS DOUBLE) nn,
        |    s1/CAST(n AS DOUBLE) mu, s2, s3, s4 FROM m),
        |c2 AS (SELECT *, s2/nn - mu*mu m2,
        |    s3/nn - 3.0*mu*s2/nn + 2.0*mu*mu*mu m3,
        |    s4/nn - 4.0*mu*s3/nn + 6.0*mu*mu*s2/nn - 3.0*mu*mu*mu*mu m4
        |  FROM mm),
        |g AS (SELECT event_type, n, m3/sqrt(m2*m2*m2) g1,
        |    m4/(m2*m2) g2
        |  FROM c2 WHERE m2 > 0)
        |SELECT event_type, n,
        |  round(g1*1000000)/1000000.0 AS skewness,
        |  round(g2*1000000)/1000000.0 AS kurtosis,
        |  round((g1*g1 + 1.0)/g2*1000000)/1000000.0 AS bimodality,
        |  round((g1*g1 + 1.0)/g2*1000000)/1000000.0 > 0.555
        |    AS likely_bimodal
        |FROM g ORDER BY 1""".stripMargin,
    "q317_adf_test" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |pr AS (SELECT event_type, m,
        |    lag(m) OVER (PARTITION BY event_type ORDER BY d) xl
        |  FROM daily),
        |px AS (SELECT event_type, xl,
        |    round((m - xl)*1e12)/1e12 dx
        |  FROM pr WHERE xl IS NOT NULL),
        |mo AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(xl AS DECIMAL(38,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(dx AS DECIMAL(38,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(xl*xl AS DECIMAL(38,10))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(xl*dx AS DECIMAL(38,10))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(dx*dx AS DECIMAL(38,10))) AS DOUBLE) syy
        |  FROM px GROUP BY 1),
        |fit AS (SELECT event_type, n, CAST(n AS DOUBLE) nn, sx, sy,
        |    sxx, sxy, syy, sxx - sx*sx/CAST(n AS DOUBLE) vx
        |  FROM mo WHERE n > 2),
        |b AS (SELECT *, (sxy - sx*sy/nn)/vx beta FROM fit WHERE vx > 0),
        |e AS (SELECT *, sy/nn - beta*sx/nn alpha FROM b),
        |s AS (SELECT *, syy - alpha*sy - beta*sxy sse FROM e),
        |t AS (SELECT event_type, n, beta,
        |    beta/sqrt(greatest(sse, 0.0)/(nn - 2)/vx) tstat FROM s)
        |SELECT event_type, n AS n_days,
        |  round(beta*1000000)/1000000.0 AS beta,
        |  round(tstat*1000000)/1000000.0 AS adf_t,
        |  round(tstat*1000000)/1000000.0 < -2.86 AS mean_reverting
        |FROM t ORDER BY 1""".stripMargin,
    "q318_holt_damped" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1),
        |r AS (
        |  SELECT d1.event_type, CAST(2 AS BIGINT) AS t, d2.m AS l,
        |    d2.m - d1.m AS b, CAST(0.0 AS DOUBLE) AS sae
        |  FROM idx d1 JOIN idx d2 ON d1.event_type = d2.event_type
        |    AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    round((0.5*d.m + 0.5*(r.l + 0.9*r.b))*1e12)/1e12,
        |    round((0.3*(round((0.5*d.m + 0.5*(r.l + 0.9*r.b))*1e12)/1e12
        |      - r.l) + 0.7*0.9*r.b)*1e12)/1e12,
        |    r.sae + round(abs(d.m - (r.l + 0.9*r.b))*1e12)/1e12
        |  FROM r JOIN idx d ON d.event_type = r.event_type
        |    AND d.rn = r.t + 1)
        |SELECT r.event_type, r.t AS n_days,
        |  round(r.l*1000000)/1000000.0 AS level,
        |  round(r.b*1000000)/1000000.0 AS trend,
        |  round((r.l + 0.9*(1.0 - 0.9*0.9*0.9*0.9*0.9*0.9*0.9)/0.1*r.b)
        |    *1000000)/1000000.0 AS forecast_7d,
        |  round((CASE WHEN r.t > 2 THEN r.sae/CAST(r.t - 2 AS DOUBLE)
        |    ELSE 0.0 END)*1000000)/1000000.0 AS mae
        |FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t
        |ORDER BY 1""".stripMargin,
    "q319_croston" ->
      """WITH RECURSIVE dem AS (SELECT l_partkey,
        |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) dd,
        |    CAST(l_quantity AS DECIMAL(18,2)) q
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |top AS (SELECT l_partkey FROM
        |  (SELECT l_partkey, count(*) nl FROM dem GROUP BY 1) c
        |  ORDER BY nl DESC, l_partkey LIMIT 10),
        |daily AS (SELECT dem.l_partkey, dd,
        |    CAST(sum(q) AS DOUBLE) q
        |  FROM dem JOIN top ON dem.l_partkey = top.l_partkey
        |  GROUP BY 1, 2),
        |idx AS (SELECT l_partkey, dd, q,
        |    CAST(row_number() OVER (PARTITION BY l_partkey ORDER BY dd)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT l_partkey, max(rn) t FROM idx GROUP BY 1
        |  HAVING max(rn) >= 2),
        |r AS (
        |  SELECT d1.l_partkey, CAST(2 AS BIGINT) AS t,
        |    round((0.2*d2.q + 0.8*d1.q)*1e12)/1e12 AS z,
        |    CAST(d2.dd - d1.dd AS DOUBLE) AS p, d2.dd AS d
        |  FROM idx d1 JOIN idx d2 ON d1.l_partkey = d2.l_partkey
        |    AND d1.rn = 1 AND d2.rn = 2
        |  UNION ALL
        |  SELECT r.l_partkey, r.t + 1,
        |    round((0.2*e.q + 0.8*r.z)*1e12)/1e12,
        |    round((0.2*CAST(e.dd - r.d AS DOUBLE) + 0.8*r.p)*1e12)/1e12,
        |    e.dd
        |  FROM r JOIN idx e ON e.l_partkey = r.l_partkey
        |    AND e.rn = r.t + 1)
        |SELECT r.l_partkey, r.t AS n_demand_days,
        |  round(r.z*1000000)/1000000.0 AS smoothed_size,
        |  round(r.p*1000000)/1000000.0 AS smoothed_interval,
        |  round(r.z/r.p*1000000)/1000000.0 AS demand_rate
        |FROM r JOIN tt ON r.l_partkey = tt.l_partkey AND r.t = tt.t
        |ORDER BY 1""".stripMargin,
    "q320_gap_percentiles" ->
      """WITH g1 AS (SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY event_type ORDER BY ts, event_id) g
        |  FROM events),
        |g2 AS (SELECT event_type, CAST(g AS DOUBLE) g FROM g1
        |  WHERE g IS NOT NULL)
        |SELECT event_type,
        |  round(quantile_cont(g, 0.5), 4) AS p50_sec,
        |  round(quantile_cont(g, 0.9), 4) AS p90_sec,
        |  round(quantile_cont(g, 0.99), 4) AS p99_sec,
        |  count(*) AS n_gaps
        |FROM g2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q321_mutual_information" ->
      """WITH q AS (SELECT quantile_cont(value, 0.25) b1,
        |    quantile_cont(value, 0.5) b2,
        |    quantile_cont(value, 0.75) b3 FROM events),
        |b AS (SELECT event_type,
        |    CASE WHEN value <= b1 THEN 0 WHEN value <= b2 THEN 1
        |      WHEN value <= b3 THEN 2 ELSE 3 END bkt
        |  FROM events, q),
        |cells AS (SELECT event_type, bkt, CAST(count(*) AS BIGINT) nij
        |  FROM b GROUP BY 1, 2),
        |rws AS (SELECT event_type, CAST(sum(nij) AS BIGINT) ni
        |  FROM cells GROUP BY 1),
        |cls AS (SELECT bkt, CAST(sum(nij) AS BIGINT) nj FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(nij) AS BIGINT) n FROM cells),
        |mi AS (SELECT CAST(max(n) AS BIGINT) n_events,
        |    round(CAST(sum(CAST(round(nij/CAST(n AS DOUBLE)
        |      *ln(CAST(nij AS DOUBLE)*CAST(n AS DOUBLE)
        |        /(CAST(ni AS DOUBLE)*CAST(nj AS DOUBLE)))*1e12)/1e12
        |      AS DECIMAL(38,12))) AS DOUBLE)*1000000)/1000000.0 mi_nats
        |  FROM cells JOIN rws ON cells.event_type = rws.event_type
        |    JOIN cls ON cells.bkt = cls.bkt, tot),
        |ht AS (SELECT round(CAST(sum(CAST(round(-(ni/CAST(n AS DOUBLE))
        |      *ln(ni/CAST(n AS DOUBLE))*1e12)/1e12 AS DECIMAL(38,12)))
        |    AS DOUBLE)*1000000)/1000000.0 h_type
        |  FROM rws, tot),
        |hb AS (SELECT round(CAST(sum(CAST(round(-(nj/CAST(n AS DOUBLE))
        |      *ln(nj/CAST(n AS DOUBLE))*1e12)/1e12 AS DECIMAL(38,12)))
        |    AS DOUBLE)*1000000)/1000000.0 h_bucket
        |  FROM cls, tot)
        |SELECT n_events, mi_nats, h_type, h_bucket FROM mi, ht, hb"""
        .stripMargin,
    "q323_dim_variance" ->
      """WITH ix AS (SELECT vec_id,
        |    unnest(generate_series(1, len(embedding))) i, embedding
        |  FROM embeddings),
        |xx AS (SELECT CAST(i - 1 AS INT) dim,
        |    CAST(embedding[i] AS DOUBLE) x FROM ix),
        |m AS (SELECT dim, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) s1,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) s2
        |  FROM xx GROUP BY 1),
        |v1 AS (SELECT dim, CAST(n AS DOUBLE) nn, s1, s2,
        |    s1/CAST(n AS DOUBLE) mu FROM m),
        |v2 AS (SELECT dim, mu, s2/nn - mu*mu v FROM v1),
        |tot AS (SELECT CAST(sum(CAST(round(v*1e12)/1e12
        |    AS DECIMAL(38,12))) AS DOUBLE) tv FROM v2)
        |SELECT dim, round(mu*1000000)/1000000.0 AS mean,
        |  round(v*1000000)/1000000.0 AS variance,
        |  round(v/tv*1000000)/1000000.0 AS var_share,
        |  round(v*1000000)/1000000.0 < 0.0001 AS near_zero
        |FROM v2, tot ORDER BY 1""".stripMargin,
    "q324_anomaly_mtbf" ->
      """WITH st AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,8))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |fl AS (SELECT events.event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, event_id
        |  FROM events JOIN st ON events.event_type = st.event_type
        |  WHERE (value*n - s1)*(value*n - s1) > 9.0*(n*s2 - s1*s1)),
        |g AS (SELECT event_type, e - lag(e) OVER (
        |    PARTITION BY event_type ORDER BY e, event_id) g
        |  FROM fl),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) n_gaps,
        |    CAST(sum(g) AS BIGINT) sg, CAST(max(g) AS BIGINT)
        |      max_quiet_sec
        |  FROM g WHERE g IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_gaps + 1 AS n_anomalies,
        |  round(CAST(sg AS DOUBLE)/CAST(n_gaps AS DOUBLE)*100)/100.0
        |    AS mtba_sec,
        |  max_quiet_sec
        |FROM ag ORDER BY 1""".stripMargin,
    "q325_abc_xyz" ->
      """WITH pm AS (SELECT l_partkey,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) m,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) qm,
        |    sum(CAST(l_extendedprice*(1 - l_discount) AS DECIMAL(18,6)))
        |      revm
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |pp AS (SELECT l_partkey, sum(revm) prev,
        |    CAST(count(*) AS BIGINT) nm,
        |    CAST(sum(CAST(qm AS DECIMAL(28,6))) AS DOUBLE) sq,
        |    CAST(sum(CAST(qm*qm AS DECIMAL(38,6))) AS DOUBLE) sqq
        |  FROM pm GROUP BY 1),
        |cvt AS (SELECT l_partkey, prev, sq/nm mu, nm, sqq FROM pp),
        |cv AS (SELECT l_partkey, prev,
        |    CASE WHEN mu > 0 THEN round(sqrt(greatest(sqq/nm - mu*mu,
        |      0.0))/mu*1e12)/1e12 ELSE 0.0 END cv
        |  FROM cvt),
        |tr AS (SELECT sum(prev) trev FROM pp),
        |cl AS (SELECT l_partkey, prev, cv,
        |    CAST(sum(prev) OVER (ORDER BY prev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE)/CAST(trev AS DOUBLE) cum_share, trev
        |  FROM cv, tr),
        |lab AS (SELECT prev, trev,
        |    CASE WHEN cum_share <= 0.8 THEN 'A'
        |      WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END abc,
        |    CASE WHEN cv <= 0.5 THEN 'X' WHEN cv <= 1.0 THEN 'Y'
        |      ELSE 'Z' END xyz
        |  FROM cl)
        |SELECT abc, xyz, CAST(count(*) AS BIGINT) n_parts,
        |  round(CAST(sum(prev) AS DOUBLE)/CAST(max(trev) AS DOUBLE)
        |    *1000000)/1000000.0 AS rev_share
        |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q326_pairwise_contrasts" ->
      """WITH m AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,8))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |mm AS (SELECT event_type, n, round(s1/n*1e12)/1e12 mu,
        |    s2 - s1*s1/n ssw FROM m),
        |pl AS (SELECT CAST(sum(n) AS BIGINT) nt,
        |    CAST(count(*) AS BIGINT) k,
        |    round(CAST(sum(CAST(round(ssw*1e12)/1e12 AS DECIMAL(38,10)))
        |      AS DOUBLE)*1e12)/1e12 ssw_tot
        |  FROM mm),
        |ps AS (SELECT *, round(ssw_tot/(nt - k)*1e12)/1e12 mse FROM pl)
        |SELECT a.event_type type_a, b.event_type type_b,
        |  round((a.mu - b.mu)*1000000)/1000000.0 AS mean_diff,
        |  round((a.mu - b.mu)/sqrt(mse*(1.0/a.n + 1.0/b.n))*1000000)
        |    /1000000.0 AS t_stat,
        |  abs(round((a.mu - b.mu)/sqrt(mse*(1.0/a.n + 1.0/b.n))*1000000)
        |    /1000000.0) > 3.0 AS significant
        |FROM mm a JOIN mm b ON a.event_type < b.event_type, ps
        |ORDER BY 1, 2""".stripMargin,
    "q327_neyman_allocation" ->
      """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) nh,
        |    CAST(sum(CAST(n_chars AS DECIMAL(28,4))) AS DOUBLE) s1,
        |    CAST(sum(CAST(n_chars*n_chars AS DECIMAL(38,4)))
        |      AS DOUBLE) s2
        |  FROM documents GROUP BY 1),
        |mm AS (SELECT source, nh, s1/nh mu, s2 FROM m),
        |sg AS (SELECT source, nh,
        |    round(sqrt(greatest(s2/nh - mu*mu, 0.0))*1e12)/1e12 sg
        |  FROM mm),
        |wg AS (SELECT source, nh, sg,
        |    round(nh*sg*1e12)/1e12 wgt FROM sg),
        |tt AS (SELECT round(CAST(sum(CAST(wgt AS DECIMAL(38,10)))
        |    AS DOUBLE)*1e12)/1e12 wtot FROM wg),
        |sh AS (SELECT source, nh, sg,
        |    round(wgt/wtot*1e12)/1e12 shr FROM wg, tt)
        |SELECT source, nh AS n_docs,
        |  round(sg*100)/100.0 AS sigma_chars,
        |  round(shr*1000000)/1000000.0 AS alloc_share,
        |  CAST(floor(shr*10000) AS BIGINT) AS n_sample,
        |  round(least(shr*10000/nh, 1.0)*1000000)/1000000.0
        |    AS sampling_frac
        |FROM sh ORDER BY 1""".stripMargin,
    "q328_forecast_reconciliation" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT '__TOTAL__' event_type, d,
        |    round(CAST(sum(CAST(m AS DECIMAL(38,12))) AS DOUBLE)*1e12)
        |      /1e12 m
        |  FROM daily GROUP BY d),
        |d2 AS (SELECT * FROM daily UNION ALL SELECT * FROM tot),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM d2),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1),
        |r AS (
        |  SELECT d1.event_type, CAST(2 AS BIGINT) AS t, dd2.m AS l,
        |    dd2.m - d1.m AS b
        |  FROM idx d1 JOIN idx dd2 ON d1.event_type = dd2.event_type
        |    AND d1.rn = 1 AND dd2.rn = 2
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    round((0.5*e.m + 0.5*(r.l + r.b))*1e12)/1e12,
        |    round((0.3*(round((0.5*e.m + 0.5*(r.l + r.b))*1e12)/1e12
        |      - r.l) + 0.7*r.b)*1e12)/1e12
        |  FROM r JOIN idx e ON e.event_type = r.event_type
        |    AND e.rn = r.t + 1),
        |fin AS (SELECT r.event_type,
        |    round((r.l + 7.0*r.b)*1000000)/1000000.0 forecast
        |  FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t),
        |ag AS (SELECT
        |    CAST(sum(CASE WHEN event_type <> '__TOTAL__' THEN 1 ELSE 0
        |      END) AS BIGINT) n_series,
        |    CAST(sum(CASE WHEN event_type <> '__TOTAL__'
        |      THEN CAST(forecast AS DECIMAL(28,6)) END) AS DOUBLE) bu,
        |    max(CASE WHEN event_type = '__TOTAL__' THEN forecast END) td
        |  FROM fin)
        |SELECT n_series,
        |  round(bu*10000)/10000.0 AS bottom_up_7d,
        |  round(td*10000)/10000.0 AS top_down_7d,
        |  round((bu - td)*10000)/10000.0 + 0.0 AS recon_gap
        |FROM ag""".stripMargin,
    "q329_brand_cagr" ->
      """WITH bm AS (SELECT p_brand,
        |    CAST(year(o_orderdate)*12 + month(o_orderdate) AS BIGINT) m,
        |    sum(CAST(l_extendedprice*(1 - l_discount) AS DECIMAL(18,6)))
        |      rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |    JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ag AS (SELECT p_brand, CAST(count(*) AS BIGINT) n_months,
        |    min(m) mfirst, max(m) mlast FROM bm GROUP BY 1
        |  HAVING count(*) >= 2),
        |fr AS (SELECT ag.p_brand, n_months, bf.rev frev, bl.rev lrev
        |  FROM ag JOIN bm bf ON ag.p_brand = bf.p_brand
        |    AND bf.m = ag.mfirst
        |  JOIN bm bl ON ag.p_brand = bl.p_brand AND bl.m = ag.mlast),
        |g AS (SELECT p_brand, n_months, frev, lrev,
        |    round((ln(CAST(lrev AS DOUBLE)) - ln(CAST(frev AS DOUBLE)))
        |      /CAST(n_months - 1 AS DOUBLE)*1e12)/1e12 g
        |  FROM fr)
        |SELECT p_brand, n_months,
        |  round(CAST(frev AS DOUBLE)*100)/100.0 AS first_month_rev,
        |  round(CAST(lrev AS DOUBLE)*100)/100.0 AS last_month_rev,
        |  round((exp(g) - 1.0)*1000000)/1000000.0 AS monthly_growth
        |FROM g ORDER BY 1""".stripMargin,
    "q330_survivor_bias" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz0 AS MATERIALIZED (SELECT doc_id, band, sig,
        |                count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id
        |          WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |           SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |           FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS MATERIALIZED (SELECT doc_a u, doc_b v FROM allp
        |          UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |mem AS (SELECT dd.doc_id, dd.n_chars, coalesce(cc.comp, dd.doc_id) cluster_id
        |        FROM documents dd LEFT JOIN cc ON dd.doc_id = cc.node),
        |kp AS (SELECT cluster_id, CAST(count(*) AS BIGINT) cluster_size,
        |              max(n_chars) mx FROM mem GROUP BY 1),
        |k2 AS (SELECT m.cluster_id, min(m.doc_id) keeper_id
        |       FROM mem m JOIN kp ON m.cluster_id = kp.cluster_id AND m.n_chars = kp.mx
        |       GROUP BY 1),
        |sv AS (SELECT m.doc_id, m.doc_id = k2.keeper_id AS is_kept
        |  FROM mem m JOIN k2 USING (cluster_id)),
        |ag AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT)
        |      n_kept
        |  FROM documents JOIN sv ON documents.doc_id = sv.doc_id
        |  GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) td,
        |    CAST(sum(n_kept) AS BIGINT) tk FROM ag)
        |SELECT source, n_docs, n_kept,
        |  round(CAST(n_kept AS DOUBLE)/CAST(n_docs AS DOUBLE)*10000)
        |    /10000.0 AS keep_rate,
        |  round(CAST(n_kept AS DOUBLE)/CAST(tk AS DOUBLE)
        |    /(CAST(n_docs AS DOUBLE)/CAST(td AS DOUBLE))*10000)/10000.0
        |    AS representation_ratio
        |FROM ag, tt ORDER BY 1""".stripMargin,
    "q331_price_elasticity" ->
      """WITH xy AS (SELECT p_brand,
        |    round(ln(CAST(l_extendedprice/l_quantity AS DOUBLE))*1e12)
        |      /1e12 x,
        |    round(ln(CAST(l_quantity AS DOUBLE))*1e12)/1e12 y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |mo AS (SELECT p_brand, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,10))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(38,10))) AS DOUBLE) syy
        |  FROM xy GROUP BY 1),
        |v AS (SELECT p_brand, n, CAST(n AS DOUBLE) nn, sx, sy, sxx,
        |    sxy, syy FROM mo),
        |w AS (SELECT p_brand, n,
        |    sxx - sx*sx/nn vx, syy - sy*sy/nn vy,
        |    sxy - sx*sy/nn cxy FROM v)
        |SELECT p_brand, n,
        |  round(cxy/vx*1000000)/1000000.0 AS elasticity,
        |  round(cxy*cxy/(vx*vy)*1000000)/1000000.0 AS r2
        |FROM w WHERE vx > 0 AND vy > 0 ORDER BY 1""".stripMargin,
    "q332_nbd_fit" ->
      """WITH per AS (SELECT o_custkey, CAST(count(*) AS BIGINT) k
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) n_customers,
        |    CAST(sum(k) AS BIGINT) s1, CAST(sum(k*k) AS BIGINT) s2
        |  FROM per),
        |x AS (SELECT n_customers, CAST(n_customers AS DOUBLE) nn,
        |    round(CAST(s1 AS DOUBLE)/CAST(n_customers AS DOUBLE)*1e12)
        |      /1e12 mu, s2 FROM m),
        |y AS (SELECT n_customers, mu,
        |    round((CAST(s2 AS DOUBLE)/nn - mu*mu)*1e12)/1e12 v FROM x)
        |SELECT n_customers,
        |  round(mu*10000)/10000.0 AS mean_orders,
        |  round(v*10000)/10000.0 AS var_orders,
        |  v > mu AS overdispersed,
        |  round((CASE WHEN v > mu THEN mu*mu/(v - mu) ELSE 0.0 END)
        |    *10000)/10000.0 AS nb_r,
        |  round((CASE WHEN v > mu THEN mu/v ELSE 1.0 END)*10000)/10000.0
        |    AS nb_p
        |FROM y""".stripMargin,
    "q333_mase_baselines" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, m,
        |    row_number() OVER w rn,
        |    lag(m, 1) OVER w l1, lag(m, 7) OVER w l7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |e AS (SELECT event_type,
        |    round(abs(m - l1)*1e12)/1e12 e1,
        |    round(abs(m - l7)*1e12)/1e12 e7
        |  FROM lg WHERE rn > 7),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) n_eval,
        |    CAST(sum(CAST(e1 AS DECIMAL(38,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(e7 AS DECIMAL(38,12))) AS DOUBLE) s7
        |  FROM e GROUP BY 1)
        |SELECT event_type, n_eval,
        |  round(s1/n_eval*1000000)/1000000.0 AS mae_naive,
        |  round(s7/n_eval*1000000)/1000000.0 AS mae_seasonal,
        |  round(s7/s1*1000000)/1000000.0 AS mase,
        |  round(s7/s1*1000000)/1000000.0 < 1.0 AS weekly_signal
        |FROM ag WHERE s1 > 0 ORDER BY 1""".stripMargin,
    "q334_char_entropy" ->
      """WITH ch AS (SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), '')) ch
        |  FROM documents),
        |c AS (SELECT source, ch, CAST(count(*) AS BIGINT) c
        |  FROM ch WHERE length(ch) = 1 GROUP BY 1, 2),
        |t AS (SELECT source, CAST(sum(c) AS BIGINT) n,
        |    CAST(count(*) AS BIGINT) alphabet FROM c GROUP BY 1),
        |k AS (SELECT c.source, n, alphabet,
        |    round(-(CAST(c AS DOUBLE)/n)*log2(CAST(c AS DOUBLE)/n)*1e12)
        |      /1e12 t
        |  FROM c JOIN t ON c.source = t.source)
        |SELECT source, max(n) n_chars, max(alphabet) alphabet,
        |  round(CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE)*1000000)
        |    /1000000.0 AS char_entropy_bits
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "q335_session_depth" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) ep FROM events),
        |l AS (SELECT user_id, ep,
        |    lag(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id)
        |      prev
        |  FROM e),
        |m AS (SELECT user_id, ep,
        |    CASE WHEN prev IS NULL OR ep - prev > 14400 THEN 1 ELSE 0
        |      END is_new
        |  FROM l),
        |s AS (SELECT user_id, ep,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ep
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) sess_n
        |  FROM m),
        |g AS (SELECT user_id, sess_n, CAST(count(*) AS BIGINT) n_events
        |  FROM s GROUP BY 1, 2),
        |b AS (SELECT CAST(length(bin(n_events)) - 1 AS INT) bkt,
        |    n_events FROM g),
        |tt AS (SELECT CAST(count(*) AS BIGINT) ts,
        |    CAST(sum(n_events) AS BIGINT) te FROM b)
        |SELECT bkt AS log2_depth, CAST(count(*) AS BIGINT) n_sessions,
        |  CAST(sum(n_events) AS BIGINT) n_events,
        |  round(CAST(count(*) AS DOUBLE)/CAST(ts AS DOUBLE)*10000)
        |    /10000.0 AS session_share,
        |  round(CAST(sum(n_events) AS DOUBLE)/CAST(te AS DOUBLE)*10000)
        |    /10000.0 AS event_share
        |FROM b, tt GROUP BY 1, ts, te ORDER BY 1""".stripMargin,
    "q336_type_user_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) nu FROM tu
        |  GROUP BY 1),
        |iv AS (SELECT a.event_type type_a, b.event_type type_b,
        |    CAST(count(*) AS BIGINT) n_both
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both,
        |  round(CAST(n_both AS DOUBLE)
        |    /CAST(sa.nu + sb.nu - n_both AS DOUBLE)*1000000)/1000000.0
        |    AS user_jaccard
        |FROM iv JOIN sz sa ON type_a = sa.event_type
        |  JOIN sz sb ON type_b = sb.event_type
        |ORDER BY 1, 2""".stripMargin,
    "q337_weibull_fit" ->
      """WITH g0 AS (SELECT o_custkey, o_orderdate,
        |    lag(o_orderdate) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) prev
        |  FROM orders),
        |gp AS (SELECT c_mktsegment segment,
        |    datediff('day', prev, o_orderdate) gap
        |  FROM g0 JOIN customer ON o_custkey = c_custkey
        |  WHERE prev IS NOT NULL
        |    AND datediff('day', prev, o_orderdate) > 0),
        |rk AS (SELECT segment, gap,
        |    CAST(row_number() OVER (PARTITION BY segment ORDER BY gap)
        |      AS BIGINT) i,
        |    CAST(count(*) OVER (PARTITION BY segment) AS BIGINT) n
        |  FROM gp),
        |xy AS (SELECT segment,
        |    round(ln(CAST(gap AS DOUBLE))*1e12)/1e12 x,
        |    round(ln(-ln(1.0 - (i - 0.3)/(n + 0.4)))*1e12)/1e12 y
        |  FROM rk),
        |mo AS (SELECT segment, CAST(count(*) AS BIGINT) n_gaps,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,10))) AS DOUBLE) sxy
        |  FROM xy GROUP BY 1),
        |ft AS (SELECT segment, n_gaps, CAST(n_gaps AS DOUBLE) nn, sx, sy,
        |    sxx, sxy FROM mo),
        |k AS (SELECT segment, n_gaps,
        |    (sxy - sx*sy/nn)/(sxx - sx*sx/nn) k, sx, sy, nn FROM ft),
        |lm AS (SELECT segment, n_gaps, k,
        |    sx/nn - (sy/nn)/k lnlam FROM k)
        |SELECT segment, n_gaps,
        |  round(k*1000000)/1000000.0 AS shape_k,
        |  round(exp(lnlam)*10000)/10000.0 AS scale_days,
        |  round(k*1000000)/1000000.0 < 1.0 AS front_loaded
        |FROM lm ORDER BY 1""".stripMargin,
    "q338_order_day_streaks" ->
      """WITH days AS (SELECT DISTINCT
        |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) d
        |  FROM orders),
        |isl AS (SELECT d, d - row_number() OVER (ORDER BY d) island
        |  FROM days),
        |st AS (SELECT island, CAST(count(*) AS BIGINT) len FROM isl
        |  GROUP BY 1),
        |gp AS (SELECT coalesce(max(nxt - d - 1), 0) max_gap_days,
        |    CAST(count(*) AS BIGINT) n_gaps
        |  FROM (SELECT d, lead(d) OVER (ORDER BY d) nxt FROM isl)
        |  WHERE nxt IS NOT NULL AND nxt > d + 1)
        |SELECT CAST(count(*) AS BIGINT) n_streaks,
        |  CAST(max(len) AS BIGINT) longest_streak_days,
        |  CAST(sum(len) AS BIGINT) n_active_days,
        |  CAST(max_gap_days AS BIGINT) max_gap_days, n_gaps
        |FROM st, gp GROUP BY max_gap_days, n_gaps""".stripMargin,
    "q339_priority_inversion" ->
      """WITH lat AS (SELECT
        |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) d,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 'hi' ELSE 'lo' END cls,
        |    CAST(datediff('day', o_orderdate, l_shipdate) AS DOUBLE) lat
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |md AS (SELECT d, cls, quantile_cont(lat, 0.5) med
        |  FROM lat GROUP BY 1, 2),
        |hi AS (SELECT d, med mhi FROM md WHERE cls = 'hi'),
        |lo AS (SELECT d, med mlo FROM md WHERE cls = 'lo'),
        |j AS (SELECT hi.d, mhi, mlo FROM hi JOIN lo ON hi.d = lo.d)
        |SELECT CAST(count(*) AS BIGINT) n_days_both,
        |  CAST(sum(CASE WHEN mhi > mlo THEN 1 ELSE 0 END) AS BIGINT)
        |    n_inversion_days,
        |  round(CAST(sum(CASE WHEN mhi > mlo THEN 1 ELSE 0 END)
        |    AS DOUBLE)/CAST(count(*) AS DOUBLE)*10000)/10000.0
        |    AS inversion_rate
        |FROM j""".stripMargin,
    "q340_lognormal_fit" ->
      """WITH xs AS (SELECT source,
        |    round(ln(CAST(n_chars AS DOUBLE))*1e12)/1e12 x,
        |    CAST(n_chars AS DOUBLE) len
        |  FROM documents WHERE n_chars > 0),
        |m AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) s2
        |  FROM xs GROUP BY 1),
        |f AS (SELECT source, n_docs,
        |    round(s1/n_docs*1e12)/1e12 mu, s2 FROM m),
        |g AS (SELECT source, n_docs, mu,
        |    round(sqrt(greatest(s2/n_docs - mu*mu, 0.0))*1e12)/1e12 sg
        |  FROM f),
        |md AS (SELECT source, quantile_cont(len, 0.5) med FROM xs
        |  GROUP BY 1)
        |SELECT g.source, n_docs,
        |  round(mu*1000000)/1000000.0 AS ln_mu,
        |  round(sg*1000000)/1000000.0 AS ln_sigma,
        |  round(exp(mu)*100)/100.0 AS fitted_median,
        |  round(med*100)/100.0 AS actual_median,
        |  round(exp(mu)/med*10000)/10000.0 AS median_ratio
        |FROM g JOIN md ON g.source = md.source ORDER BY 1""".stripMargin,
    "q341_quantile_shift" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e)) * 0.75)
        |    AS BIGINT) split_e FROM ev),
        |ph AS (SELECT event_type,
        |    CASE WHEN e < split_e THEN 'tr' ELSE 'ev' END phase, value
        |  FROM ev CROSS JOIN sp),
        |qv AS (SELECT event_type, phase,
        |    quantile_cont(value, 0.10) q10, quantile_cont(value, 0.25) q25,
        |    quantile_cont(value, 0.50) q50, quantile_cont(value, 0.75) q75,
        |    quantile_cont(value, 0.90) q90
        |  FROM ph GROUP BY 1, 2),
        |lg AS (SELECT event_type, phase, qn quantile, q
        |  FROM qv UNPIVOT (q FOR qn IN (q10, q25, q50, q75, q90))),
        |pv AS (SELECT event_type, quantile,
        |    min(CASE WHEN phase = 'tr' THEN q END) tr,
        |    min(CASE WHEN phase = 'ev' THEN q END) ev
        |  FROM lg GROUP BY 1, 2)
        |SELECT event_type, quantile,
        |  round(tr*10000)/10000.0 AS train_q,
        |  round(ev*10000)/10000.0 AS eval_q,
        |  round((ev - tr)*10000)/10000.0 + 0.0 AS shift
        |FROM pv WHERE tr IS NOT NULL AND ev IS NOT NULL
        |ORDER BY 1, 2""".stripMargin,
    "q342_top_heavy" ->
      """WITH per AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) rev
        |  FROM orders GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) n_total FROM per),
        |rk AS (SELECT rev, n_total, CAST(row_number() OVER (
        |    ORDER BY rev DESC, o_custkey) AS BIGINT) rn FROM per, n)
        |SELECT CAST(max(n_total) AS BIGINT) n_customers,
        |  round(CAST(sum(CASE WHEN rn <= ceil(n_total*0.01) THEN rev END)
        |    AS DOUBLE)/CAST(sum(rev) AS DOUBLE)*1000000)/1000000.0
        |    AS top1_share,
        |  round(CAST(sum(CASE WHEN rn <= ceil(n_total*0.10) THEN rev END)
        |    AS DOUBLE)/CAST(sum(rev) AS DOUBLE)*1000000)/1000000.0
        |    AS top10_share,
        |  round(CAST(sum(CASE WHEN rn <= ceil(n_total*0.01) THEN rev END)
        |    AS DOUBLE)/CAST(sum(CASE WHEN rn <= ceil(n_total*0.10)
        |      THEN rev END) AS DOUBLE)*1000000)/1000000.0
        |    AS top1_of_top10
        |FROM rk""".stripMargin,
    "q343_bass_diffusion" ->
      """WITH fo AS (SELECT o_custkey,
        |    CAST(floor(min(epoch(o_orderdate))/86400) AS BIGINT) d
        |  FROM orders GROUP BY 1),
        |daily AS (SELECT d, CAST(count(*) AS DOUBLE) y FROM fo GROUP BY 1),
        |cm AS (SELECT d, y, coalesce(sum(y) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) x1
        |  FROM daily),
        |cm2 AS (SELECT y, x1, x1*x1 x2 FROM cm),
        |m AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(x2 AS DECIMAL(38,6))) AS DOUBLE) s2,
        |    CAST(sum(CAST(x1*x1 AS DECIMAL(38,6))) AS DOUBLE) s11,
        |    CAST(sum(CAST(x1*x2 AS DECIMAL(38,6))) AS DOUBLE) s12,
        |    CAST(sum(CAST(x2*x2 AS DECIMAL(38,6))) AS DOUBLE) s22,
        |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x1*y AS DECIMAL(38,6))) AS DOUBLE) s1y,
        |    CAST(sum(CAST(x2*y AS DECIMAL(38,6))) AS DOUBLE) s2y
        |  FROM cm2),
        |dets AS (SELECT n, CAST(n AS DOUBLE) nn, s1, s2, s11, s12, s22,
        |    sy, s1y, s2y FROM m),
        |dv AS (SELECT n,
        |    nn*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2)
        |      + s2*(s1*s12 - s11*s2) det,
        |    sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y)
        |      + s2*(s1y*s12 - s11*s2y) det0,
        |    nn*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2)
        |      + s2*(s1*s2y - s1y*s2) det1,
        |    nn*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
        |      + sy*(s1*s12 - s11*s2) det2
        |  FROM dets),
        |abc AS (SELECT n, round(det0/det*1e12)/1e12 + 0.0 a,
        |    round(det1/det*1e12)/1e12 + 0.0 b,
        |    round(det2/det*1e12)/1e12 + 0.0 c FROM dv),
        |rt AS (SELECT n, a, b, c, b*b - 4.0*c*a disc FROM abc),
        |mh AS (SELECT n, a, b, c,
        |    CASE WHEN disc >= 0 AND c <> 0.0 THEN
        |      greatest((-b + sqrt(disc))/(2.0*c),
        |               (-b - sqrt(disc))/(2.0*c)) END m_raw FROM rt),
        |pq AS (SELECT n, a, b, c, m_raw,
        |    round(a/m_raw*1e12)/1e12 + 0.0 p,
        |    round(-c*m_raw*1e12)/1e12 + 0.0 q FROM mh)
        |SELECT n AS n_days, a AS beta0, b AS beta1, c AS beta2,
        |  round(m_raw*100)/100.0 + 0.0 AS m_hat,
        |  p AS p_hat, q AS q_hat,
        |  CASE WHEN p > 0 AND q > 0 THEN
        |    round(ln(q/p)/(p+q)*100)/100.0 + 0.0 END AS peak_day
        |FROM pq""".stripMargin,
    "q344_chunk_ttr" ->
      """WITH d AS (SELECT doc_id, source, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT doc_id, source, w,
        |    unnest(generate_series(1, len(w))) g FROM d),
        |tk AS (SELECT doc_id, source,
        |    CAST(floor((g-1)/50) AS BIGINT) chk, w[g] tok FROM ix),
        |ch AS (SELECT source, doc_id, chk, count(*) n_tok,
        |    count(DISTINCT tok) n_types FROM tk GROUP BY 1, 2, 3),
        |fc AS (SELECT source, CAST(count(*) AS BIGINT) n_chunks,
        |    CAST(sum(n_types) AS BIGINT) st, CAST(sum(n_tok) AS BIGINT) sn
        |  FROM ch WHERE n_tok = 50 GROUP BY 1),
        |g AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) nd,
        |    CAST(count(*) AS BIGINT) nt FROM tk GROUP BY 1)
        |SELECT fc.source, n_chunks,
        |  round(CAST(st AS DOUBLE)/sn*10000)/10000.0 AS mattr,
        |  round(CAST(nd AS DOUBLE)/nt*10000)/10000.0 AS global_ttr,
        |  round((CAST(st AS DOUBLE)/sn)/(CAST(nd AS DOUBLE)/nt)
        |    *10000)/10000.0 AS diversity_gain
        |FROM fc JOIN g ON fc.source = g.source ORDER BY 1""".stripMargin,
    "q345_wilson_returns" ->
      """WITH g AS (SELECT
        |    CAST((CAST(floor(epoch(l_shipdate)/86400) AS BIGINT) + 4) % 7
        |      AS INT) ship_dow,
        |    CAST(count(*) AS BIGINT) n_lines,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) n_returns
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT ship_dow, n_lines, n_returns,
        |    CAST(n_lines AS DOUBLE) nn,
        |    CAST(n_returns AS DOUBLE)/CAST(n_lines AS DOUBLE) p,
        |    1.0 + (1.96*1.96)/CAST(n_lines AS DOUBLE) den FROM g),
        |c AS (SELECT ship_dow, n_lines, n_returns, p,
        |    (p + (1.96*1.96)/(2.0*nn))/den center,
        |    1.96*sqrt(p*(1.0-p)/nn + (1.96*1.96)/(4.0*nn*nn))/den half
        |  FROM w)
        |SELECT ship_dow, n_lines, n_returns,
        |  round(p*1000000)/1000000.0 AS return_rate,
        |  round((center - half)*1000000)/1000000.0 AS wilson_lo,
        |  round((center + half)*1000000)/1000000.0 AS wilson_hi
        |FROM c ORDER BY 1""".stripMargin,
    "q346_triplet_margin" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label, embedding
        |  FROM embeddings),
        |rk AS (SELECT vec_id, label, CAST(row_number() OVER (
        |      PARTITION BY label ORDER BY vec_id) AS BIGINT) r,
        |    lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) pos_id
        |  FROM e),
        |cnt AS MATERIALIZED (SELECT label, CAST(count(*) AS BIGINT) c
        |  FROM e GROUP BY 1),
        |labs AS MATERIALIZED (SELECT label, CAST(row_number() OVER (
        |    ORDER BY label) AS BIGINT) li FROM cnt),
        |nl AS (SELECT max(li) nl FROM labs),
        |nx AS (SELECT a.label, b.label next_label
        |  FROM labs a CROSS JOIN nl JOIN labs b ON b.li = (a.li % nl.nl) + 1),
        |tri AS MATERIALIZED (SELECT rk.label, rk.vec_id a_id, rk.pos_id,
        |    nx.next_label, ((rk.r - 1) % c2.c) + 1 nr
        |  FROM rk JOIN nx ON rk.label = nx.label
        |  JOIN cnt c2 ON c2.label = nx.next_label
        |  WHERE rk.pos_id IS NOT NULL),
        |rkn AS (SELECT label, vec_id, CAST(row_number() OVER (
        |    PARTITION BY label ORDER BY vec_id) AS BIGINT) r FROM e),
        |trip AS MATERIALIZED (SELECT t.label, t.a_id, t.pos_id,
        |    n.vec_id neg_id
        |  FROM tri t JOIN rkn n ON n.label = t.next_label AND n.r = t.nr),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |    embedding FROM e),
        |xx AS MATERIALIZED (SELECT vec_id, i,
        |    CAST(embedding[i] AS DOUBLE) x FROM ix),
        |nrm AS MATERIALIZED (SELECT vec_id,
        |    sqrt(CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |  FROM xx GROUP BY 1),
        |dap AS (SELECT t.label, t.a_id, t.pos_id, t.neg_id,
        |    CAST(sum(CAST(a.x*p.x AS DECIMAL(18,16))) AS DOUBLE) d
        |  FROM trip t JOIN xx a ON a.vec_id = t.a_id
        |  JOIN xx p ON p.vec_id = t.pos_id AND p.i = a.i
        |  GROUP BY 1, 2, 3, 4),
        |dan AS (SELECT t.a_id,
        |    CAST(sum(CAST(a.x*g.x AS DECIMAL(18,16))) AS DOUBLE) d
        |  FROM trip t JOIN xx a ON a.vec_id = t.a_id
        |  JOIN xx g ON g.vec_id = t.neg_id AND g.i = a.i
        |  GROUP BY 1),
        |sc AS (SELECT dap.label,
        |    dap.d/(na.nrm*np.nrm) - dan.d/(na.nrm*ng.nrm) m
        |  FROM dap JOIN dan ON dap.a_id = dan.a_id
        |  JOIN nrm na ON na.vec_id = dap.a_id
        |  JOIN nrm np ON np.vec_id = dap.pos_id
        |  JOIN nrm ng ON ng.vec_id = dap.neg_id)
        |SELECT label, CAST(count(*) AS BIGINT) n_triplets,
        |  CAST(sum(CASE WHEN m < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
        |    n_violations,
        |  round(CAST(sum(CASE WHEN m < 0.05 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS violation_rate,
        |  round(CAST(sum(CAST(m AS DECIMAL(28,16))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS mean_margin
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "q347_icc_ship_delay" ->
      """WITH d AS (SELECT l_suppkey,
        |    CAST(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) AS DOUBLE) d
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |g AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) ng,
        |    sum(CAST(d AS DECIMAL(18,6))) sg,
        |    sum(CAST(d*d AS DECIMAL(28,6))) qg FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) a,
        |    CAST(sum(ng) AS BIGINT) n_tot, sum(sg) s_tot,
        |    sum(CAST(ng*ng AS DECIMAL(38,0))) nsq FROM g),
        |terms AS (SELECT g.*, t.*,
        |    CAST(s_tot AS DOUBLE)/CAST(n_tot AS DOUBLE) gm,
        |    CAST(sg AS DOUBLE)/CAST(ng AS DOUBLE) mg FROM g CROSS JOIN t),
        |tt AS (SELECT a, n_tot, nsq,
        |    CAST(sum(CAST(CAST(ng AS DOUBLE)*(mg-gm)*(mg-gm)
        |      AS DECIMAL(28,12))) AS DOUBLE) ssb,
        |    CAST(sum(CAST(CAST(qg AS DOUBLE)
        |      - CAST(ng AS DOUBLE)*mg*mg AS DECIMAL(28,12))) AS DOUBLE) ssw
        |  FROM terms GROUP BY 1, 2, 3),
        |f AS (SELECT a, n_tot, ssb, ssw, CAST(a AS DOUBLE) aa,
        |    CAST(n_tot AS DOUBLE) nn, CAST(nsq AS DOUBLE) nsqd FROM tt),
        |m AS (SELECT a, n_tot, ssb/(aa-1.0) msb, ssw/(nn-aa) msw,
        |    (nn - nsqd/nn)/(aa-1.0) k0 FROM f)
        |SELECT a AS n_suppliers, n_tot AS n_obs,
        |  round(msb*1000000)/1000000.0 AS ms_between,
        |  round(msw*1000000)/1000000.0 AS ms_within,
        |  round(k0*1000000)/1000000.0 AS k0,
        |  CASE WHEN msb + (k0-1.0)*msw > 0 THEN
        |    round((msb-msw)/(msb+(k0-1.0)*msw)*1000000)/1000000.0
        |    ELSE 0.0 END AS icc,
        |  CASE WHEN msw > 0 THEN round(msb/msw*1000000)/1000000.0
        |    ELSE 0.0 END AS f_stat
        |FROM m""".stripMargin,
    "q348_taylor_law" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) q
        |  FROM events GROUP BY 1, 2),
        |mv AS (SELECT event_type, n, s/n m, (q - s*s/n)/(n-1) v
        |  FROM daily WHERE n >= 2),
        |xy AS (SELECT event_type, round(ln(m)*1e12)/1e12 x,
        |    round(ln(v)*1e12)/1e12 y
        |  FROM mv WHERE m > 0 AND v > 0),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(38,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,10))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(38,10))) AS DOUBLE) syy
        |  FROM xy GROUP BY 1),
        |e AS (SELECT event_type, n_days, CAST(n_days AS DOUBLE) nn,
        |    sx, sy,
        |    CAST(n_days AS DOUBLE)*sxx - sx*sx dx,
        |    CAST(n_days AS DOUBLE)*syy - sy*sy dy,
        |    CAST(n_days AS DOUBLE)*sxy - sx*sy cv
        |  FROM g)
        |SELECT event_type, n_days,
        |  CASE WHEN dx > 0 THEN round(cv/dx*1000000)/1000000.0 END
        |    AS taylor_b,
        |  CASE WHEN dx > 0 THEN
        |    round((sy - cv/dx*sx)/nn*1000000)/1000000.0 END AS ln_a,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    round(cv*cv/(dx*dy)*1000000)/1000000.0 END AS r2
        |FROM e ORDER BY 1""".stripMargin,
    "q349_purchase_entropy" ->
      """WITH cb AS (SELECT o_custkey, p_brand, CAST(count(*) AS BIGINT) c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |t AS (SELECT o_custkey, c,
        |    CAST(sum(c) OVER (PARTITION BY o_custkey) AS BIGINT) n,
        |    CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) k
        |  FROM cb),
        |pr AS (SELECT o_custkey, k, CAST(c AS DOUBLE)/n p FROM t),
        |tt AS (SELECT o_custkey, k, round(p*ln(p)*1e12)/1e12 t FROM pr),
        |h AS (SELECT o_custkey, k,
        |    -CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) h
        |  FROM tt GROUP BY 1, 2),
        |hn AS (SELECT o_custkey, k, h,
        |    CASE WHEN k > 1 THEN h/ln(CAST(k AS DOUBLE)) ELSE 0.0 END hn
        |  FROM h),
        |j AS (SELECT c_mktsegment, h, hn, k
        |  FROM hn JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(CAST(h AS DECIMAL(38,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS avg_entropy,
        |  round(CAST(sum(CAST(hn AS DECIMAL(38,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS avg_norm_entropy,
        |  round(CAST(sum(k) AS DOUBLE)/count(*)*10000)/10000.0 AS avg_brands
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q350_clumpiness" ->
      """WITH od AS (SELECT DISTINCT o_custkey,
        |    CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) d FROM orders),
        |sp AS (SELECT min(d) d0, max(d) d1 FROM od),
        |g AS (SELECT o_custkey, d, d0, d1,
        |    lag(d) OVER (PARTITION BY o_custkey ORDER BY d) prev,
        |    CAST(d1 - d0 + 2 AS DOUBLE) tt FROM od CROSS JOIN sp),
        |z AS (SELECT o_custkey, tt, d1, d,
        |    CAST(CASE WHEN prev IS NULL THEN d - d0 + 1
        |      ELSE d - prev END AS DOUBLE)/tt z FROM g),
        |tm AS (SELECT o_custkey, tt, d1, d,
        |    round(z*ln(z)*1e12)/1e12 term FROM z),
        |pc AS (SELECT o_custkey, tt, d1, CAST(count(*) AS BIGINT) n,
        |    max(d) dmax, sum(CAST(term AS DECIMAL(38,12))) sterm
        |  FROM tm GROUP BY 1, 2, 3),
        |cl AS (SELECT o_custkey,
        |    1.0 + (CAST(sterm AS DOUBLE)
        |      + round((CAST(d1 - dmax + 1 AS DOUBLE)/tt)
        |        *ln(CAST(d1 - dmax + 1 AS DOUBLE)/tt)*1e12)/1e12)
        |      /ln(CAST(n + 1 AS DOUBLE)) cl
        |  FROM pc WHERE n >= 2)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(CAST(cl AS DECIMAL(38,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS avg_clumpiness,
        |  round(CAST(sum(CASE WHEN cl > 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS clumpy_share
        |FROM cl JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q351_semivariogram" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM events GROUP BY 1, 2),
        |hs AS (SELECT unnest(generate_series(1, 7)) h),
        |j AS (SELECT a.event_type, hs.h, a.x xa, b.x xb
        |  FROM daily a CROSS JOIN hs JOIN daily b
        |    ON b.event_type = a.event_type AND b.dd = a.dd - hs.h),
        |t AS (SELECT event_type, h,
        |    round((xa-xb)*(xa-xb)*1e12)/1e12 term FROM j)
        |SELECT event_type, CAST(h AS INT) h_days,
        |  CAST(count(*) AS BIGINT) n_pairs,
        |  round(0.5*CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS gamma
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q352_priority_markov" ->
      """WITH s AS (SELECT o_custkey, o_orderpriority,
        |    lag(o_orderpriority) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) from_priority
        |  FROM orders),
        |t AS (SELECT from_priority, o_orderpriority to_priority,
        |    CAST(count(*) AS BIGINT) n
        |  FROM s WHERE from_priority IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_priority, CAST(sum(n) AS BIGINT) row_total
        |  FROM t GROUP BY 1)
        |SELECT t.from_priority, to_priority, n,
        |  round(CAST(n AS DOUBLE)/row_total*10000)/10000.0 AS p,
        |  from_priority = to_priority AS is_sticky
        |FROM t JOIN r USING (from_priority)
        |ORDER BY 1, 2""".stripMargin,
    "q353_price_endings" ->
      """WITH e AS (SELECT CAST(CAST(round(p_retailprice*100) AS BIGINT)
        |      % 100 AS INT) cents_ending, p_retailprice
        |  FROM part),
        |g AS (SELECT cents_ending, CAST(count(*) AS BIGINT) n_parts,
        |    sum(CAST(p_retailprice AS DECIMAL(18,6))) sp
        |  FROM e GROUP BY 1),
        |t AS (SELECT CAST(sum(n_parts) AS BIGINT) n_total FROM g)
        |SELECT cents_ending, n_parts,
        |  round(CAST(n_parts AS DOUBLE)/n_total*1000000)/1000000.0 AS share,
        |  round(CAST(sp AS DOUBLE)/n_parts*100)/100.0 AS avg_price
        |FROM g CROSS JOIN t ORDER BY 1""".stripMargin,
    "q354_flow_reciprocity" ->
      """WITH fl AS (SELECT s_nationkey sn, c_nationkey cn,
        |    sum(CAST(round(l_extendedprice*(1 - l_discount)*1e2) AS DECIMAL(38,0))) f
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |d AS MATERIALIZED (SELECT * FROM fl WHERE sn <> cn),
        |j AS (SELECT a.sn, a.cn, a.f,
        |    coalesce(b.f, CAST(0 AS DECIMAL(38,0))) fr
        |  FROM d a LEFT JOIN d b ON b.sn = a.cn AND b.cn = a.sn)
        |SELECT CAST(count(*) AS BIGINT) n_pairs,
        |  round(CAST(sum(f) AS DOUBLE)/1e2*10000)/10000.0 AS total_flow,
        |  round(CAST(sum(least(f, fr)) AS DOUBLE)/1e2*10000)/10000.0
        |    AS reciprocal_flow,
        |  round(CAST(sum(least(f, fr)) AS DOUBLE)/CAST(sum(f) AS DOUBLE)
        |    *1000000)/1000000.0 AS reciprocity
        |FROM j""".stripMargin,
    "q356_kish_ess" ->
      """WITH d AS (SELECT doc_id, source,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |f AS (SELECT doc_id, source, length(t) n_chars,
        |    len(string_split(t, ' ')) n_words,
        |    length(t) - length(regexp_replace(t, '[^a-z0-9 ]', '', 'g'))
        |      n_punct,
        |    len(list_filter(string_split(t, ' '), x -> list_contains(
        |      ['the','a','of','and','to','in','is','it'], x))) n_stop
        |  FROM d),
        |q AS (SELECT doc_id, source,
        |    round((least(CAST(n_words AS DOUBLE)/100.0, 1.0)*0.5
        |      + (1.0 - CAST(n_punct AS DOUBLE)/n_chars)*0.3
        |      + least(CAST(n_stop AS DOUBLE)/n_words*5.0, 1.0)*0.2)
        |      *10000)/10000 quality
        |  FROM f),
        |w AS (SELECT source, quality*quality w FROM q),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) n_docs,
        |    CAST(sum(CAST(w AS DECIMAL(38,16))) AS DOUBLE) sw,
        |    CAST(sum(CAST(w*w AS DECIMAL(38,16))) AS DOUBLE) sw2
        |  FROM w GROUP BY 1)
        |SELECT source, n_docs,
        |  CASE WHEN sw2 > 0 THEN round(sw*sw/sw2*100)/100.0
        |    ELSE 0.0 END AS ess,
        |  CASE WHEN sw2 > 0 THEN
        |    round(sw*sw/sw2/n_docs*1000000)/1000000.0 ELSE 0.0 END
        |    AS ess_ratio,
        |  CASE WHEN sw*sw > 0 THEN
        |    round(n_docs*sw2/(sw*sw)*1000000)/1000000.0 ELSE 0.0 END
        |    AS design_effect
        |FROM g ORDER BY 1""".stripMargin,
    "q355_sampler_uniformity" ->
      """WITH u AS (SELECT source,
        |    md5('samp:'||CAST(doc_id AS VARCHAR)) h FROM documents),
        |uu AS (SELECT source,
        |    CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576 +
        |      (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536 +
        |      (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096 +
        |      (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * 256 +
        |      (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 +
        |      (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT) u24
        |  FROM u),
        |b AS (SELECT source, CAST(floor(u24/4096) AS BIGINT) bin FROM uu),
        |c AS (SELECT source, bin, CAST(count(*) AS BIGINT) cnt
        |  FROM b GROUP BY 1, 2),
        |srcs AS (SELECT source, CAST(count(*) AS BIGINT) n
        |  FROM b GROUP BY 1),
        |spine AS (SELECT source, n,
        |    unnest(generate_series(0, 4095)) bin FROM srcs),
        |f AS (SELECT spine.source, spine.n, spine.bin,
        |    coalesce(cnt, 0) cnt
        |  FROM spine LEFT JOIN c ON c.source = spine.source
        |    AND c.bin = spine.bin),
        |cum AS (SELECT source, n, bin, CAST(sum(cnt) OVER (
        |    PARTITION BY source ORDER BY bin) AS BIGINT) cum FROM f),
        |d AS (SELECT source, n, abs(CAST(cum AS DOUBLE)/n
        |    - CAST(bin + 1 AS DOUBLE)/4096.0) dd FROM cum),
        |k AS (SELECT source, n, max(dd) d FROM d GROUP BY 1, 2)
        |SELECT source, n AS n_docs,
        |  round(d*1000000)/1000000.0 AS ks_binned,
        |  round(1.36/sqrt(CAST(n AS DOUBLE))*1000000)/1000000.0
        |    AS ks_crit_95,
        |  d < 1.36/sqrt(CAST(n AS DOUBLE)) AS uniform_ok
        |FROM k ORDER BY 1""".stripMargin,
    "q357_von_neumann" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM events GROUP BY 1, 2),
        |lg AS (SELECT event_type, x,
        |    lag(x) OVER (PARTITION BY event_type ORDER BY dd) prev
        |  FROM daily),
        |t AS (SELECT event_type, x,
        |    CASE WHEN prev IS NOT NULL THEN
        |      round((x-prev)*(x-prev)*1e12)/1e12 END d2 FROM lg),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) s,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) q,
        |    CAST(count(d2) AS BIGINT) nd,
        |    CAST(sum(CAST(d2 AS DECIMAL(38,12))) AS DOUBLE) sd2
        |  FROM t GROUP BY 1),
        |e AS (SELECT event_type, n_days,
        |    (q - s*s/n_days)/(n_days - 1) v, sd2/nd m FROM g)
        |SELECT event_type, n_days,
        |  round(m*1000000)/1000000.0 AS mssd,
        |  round(v*1000000)/1000000.0 AS variance,
        |  CASE WHEN v > 0 THEN round(m/v*1000000)/1000000.0 END
        |    AS vn_ratio,
        |  CASE WHEN v > 0 THEN
        |    CASE WHEN m/v < 1.8 THEN 'trending'
        |      WHEN m/v > 2.2 THEN 'oscillating'
        |      ELSE 'noise-like' END END AS verdict
        |FROM e ORDER BY 1""".stripMargin,
    "q358_participation_ratio" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label, embedding
        |  FROM embeddings),
        |ix AS (SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) gi, embedding
        |  FROM e),
        |xx AS MATERIALIZED (SELECT vec_id, label, gi - 1 i,
        |    CAST(embedding[gi] AS DOUBLE) xi FROM ix),
        |mu AS MATERIALIZED (SELECT label, i,
        |    CAST(sum(CAST(xi AS DECIMAL(28,16))) AS DOUBLE)/count(*) mu
        |  FROM xx GROUP BY 1, 2),
        |pr AS (SELECT a.label, a.i, b.i j, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(a.xi*b.xi AS DECIMAL(28,16))) AS DOUBLE) sij
        |  FROM xx a JOIN xx b ON b.vec_id = a.vec_id
        |  GROUP BY 1, 2, 3),
        |cov AS (SELECT p.label, p.i, p.j,
        |    round((sij/n - m1.mu*m2.mu)*1e12)/1e12 c
        |  FROM pr p JOIN mu m1 ON m1.label = p.label AND m1.i = p.i
        |  JOIN mu m2 ON m2.label = p.label AND m2.i = p.j),
        |g AS (SELECT label, max(i) imax,
        |    CAST(sum(CASE WHEN i = j THEN CAST(c AS DECIMAL(38,12)) END)
        |      AS DOUBLE) tr,
        |    CAST(sum(CAST(c*c AS DECIMAL(38,12))) AS DOUBLE) frob2
        |  FROM cov GROUP BY 1)
        |SELECT label, CAST(imax + 1 AS INT) d,
        |  round(tr*1000000)/1000000.0 AS trace,
        |  CASE WHEN frob2 > 0 THEN round(tr*tr/frob2*10000)/10000.0 END
        |    AS participation_ratio,
        |  CASE WHEN frob2 > 0 THEN
        |    round(tr*tr/frob2/(imax+1)*1000000)/1000000.0 END AS pr_ratio
        |FROM g ORDER BY 1""".stripMargin,
    "q359_ql_bm25_agreement" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS MATERIALIZED (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf
        |  FROM tx GROUP BY 1, 2),
        |dl AS MATERIALIZED (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl
        |  FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df
        |  FROM tf GROUP BY 1),
        |probes AS MATERIALIZED (SELECT doc_id probe_id, tok FROM tf
        |  WHERE doc_id < 5),
        |scored AS (SELECT p.probe_id, t.doc_id,
        |    sum(CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5)
        |         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      AS DECIMAL(18,10))) s
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  WHERE t.doc_id <> p.probe_id
        |  GROUP BY 1, 2),
        |bm AS (SELECT probe_id, doc_id, rnk rbm FROM (
        |    SELECT probe_id, doc_id, row_number() OVER (
        |      PARTITION BY probe_id ORDER BY s DESC, doc_id) rnk
        |    FROM scored) WHERE rnk <= 5),
        |ctot AS (SELECT CAST(sum(dl) AS DOUBLE) ctot FROM dl),
        |ctf AS (SELECT tok, CAST(sum(tf) AS BIGINT) ctf
        |  FROM tf GROUP BY 1),
        |nq AS (SELECT probe_id, CAST(count(*) AS BIGINT) nq FROM probes
        |  GROUP BY 1),
        |sq AS (SELECT p.probe_id, t.doc_id,
        |    sum(CAST(ln(1.0 + CAST(t.tf AS DOUBLE)
        |      / (300.0 * (CAST(ctf AS DOUBLE) / ctot)))
        |      AS DECIMAL(18,10))) sv
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN ctf USING (tok) CROSS JOIN ctot
        |  WHERE t.doc_id <> p.probe_id GROUP BY 1, 2),
        |ql AS (SELECT sq.probe_id, sq.doc_id,
        |    CAST(sv AS DOUBLE) + CAST(nq AS DOUBLE)
        |      * ln(300.0 / (CAST(dl AS DOUBLE) + 300.0)) score
        |  FROM sq JOIN dl ON sq.doc_id = dl.doc_id JOIN nq USING (probe_id)),
        |tql AS (SELECT probe_id, doc_id, rql FROM (
        |    SELECT probe_id, doc_id, row_number() OVER (
        |      PARTITION BY probe_id ORDER BY score DESC, doc_id) rql
        |    FROM ql) WHERE rql <= 5),
        |j AS (SELECT coalesce(b.probe_id, q.probe_id) probe_id,
        |    b.rbm, q.rql
        |  FROM bm b FULL JOIN tql q ON b.probe_id = q.probe_id
        |    AND b.doc_id = q.doc_id)
        |SELECT probe_id,
        |  CAST(sum(CASE WHEN rbm IS NOT NULL AND rql IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) overlap_at_k,
        |  CAST(sum(CASE WHEN rbm = rql THEN 1 ELSE 0 END) AS BIGINT)
        |    rank_matches,
        |  round(CAST(sum(CASE WHEN rbm IS NOT NULL AND rql IS NOT NULL
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |    /(10 - sum(CASE WHEN rbm IS NOT NULL AND rql IS NOT NULL
        |      THEN 1 ELSE 0 END))*10000)/10000.0 AS jaccard
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q360_diameter_sweep" ->
      """WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
        |    FROM lineitem a JOIN lineitem b
        |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |    GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
        |adj AS MATERIALIZED (SELECT u, v FROM p UNION SELECT v, u FROM p),
        |verts AS MATERIALIZED (SELECT DISTINCT u AS id FROM adj),
        |deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) dg
        |  FROM adj GROUP BY 1),
        |lm AS MATERIALIZED (SELECT id FROM deg ORDER BY dg DESC, id
        |  LIMIT 1),
        |r1 AS (SELECT DISTINCT v AS id FROM adj JOIN lm ON adj.u = lm.id),
        |r2 AS (SELECT DISTINCT a2.v AS id FROM adj a2
        |  JOIN r1 ON a2.u = r1.id),
        |r3 AS (SELECT DISTINCT a3.v AS id FROM adj a3
        |  JOIN r2 ON a3.u = r2.id),
        |d1 AS MATERIALIZED (SELECT vv.id, CAST(CASE
        |    WHEN vv.id IN (SELECT id FROM lm) THEN 0
        |    WHEN vv.id IN (SELECT id FROM r1) THEN 1
        |    WHEN vv.id IN (SELECT id FROM r2) THEN 2
        |    WHEN vv.id IN (SELECT id FROM r3) THEN 3
        |    ELSE -1 END AS INT) dist FROM verts vv),
        |far AS MATERIALIZED (SELECT id FROM d1 WHERE dist >= 0
        |  ORDER BY dist DESC, id LIMIT 1),
        |s1 AS (SELECT DISTINCT v AS id FROM adj
        |  JOIN far ON adj.u = far.id),
        |s2 AS (SELECT DISTINCT b2.v AS id FROM adj b2
        |  JOIN s1 ON b2.u = s1.id),
        |s3 AS (SELECT DISTINCT b3.v AS id FROM adj b3
        |  JOIN s2 ON b3.u = s2.id),
        |d2 AS MATERIALIZED (SELECT vv.id, CAST(CASE
        |    WHEN vv.id IN (SELECT id FROM far) THEN 0
        |    WHEN vv.id IN (SELECT id FROM s1) THEN 1
        |    WHEN vv.id IN (SELECT id FROM s2) THEN 2
        |    WHEN vv.id IN (SELECT id FROM s3) THEN 3
        |    ELSE -1 END AS INT) dist FROM verts vv)
        |SELECT (SELECT id FROM lm) AS landmark_id,
        |  (SELECT CAST(max(dist) AS INT) FROM d1 WHERE dist >= 0)
        |    AS ecc_landmark,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d1 WHERE dist >= 0)
        |    AS n_reached_from_landmark,
        |  (SELECT id FROM far) AS far_id,
        |  (SELECT CAST(max(dist) AS INT) FROM d2 WHERE dist >= 0)
        |    AS diameter_lb,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d2 WHERE dist >= 0)
        |    AS n_reached_from_far,
        |  (SELECT CAST(count(*) AS BIGINT) FROM verts) AS n_verts""".stripMargin,
    "q361_churn_hazard" ->
      """WITH ow AS (SELECT o_custkey,
        |    CAST(floor(floor(epoch(o_orderdate)/86400)/7) AS BIGINT) wk
        |  FROM orders),
        |sp AS (SELECT max(wk) wmax FROM ow),
        |per AS (SELECT o_custkey, min(wk) w0, max(wk) wl
        |  FROM ow GROUP BY 1),
        |pe AS (SELECT wl - w0 t, (wmax - wl) >= 4 ev
        |  FROM per CROSS JOIN sp),
        |bt AS (SELECT t, CAST(count(*) AS BIGINT) n_t,
        |    CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) d_t
        |  FROM pe GROUP BY 1),
        |ar AS (SELECT t, n_t, d_t, CAST(sum(n_t) OVER (ORDER BY t DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    at_risk FROM bt)
        |SELECT t AS tenure_weeks, at_risk, d_t AS n_churned,
        |  round(CAST(d_t AS DOUBLE)/at_risk*1000000)/1000000.0 AS hazard
        |FROM ar ORDER BY 1""".stripMargin,
    "q362_fulfillment_spread" ->
      """WITH sd AS (SELECT l_orderkey,
        |    CAST(floor(epoch(l_shipdate)/86400) AS BIGINT) sd
        |  FROM lineitem),
        |per AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) n_lines,
        |    max(sd) - min(sd) span_days,
        |    CAST(count(DISTINCT sd) AS BIGINT) n_ship_days
        |  FROM sd GROUP BY 1 HAVING count(*) >= 2),
        |b AS (SELECT CASE WHEN n_lines <= 3 THEN '2-3'
        |      WHEN n_lines <= 5 THEN '4-5' ELSE '6-7' END size_bucket,
        |    n_lines, span_days, n_ship_days FROM per),
        |q AS (SELECT size_bucket,
        |    quantile_cont(CAST(span_days AS DOUBLE), 0.5) p50,
        |    quantile_cont(CAST(span_days AS DOUBLE), 0.9) p90
        |  FROM b GROUP BY 1),
        |a AS (SELECT size_bucket, CAST(count(*) AS BIGINT) n_orders,
        |    CAST(sum(n_ship_days) AS BIGINT) ssd,
        |    CAST(sum(n_lines) AS BIGINT) sl,
        |    CAST(sum(CASE WHEN span_days = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) sd0
        |  FROM b GROUP BY 1)
        |SELECT a.size_bucket, n_orders,
        |  round(p50*10000)/10000.0 AS p50_span,
        |  round(p90*10000)/10000.0 AS p90_span,
        |  round(CAST(sd0 AS DOUBLE)/n_orders*1000000)/1000000.0
        |    AS single_day_share,
        |  round(CAST(ssd AS DOUBLE)/sl*1000000)/1000000.0 AS frag_ratio
        |FROM a JOIN q ON a.size_bucket = q.size_bucket
        |ORDER BY 1""".stripMargin,
    "q363_calendar_r2" ->
      """WITH ev AS (SELECT event_type, value,
        |    CAST((CAST(floor(epoch(ts)/86400) AS BIGINT) + 4) % 7 AS INT)
        |      dow,
        |    CAST(CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS INT) hr
        |  FROM events),
        |grand AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    sum(CAST(value AS DECIMAL(18,6))) s,
        |    sum(CAST(value*value AS DECIMAL(28,6))) q
        |  FROM ev GROUP BY 1),
        |gg AS (SELECT event_type, n, CAST(s AS DOUBLE)/n gm,
        |    CAST(q AS DOUBLE) - CAST(s AS DOUBLE)*CAST(s AS DOUBLE)/n sst
        |  FROM grand),
        |dm AS (SELECT event_type, dow,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) md
        |  FROM ev GROUP BY 1, 2),
        |hm AS (SELECT event_type, hr,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) mh
        |  FROM ev GROUP BY 1, 2),
        |res AS (SELECT ev.event_type,
        |    round((value - (md + mh - gm))*(value - (md + mh - gm))
        |      *1e12)/1e12 r2t
        |  FROM ev JOIN dm ON ev.event_type = dm.event_type
        |    AND ev.dow = dm.dow
        |  JOIN hm ON ev.event_type = hm.event_type AND ev.hr = hm.hr
        |  JOIN gg ON ev.event_type = gg.event_type),
        |se AS (SELECT event_type,
        |    CAST(sum(CAST(r2t AS DECIMAL(38,12))) AS DOUBLE) sse
        |  FROM res GROUP BY 1)
        |SELECT gg.event_type, n AS n_events,
        |  round(sst*10000)/10000.0 AS sst,
        |  round(sse*10000)/10000.0 AS sse,
        |  CASE WHEN sst > 0 THEN
        |    round((1.0 - sse/sst)*1000000)/1000000.0 END AS calendar_r2
        |FROM gg JOIN se ON gg.event_type = se.event_type
        |ORDER BY 1""".stripMargin,
    "q364_cluster_purity" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh
        |  FROM ix),
        |salted AS (SELECT doc_id, s.g salt,
        |    md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |  FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1, 2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |    md5(string_agg(m, '|' ORDER BY salt)) sig
        |  FROM mh GROUP BY 1, 2),
        |bsz0 AS (SELECT doc_id, band, sig,
        |    count(*) OVER (PARTITION BY band, sig) bc FROM bands),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |  FROM bsz0 a JOIN bsz0 b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id
        |  WHERE a.bc <= 64 AND b.bc <= 64),
        |star AS (SELECT DISTINCT mn doc_a, doc_id doc_b FROM (
        |    SELECT doc_id, min(doc_id) OVER (PARTITION BY band, sig) mn
        |    FROM bsz0 WHERE bc > 64) WHERE doc_id <> mn),
        |allp AS (SELECT * FROM pairs UNION SELECT * FROM star),
        |edges AS (SELECT doc_a u, doc_b v FROM allp
        |  UNION SELECT doc_b, doc_a FROM allp),
        |reach(node, comp) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
        |  WHERE r.comp < e.v),
        |cc AS (SELECT node, min(comp) comp FROM reach GROUP BY 1),
        |cl AS (SELECT node doc_id, comp cluster_id,
        |    CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) cluster_size
        |  FROM cc),
        |js AS (SELECT cl.cluster_id, cl.cluster_size, doc.source
        |  FROM cl JOIN documents doc ON cl.doc_id = doc.doc_id),
        |per AS (SELECT cluster_id, cluster_size,
        |    CAST(count(DISTINCT source) AS BIGINT) n_sources
        |  FROM js GROUP BY 1, 2),
        |cen AS (SELECT cluster_size, n_sources,
        |    CAST(count(*) AS BIGINT) n_clusters FROM per GROUP BY 1, 2),
        |tot AS (SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT)
        |    sz_total FROM cen GROUP BY 1)
        |SELECT c.cluster_size, n_sources, n_clusters,
        |  round(CAST(n_clusters AS DOUBLE)/sz_total*10000)/10000.0
        |    AS share_of_size
        |FROM cen c JOIN tot USING (cluster_size) ORDER BY 1, 2""".stripMargin,
    "q365_value_precision" ->
      """WITH m AS (SELECT event_type,
        |    CAST(round(value*1000000) AS BIGINT) mi FROM events),
        |c AS (SELECT event_type, CAST(CASE
        |    WHEN mi % 1000000 = 0 THEN 0
        |    WHEN mi % 100000 = 0 THEN 1
        |    WHEN mi % 10000 = 0 THEN 2
        |    WHEN mi % 1000 = 0 THEN 3
        |    WHEN mi % 100 = 0 THEN 4
        |    WHEN mi % 10 = 0 THEN 5
        |    ELSE 6 END AS INT) decimals FROM m),
        |g AS (SELECT event_type, decimals, CAST(count(*) AS BIGINT) n
        |  FROM c GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) n_total
        |  FROM g GROUP BY 1)
        |SELECT g.event_type, decimals, n,
        |  round(CAST(n AS DOUBLE)/n_total*1000000)/1000000.0 AS share
        |FROM g JOIN t ON g.event_type = t.event_type
        |ORDER BY 1, 2""".stripMargin,
    "q366_market_churn" ->
      """WITH sy AS (SELECT l_suppkey, CAST(year(l_shipdate) AS INT) yr,
        |    sum(CAST(l_extendedprice*(1 - l_discount) AS DECIMAL(18,6))) r
        |  FROM lineitem GROUP BY 1, 2),
        |yt AS (SELECT yr, sum(r) tot FROM sy GROUP BY 1),
        |sh AS (SELECT l_suppkey, sy.yr,
        |    CAST(r AS DOUBLE)/CAST(tot AS DOUBLE) shr
        |  FROM sy JOIN yt ON sy.yr = yt.yr),
        |nxt AS (SELECT l_suppkey, yr - 1 yr, shr shr_next FROM sh),
        |vy AS (SELECT a.yr FROM yt a JOIN yt b ON b.yr = a.yr + 1),
        |j AS (SELECT coalesce(sh.l_suppkey, nxt.l_suppkey) sk,
        |    coalesce(sh.yr, nxt.yr) yr, sh.shr, nxt.shr_next
        |  FROM sh FULL JOIN nxt ON sh.l_suppkey = nxt.l_suppkey
        |    AND sh.yr = nxt.yr),
        |jv AS (SELECT j.*, round(abs(coalesce(shr_next, 0.0)
        |    - coalesce(shr, 0.0))*1e12)/1e12 d
        |  FROM j JOIN vy ON j.yr = vy.yr)
        |SELECT yr AS from_year, CAST(count(*) AS BIGINT) n_suppliers,
        |  CAST(sum(CASE WHEN shr IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    n_entrants,
        |  CAST(sum(CASE WHEN shr_next IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) n_exits,
        |  round(CAST(sum(CAST(d AS DECIMAL(38,12))) AS DOUBLE)
        |    *0.5*1000000)/1000000.0 AS tv_distance
        |FROM jv GROUP BY 1 ORDER BY 1""".stripMargin,
    "q367_tail_dependence" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, quantile_cont(x, 0.9) thr
        |  FROM daily GROUP BY 1),
        |f AS (SELECT d.event_type, dd, x > thr exc
        |  FROM daily d JOIN q ON d.event_type = q.event_type),
        |j AS (SELECT a.event_type type_a, b.event_type type_b,
        |    a.exc exc_a, b.exc exc_b
        |  FROM f a JOIN f b ON a.dd = b.dd
        |  WHERE a.event_type < b.event_type)
        |SELECT type_a, type_b, CAST(count(*) AS BIGINT) n_days,
        |  CAST(sum(CASE WHEN exc_a THEN 1 ELSE 0 END) AS BIGINT) n_a,
        |  CAST(sum(CASE WHEN exc_b THEN 1 ELSE 0 END) AS BIGINT) n_b,
        |  CAST(sum(CASE WHEN exc_a AND exc_b THEN 1 ELSE 0 END)
        |    AS BIGINT) n_joint,
        |  CASE WHEN sum(CASE WHEN exc_a THEN 1 ELSE 0 END)
        |      + sum(CASE WHEN exc_b THEN 1 ELSE 0 END) > 0 THEN
        |    round(2.0*sum(CASE WHEN exc_a AND exc_b THEN 1 ELSE 0 END)
        |      /(sum(CASE WHEN exc_a THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN exc_b THEN 1 ELSE 0 END))*10000)/10000.0
        |    ELSE 0.0 END AS tail_dep
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q368_extremal_index" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM events GROUP BY 1, 2),
        |q AS (SELECT event_type, quantile_cont(x, 0.9) thr
        |  FROM daily GROUP BY 1),
        |exc AS (SELECT d.event_type, dd
        |  FROM daily d JOIN q ON d.event_type = q.event_type
        |  WHERE x > thr),
        |lg AS (SELECT event_type, dd, lag(dd) OVER (
        |    PARTITION BY event_type ORDER BY dd) prev FROM exc),
        |nc AS (SELECT event_type, dd, CASE WHEN prev IS NULL
        |    OR dd - prev > 2 THEN 1 ELSE 0 END newc FROM lg),
        |cid AS (SELECT event_type, CAST(sum(newc) OVER (
        |    PARTITION BY event_type ORDER BY dd
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    cid FROM nc),
        |sz AS (SELECT event_type, cid, CAST(count(*) AS BIGINT) csz
        |  FROM cid GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(sum(csz) AS BIGINT) n_exceed,
        |    CAST(count(*) AS BIGINT) n_clusters, max(csz) max_cluster
        |  FROM sz GROUP BY 1)
        |SELECT event_type, n_exceed, n_clusters, max_cluster,
        |  round(CAST(n_clusters AS DOUBLE)/n_exceed*10000)/10000.0
        |    AS theta,
        |  round(CAST(n_exceed AS DOUBLE)/n_clusters*10000)/10000.0
        |    AS mean_cluster
        |FROM g ORDER BY 1""".stripMargin,
    "q369_cramers_v" ->
      """WITH cells AS (SELECT
        |    CAST(floor((l_quantity - 1)/10) AS INT) qty_band,
        |    CAST(round(l_discount*100) AS INT) disc_pct,
        |    CAST(count(*) AS BIGINT) o
        |  FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT qty_band, CAST(sum(o) AS BIGINT) rt
        |  FROM cells GROUP BY 1),
        |ct AS (SELECT disc_pct, CAST(sum(o) AS BIGINT) ct
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) n,
        |    CAST(count(DISTINCT qty_band) AS BIGINT) r,
        |    CAST(count(DISTINCT disc_pct) AS BIGINT) c FROM cells),
        |terms AS (SELECT n, r, c,
        |    round((o - e)*(o - e)/e*1e12)/1e12 t FROM (
        |      SELECT cells.o, n, r, c,
        |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/n e
        |      FROM cells JOIN rt USING (qty_band)
        |      JOIN ct USING (disc_pct) CROSS JOIN tot)),
        |g AS (SELECT n, r, c,
        |    CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) chi2
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n AS n_lines, r AS n_qty_bands, c AS n_disc_levels,
        |  round(chi2*10000)/10000.0 AS chi2,
        |  round(sqrt(chi2/(n*CAST(least(r, c) - 1 AS DOUBLE)))
        |    *1000000)/1000000.0 AS cramers_v
        |FROM g""".stripMargin,
    "q370_median_polish" ->
      """WITH r0 AS (SELECT event_type,
        |    CAST((CAST(floor(epoch(ts)/86400) AS BIGINT) + 4) % 7 AS INT)
        |      dow,
        |    CAST(CAST(floor(epoch(ts)/3600) AS BIGINT) % 24 AS INT) hr,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) r
        |  FROM events GROUP BY 1, 2, 3),
        |rm1 AS (SELECT event_type, dow, sum(r)/count(*) rm FROM (
        |    SELECT event_type, dow, r,
        |      row_number() OVER (PARTITION BY event_type, dow ORDER BY r)
        |        rn,
        |      count(*) OVER (PARTITION BY event_type, dow) cnt FROM r0) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1, 2),
        |r1 AS (SELECT r0.event_type, r0.dow, hr, r - rm r
        |  FROM r0 JOIN rm1 ON r0.event_type = rm1.event_type
        |    AND r0.dow = rm1.dow),
        |cm1 AS (SELECT event_type, hr, sum(r)/count(*) cm FROM (
        |    SELECT event_type, hr, r,
        |      row_number() OVER (PARTITION BY event_type, hr ORDER BY r)
        |        rn,
        |      count(*) OVER (PARTITION BY event_type, hr) cnt FROM r1) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1, 2),
        |r2 AS (SELECT r1.event_type, dow, r1.hr, r - cm r
        |  FROM r1 JOIN cm1 ON r1.event_type = cm1.event_type
        |    AND r1.hr = cm1.hr),
        |rm2 AS (SELECT event_type, dow, sum(r)/count(*) rm FROM (
        |    SELECT event_type, dow, r,
        |      row_number() OVER (PARTITION BY event_type, dow ORDER BY r)
        |        rn,
        |      count(*) OVER (PARTITION BY event_type, dow) cnt FROM r2) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1, 2),
        |r3 AS (SELECT r2.event_type, r2.dow, hr, r - rm r
        |  FROM r2 JOIN rm2 ON r2.event_type = rm2.event_type
        |    AND r2.dow = rm2.dow),
        |cm2 AS (SELECT event_type, hr, sum(r)/count(*) cm FROM (
        |    SELECT event_type, hr, r,
        |      row_number() OVER (PARTITION BY event_type, hr ORDER BY r)
        |        rn,
        |      count(*) OVER (PARTITION BY event_type, hr) cnt FROM r3) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1, 2),
        |r4 AS (SELECT r3.event_type, dow, r3.hr, r - cm r
        |  FROM r3 JOIN cm2 ON r3.event_type = cm2.event_type
        |    AND r3.hr = cm2.hr),
        |re AS (SELECT rm1.event_type, rm1.dow, rm1.rm + rm2.rm re
        |  FROM rm1 JOIN rm2 ON rm1.event_type = rm2.event_type
        |    AND rm1.dow = rm2.dow),
        |ce AS (SELECT cm1.event_type, cm1.hr, cm1.cm + cm2.cm ce
        |  FROM cm1 JOIN cm2 ON cm1.event_type = cm2.event_type
        |    AND cm1.hr = cm2.hr),
        |ov AS (SELECT event_type, sum(re)/count(*) ov FROM (
        |    SELECT event_type, re,
        |      row_number() OVER (PARTITION BY event_type ORDER BY re) rn,
        |      count(*) OVER (PARTITION BY event_type) cnt FROM re) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1),
        |rr AS (SELECT event_type, max(re) - min(re) row_range FROM re
        |  GROUP BY 1),
        |cr AS (SELECT event_type, max(ce) - min(ce) col_range FROM ce
        |  GROUP BY 1),
        |mad AS (SELECT event_type, sum(ar)/count(*) mad FROM (
        |    SELECT event_type, abs(r) ar,
        |      row_number() OVER (PARTITION BY event_type ORDER BY abs(r))
        |        rn,
        |      count(*) OVER (PARTITION BY event_type) cnt FROM r4) z
        |  WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2 GROUP BY 1),
        |mx AS (SELECT event_type, max(abs(r)) max_resid FROM r4
        |  GROUP BY 1)
        |SELECT ov.event_type,
        |  round(ov*1000000)/1000000.0 AS overall_effect,
        |  round(row_range*1000000)/1000000.0 AS dow_range,
        |  round(col_range*1000000)/1000000.0 AS hour_range,
        |  round(mad*1000000)/1000000.0 AS resid_mad,
        |  round(max_resid*1000000)/1000000.0 AS max_resid
        |FROM ov JOIN rr ON ov.event_type = rr.event_type
        |JOIN cr ON ov.event_type = cr.event_type
        |JOIN mad ON ov.event_type = mad.event_type
        |JOIN mx ON ov.event_type = mx.event_type
        |ORDER BY 1""".stripMargin,
    "q371_acf_half_life" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(epoch(ts)/86400) AS BIGINT) dd,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) s,
        |    CAST(sum(CAST(x*x AS DECIMAL(38,10))) AS DOUBLE) q
        |  FROM daily GROUP BY 1),
        |mm AS (SELECT event_type, s/n mu, q - s*s/n den FROM mom),
        |hs AS (SELECT unnest(generate_series(1, 14)) h),
        |j AS (SELECT a.event_type, hs.h, a.x, b.x xb
        |  FROM daily a CROSS JOIN hs JOIN daily b
        |    ON b.event_type = a.event_type AND b.dd = a.dd - hs.h),
        |t AS (SELECT j.event_type, h,
        |    round((x - mu)*(xb - mu)*1e12)/1e12 t
        |  FROM j JOIN mm ON j.event_type = mm.event_type),
        |ac AS (SELECT t.event_type, h,
        |    CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) num
        |  FROM t GROUP BY 1, 2),
        |af AS (SELECT ac.event_type, h, num/den acf
        |  FROM ac JOIN mm ON ac.event_type = mm.event_type)
        |SELECT event_type,
        |  CAST(min(CASE WHEN acf < 0.5 THEN h END) AS INT)
        |    half_life_days,
        |  max(CASE WHEN h = 1 THEN round(acf*1000000)/1000000.0 END)
        |    AS acf_1,
        |  max(CASE WHEN h = 7 THEN round(acf*1000000)/1000000.0 END)
        |    AS acf_7,
        |  max(CASE WHEN h = 14 THEN round(acf*1000000)/1000000.0 END)
        |    AS acf_14
        |FROM af GROUP BY 1 ORDER BY 1""".stripMargin,
    "q372_catalog_dynamics" ->
      """WITH pm AS (SELECT l_partkey,
        |    min(CAST(year(l_shipdate)*12 + month(l_shipdate) - 1
        |      AS BIGINT)) fm,
        |    max(CAST(year(l_shipdate)*12 + month(l_shipdate) - 1
        |      AS BIGINT)) lm
        |  FROM lineitem GROUP BY 1),
        |births AS (SELECT fm mi, CAST(count(*) AS BIGINT) births
        |  FROM pm GROUP BY 1),
        |deaths AS (SELECT lm mi, CAST(count(*) AS BIGINT) deaths
        |  FROM pm GROUP BY 1),
        |sp AS (SELECT min(fm) lo, max(lm) hi FROM pm),
        |spine AS (SELECT unnest(generate_series(lo, hi)) mi FROM sp),
        |f AS (SELECT spine.mi, coalesce(births, 0) b,
        |    coalesce(deaths, 0) d
        |  FROM spine LEFT JOIN births ON spine.mi = births.mi
        |  LEFT JOIN deaths ON spine.mi = deaths.mi),
        |c AS (SELECT mi, b, d,
        |    CAST(sum(b) OVER (ORDER BY mi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) cb,
        |    CAST(sum(d) OVER (ORDER BY mi
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) cd FROM f)
        |SELECT CAST(floor(mi/12)*100 + mi % 12 + 1 AS INT) ym,
        |  b AS n_new, d AS n_retired, cb - cd + d AS n_active,
        |  CASE WHEN cb - cd + d > 0 THEN
        |    round(CAST(b + d AS DOUBLE)/(cb - cd + d)*1000000)/1000000.0
        |    ELSE 0.0 END AS turnover
        |FROM c ORDER BY 1""".stripMargin,
    "q373_first_value_ltv" ->
      """WITH f AS (SELECT o_custkey, o_totalprice fv FROM (
        |    SELECT o_custkey, o_totalprice, row_number() OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) rn
        |    FROM orders) z WHERE rn = 1),
        |t AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) ltv
        |  FROM orders GROUP BY 1),
        |j AS (SELECT c_mktsegment, fv, ltv
        |  FROM f JOIN t USING (o_custkey)
        |  JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_customers,
        |    CAST(sum(CAST(fv AS DECIMAL(28,6))) AS DOUBLE) sx,
        |    CAST(sum(CAST(ltv AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(fv*fv AS DECIMAL(38,6))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(fv*ltv AS DECIMAL(38,6))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(ltv*ltv AS DECIMAL(38,6))) AS DOUBLE) syy
        |  FROM j GROUP BY 1),
        |e AS (SELECT c_mktsegment, n_customers,
        |    CAST(n_customers AS DOUBLE) nn, sx, sy, sxx, sxy, syy FROM g),
        |d AS (SELECT c_mktsegment, n_customers, sx, sy,
        |    nn*sxx - sx*sx dx, nn*syy - sy*sy dy, nn*sxy - sx*sy cv
        |  FROM e)
        |SELECT c_mktsegment, n_customers,
        |  CASE WHEN dx > 0 AND dy > 0 THEN
        |    round(cv/sqrt(dx*dy)*1000000)/1000000.0 END AS pearson_r,
        |  round(sy/sx*10000)/10000.0 AS ltv_multiple
        |FROM d ORDER BY 1""".stripMargin,
    "q374_mean_residual_life" ->
      """WITH g0 AS (SELECT o_custkey, o_orderdate, lag(o_orderdate)
        |    OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) prev
        |  FROM orders),
        |gaps AS (SELECT CAST(date_diff('day', CAST(prev AS DATE),
        |    CAST(o_orderdate AS DATE)) AS BIGINT) gap
        |  FROM g0 WHERE prev IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) n_gaps FROM gaps),
        |us AS (SELECT unnest([7, 14, 30, 60, 90]) u),
        |e AS (SELECT CAST(u AS BIGINT) u, CAST(count(*) AS BIGINT)
        |    n_exceed, CAST(sum(gap) AS BIGINT) sg
        |  FROM gaps CROSS JOIN us WHERE gap > u GROUP BY 1)
        |SELECT u AS threshold_days, n_exceed,
        |  round(CAST(sg - n_exceed*u AS DOUBLE)/n_exceed*10000)/10000.0
        |    AS mrl_days,
        |  round(CAST(n_exceed AS DOUBLE)/n_gaps*1000000)/1000000.0
        |    AS survivor_share
        |FROM e CROSS JOIN tot ORDER BY 1""".stripMargin,
    "q375_weekday_entropy" ->
      """WITH cd AS (SELECT o_custkey,
        |    CAST((CAST(floor(epoch(o_orderdate)/86400) AS BIGINT) + 4)
        |      % 7 AS INT) dow, CAST(count(*) AS BIGINT) c
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT o_custkey, c,
        |    CAST(sum(c) OVER (PARTITION BY o_custkey) AS BIGINT) n
        |  FROM cd),
        |pr AS (SELECT o_custkey, n, CAST(c AS DOUBLE)/n p FROM t),
        |tt AS (SELECT o_custkey, n, round(p*ln(p)*1e12)/1e12 t FROM pr),
        |h AS (SELECT o_custkey,
        |    -CAST(sum(CAST(t AS DECIMAL(38,12))) AS DOUBLE) h,
        |    max(n) n_orders FROM tt GROUP BY 1),
        |hn AS (SELECT o_custkey, h/ln(7.0) hn FROM h
        |  WHERE n_orders >= 3),
        |j AS (SELECT c_mktsegment, hn
        |  FROM hn JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) n_customers,
        |  round(CAST(sum(CAST(hn AS DECIMAL(38,12))) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS avg_norm_entropy,
        |  round(CAST(sum(CASE WHEN hn < 0.75 THEN 1 ELSE 0 END)
        |    AS DOUBLE)/count(*)*1000000)/1000000.0 AS routine_share
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q376_discount_monotonicity" ->
      """WITH g AS (SELECT CAST(round(l_discount*100) AS INT) disc_pct,
        |    CAST(count(*) AS BIGINT) n_lines,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*) mq
        |  FROM lineitem GROUP BY 1),
        |l AS (SELECT disc_pct, n_lines, mq,
        |    lag(mq) OVER (ORDER BY disc_pct) prev_mq FROM g)
        |SELECT disc_pct, n_lines,
        |  round(mq*10000)/10000.0 AS mean_qty,
        |  CASE WHEN prev_mq IS NOT NULL THEN mq < prev_mq END
        |    AS is_violation
        |FROM l ORDER BY 1""".stripMargin,
    "q377_pq_recall" -> pqOracle(iters = 2, m = 4, k = 8),
    "q378_kruskal_wallis" ->
      """WITH tv AS (SELECT value, event_type, CAST(count(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT value, CAST(sum(c) AS BIGINT) t FROM tv GROUP BY 1),
        |r AS (SELECT value, t,
        |    coalesce(sum(t) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cumb
        |  FROM v),
        |ar AS (SELECT value, CAST(cumb AS DOUBLE) + (t + 1)/2.0 avg_rank
        |  FROM r),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) n,
        |    CAST(sum(CAST(c * avg_rank AS DECIMAL(38,6))) AS DOUBLE) rsum
        |  FROM tv JOIN ar USING (value) GROUP BY 1),
        |ties AS (SELECT CAST(sum(t) AS BIGINT) big_n,
        |    CAST(sum(CAST(t AS HUGEINT)*t*t - t) AS DOUBLE) tie_sum
        |  FROM v),
        |hh AS (SELECT max(big_n) big_n, max(tie_sum) tie_sum,
        |    CAST(sum(CAST(round(rsum*rsum/n*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) sum_term
        |  FROM g CROSS JOIN ties),
        |h2 AS (SELECT big_n,
        |    12.0/(CAST(big_n AS DOUBLE)*(big_n + 1))*sum_term
        |      - 3.0*CAST(big_n + 1 AS DOUBLE) h_raw,
        |    1.0 - tie_sum/(CAST(big_n AS DOUBLE)*big_n*big_n - big_n) cf
        |  FROM hh),
        |k AS (SELECT count(*) k FROM g)
        |SELECT g.event_type, g.n,
        |  round(rsum*10000)/10000.0 AS rank_sum,
        |  round(rsum/n*10000)/10000.0 AS mean_rank,
        |  round(h_raw*1000000)/1000000.0 AS h,
        |  CASE WHEN cf = 0 THEN NULL
        |       ELSE round(h_raw/cf*1000000)/1000000.0 END AS h_adj,
        |  CAST(k.k - 1 AS INT) AS df
        |FROM g CROSS JOIN h2 CROSS JOIN k ORDER BY 1""".stripMargin,
    "q379_cliffs_delta" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |g AS (SELECT event_type, value,
        |    ((e // 86400 + 4) % 7) IN (0, 6) we FROM ev),
        |c AS (SELECT event_type, value,
        |    CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS BIGINT) ca,
        |    CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) cb
        |  FROM g GROUP BY 1, 2),
        |r AS (SELECT event_type, value, ca, cb,
        |    coalesce(sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cb_below,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cb_at,
        |    sum(ca) OVER (PARTITION BY event_type) na,
        |    sum(cb) OVER (PARTITION BY event_type) nb
        |  FROM c),
        |m AS (SELECT event_type, CAST(max(na) AS BIGINT) n_wd,
        |    CAST(max(nb) AS BIGINT) n_we,
        |    sum(CAST(ca*cb_below AS DECIMAL(38,0))) gt,
        |    sum(CAST(ca*(nb - cb_at) AS DECIMAL(38,0))) lt
        |  FROM r GROUP BY 1),
        |d AS (SELECT event_type, n_wd, n_we,
        |    CASE WHEN n_wd = 0 OR n_we = 0 THEN NULL
        |      ELSE CAST(gt - lt AS DOUBLE)/(CAST(n_wd AS DOUBLE)*n_we)
        |    END delta
        |  FROM m)
        |SELECT event_type, n_wd, n_we,
        |  round(delta*1000000)/1000000.0 AS delta,
        |  CASE WHEN delta IS NULL THEN NULL
        |       WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM d ORDER BY 1""".stripMargin,
    "q380_ndcg_quantized" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |    embedding FROM e),
        |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |env AS (SELECT i, min(v) mn, max(v) mx FROM xx GROUP BY 1),
        |rx AS (SELECT vec_id, xx.i,
        |    CASE WHEN mx = mn THEN mn
        |      ELSE mn + round((v - mn)/(mx - mn)*255)/255*(mx - mn) END rv
        |  FROM xx JOIN env ON xx.i = env.i),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16)))
        |    AS DOUBLE)) nrm FROM xx GROUP BY 1),
        |nr AS (SELECT vec_id, sqrt(CAST(sum(CAST(rv*rv AS DECIMAL(18,16)))
        |    AS DOUBLE)) nrm FROM rx GROUP BY 1),
        |d1 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |    CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10
        |    AND p.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT probe_id, neighbor_id, rnk,
        |    CAST(11 - rnk AS DOUBLE) rel FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
        |    FROM d1 JOIN n np ON probe_id = np.vec_id
        |      JOIN n nc ON neighbor_id = nc.vec_id) WHERE rnk <= 10),
        |d2 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |    CAST(sum(CAST(p.rv*c.rv AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM rx p JOIN rx c ON p.i = c.i AND p.vec_id < 10
        |    AND p.vec_id <> c.vec_id
        |  GROUP BY 1, 2),
        |approx AS (SELECT probe_id, neighbor_id, rnk pos FROM (
        |    SELECT probe_id, neighbor_id,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
        |    FROM d2 JOIN nr np ON probe_id = np.vec_id
        |      JOIN nr nc ON neighbor_id = nc.vec_id) WHERE rnk <= 10),
        |dcg AS (SELECT a.probe_id,
        |    CAST(sum(CAST(round(coalesce(t.rel, 0.0)
        |      /(ln(a.pos + 1.0)/ln(2.0))*1e12)/1e12 AS DECIMAL(28,12)))
        |      AS DOUBLE) dcg,
        |    CAST(sum(CASE WHEN t.rel IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) n_hits
        |  FROM approx a LEFT JOIN truth t ON a.probe_id = t.probe_id
        |    AND a.neighbor_id = t.neighbor_id
        |  GROUP BY 1),
        |idcg AS (SELECT probe_id,
        |    CAST(sum(CAST(round(rel/(ln(rnk + 1.0)/ln(2.0))*1e12)/1e12
        |      AS DECIMAL(28,12))) AS DOUBLE) idcg
        |  FROM truth GROUP BY 1)
        |SELECT dcg.probe_id, n_hits,
        |  round(dcg*1000000)/1000000.0 AS dcg,
        |  round(dcg/idcg*1000000)/1000000.0 AS ndcg
        |FROM dcg JOIN idcg USING (probe_id) ORDER BY 1""".stripMargin,
    "q381_period_fold" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM ev GROUP BY 1, 2),
        |p AS (SELECT unnest(generate_series(2, 14)) p),
        |perph AS (SELECT event_type, p.p, dy % p.p ph,
        |    CAST(count(*) AS BIGINT) n_ph,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) s_ph
        |  FROM daily CROSS JOIN p GROUP BY 1, 2, 3),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) s,
        |    CAST(sum(CAST(round(x*x*1e12)/1e12 AS DECIMAL(38,12)))
        |      AS DOUBLE) sxx
        |  FROM daily GROUP BY 1),
        |tot2 AS (SELECT *, round(s*s/n_days*1e12)/1e12 cm FROM tot),
        |sc AS (SELECT event_type, p,
        |    CAST(sum(CAST(round(s_ph*s_ph/n_ph*1e12)/1e12 AS DECIMAL(38,12)))
        |      AS DOUBLE) sb
        |  FROM perph GROUP BY 1, 2),
        |sh AS (SELECT sc.event_type, sc.p, n_days,
        |    CASE WHEN sxx - cm <= 0 THEN NULL
        |      ELSE round((sb - cm)/(sxx - cm)*1000000)/1000000.0 END shr
        |  FROM sc JOIN tot2 USING (event_type)),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY shr DESC NULLS LAST, p) rn FROM sh)
        |SELECT event_type, CAST(max(n_days) AS BIGINT) n_days,
        |  CAST(max(CASE WHEN rn = 1 THEN p END) AS INT) best_p,
        |  max(CASE WHEN rn = 1 THEN shr END) best_share,
        |  CAST(max(CASE WHEN rn = 2 THEN p END) AS INT) second_p,
        |  max(CASE WHEN rn = 2 THEN shr END) second_share
        |FROM rr WHERE rn <= 2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q382_pq_distortion" -> pqDistortionOracle(iters = 2, m = 4, k = 8),
    "q383_friedman" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM ev GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) k
        |  FROM daily),
        |cmpl AS (SELECT d.*, count(*) OVER (PARTITION BY dy) nd
        |  FROM daily d),
        |cb AS (SELECT cmpl.*, k FROM cmpl CROSS JOIN kk WHERE nd = k),
        |rk AS (SELECT event_type, dy, k,
        |    rank() OVER (PARTITION BY dy ORDER BY x) min_rnk,
        |    count(*) OVER (PARTITION BY dy, x) tie
        |  FROM cb),
        |mr AS (SELECT event_type, dy, k,
        |    CAST(min_rnk AS DOUBLE) + (tie - 1)/2.0 midrank FROM rk),
        |per AS (SELECT event_type, CAST(max(k) AS BIGINT) k,
        |    CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(midrank AS DECIMAL(38,6))) AS DOUBLE) rj
        |  FROM mr GROUP BY 1),
        |qq AS (SELECT max(k) k, max(n_days) n,
        |    CAST(sum(CAST(round(rj*rj*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) srj2
        |  FROM per),
        |q2 AS (SELECT
        |    12.0/(CAST(n AS DOUBLE)*k*(k+1))*srj2
        |      - 3.0*CAST(n AS DOUBLE)*(k+1) q_raw,
        |    CAST(k - 1 AS INT) df FROM qq)
        |SELECT per.event_type, per.n_days,
        |  round(rj*10000)/10000.0 AS rank_sum,
        |  round(rj/n_days*10000)/10000.0 AS mean_rank,
        |  round(q_raw*1000000)/1000000.0 AS q,
        |  df
        |FROM per CROSS JOIN q2 ORDER BY 1""".stripMargin,
    "q384_page_trend" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM ev GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) k
        |  FROM daily),
        |cmpl AS (SELECT d.*, count(*) OVER (PARTITION BY dy) nd
        |  FROM daily d),
        |cb AS (SELECT cmpl.*, k FROM cmpl CROSS JOIN kk WHERE nd = k),
        |rk AS (SELECT event_type, dy, k,
        |    rank() OVER (PARTITION BY dy ORDER BY x) min_rnk,
        |    count(*) OVER (PARTITION BY dy, x) tie
        |  FROM cb),
        |mr AS (SELECT event_type, dy, k,
        |    CAST(min_rnk AS DOUBLE) + (tie - 1)/2.0 midrank FROM rk),
        |per AS (SELECT event_type, CAST(max(k) AS BIGINT) k,
        |    CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(midrank AS DECIMAL(38,6))) AS DOUBLE) rj
        |  FROM mr GROUP BY 1),
        |jper AS (SELECT *, CAST(row_number() OVER (ORDER BY event_type)
        |    AS BIGINT) j FROM per),
        |ll AS (SELECT max(k) k, max(n_days) n,
        |    CAST(sum(CAST(round(j*rj*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) lsum
        |  FROM jper),
        |lz AS (SELECT lsum,
        |    CAST(n AS DOUBLE)*k*(k+1)*(k+1)/4 mu,
        |    sqrt(CAST(n AS DOUBLE)*k*k*(k+1)*(k*k - 1)/144) sigma
        |  FROM ll)
        |SELECT event_type, CAST(j AS INT) AS position, n_days,
        |  round(rj*10000)/10000.0 AS rank_sum,
        |  round(lsum*10000)/10000.0 AS l,
        |  round((lsum - mu)/sigma*1000000)/1000000.0 AS z
        |FROM jper CROSS JOIN lz ORDER BY 1""".stripMargin,
    "q385_dunn_posthoc" ->
      """WITH tv AS (SELECT value, event_type, CAST(count(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT value, CAST(sum(c) AS BIGINT) t FROM tv GROUP BY 1),
        |r AS (SELECT value, t,
        |    coalesce(sum(t) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cumb
        |  FROM v),
        |ar AS (SELECT value, CAST(cumb AS DOUBLE) + (t + 1)/2.0 avg_rank
        |  FROM r),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) n,
        |    CAST(sum(CAST(c * avg_rank AS DECIMAL(38,6))) AS DOUBLE) rsum
        |  FROM tv JOIN ar USING (value) GROUP BY 1),
        |ties AS (SELECT CAST(sum(t) AS BIGINT) big_n,
        |    CAST(sum(CAST(t AS HUGEINT)*t*t - t) AS DOUBLE) tie_sum
        |  FROM v),
        |p AS (SELECT a.event_type type_a, b.event_type type_b,
        |    a.n na, b.n nb, a.rsum/a.n ma, b.rsum/b.n mb
        |  FROM g a JOIN g b ON a.event_type < b.event_type),
        |s AS (SELECT p.*, (CAST(big_n AS DOUBLE)*(big_n + 1)/12
        |    - tie_sum/(12.0*CAST(big_n - 1 AS DOUBLE)))
        |    *(1.0/na + 1.0/nb) s2
        |  FROM p CROSS JOIN ties)
        |SELECT type_a, type_b, na, nb,
        |  round((ma - mb)*10000)/10000.0 AS mean_rank_diff,
        |  round((ma - mb)/sqrt(s2)*1000000)/1000000.0 AS z,
        |  abs((ma - mb)/sqrt(s2)) > 2.807 AS significant
        |FROM s ORDER BY 1, 2""".stripMargin,
    "q386_rbo_quantized" -> rboOracle(d = 10, p = 0.9),
    "q387_jonckheere" ->
      """WITH cnts AS (SELECT event_type, value, CAST(count(*) AS BIGINT) c
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT value FROM cnts),
        |types AS (SELECT DISTINCT event_type FROM cnts),
        |grid AS (SELECT t.event_type, s.value, coalesce(c.c, 0) c0
        |  FROM spine s CROSS JOIN types t
        |  LEFT JOIN cnts c ON c.event_type = t.event_type
        |    AND c.value = s.value),
        |f AS (SELECT event_type type_a, value,
        |    CAST(coalesce(sum(c0) OVER (PARTITION BY event_type
        |      ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS DOUBLE)
        |      + CAST(c0 AS DOUBLE)/2 fa
        |  FROM grid),
        |b AS (SELECT event_type type_b, value, c cb FROM cnts),
        |pp AS (SELECT type_a, type_b,
        |    CAST(sum(CAST(round(cb*fa*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) u
        |  FROM f JOIN b USING (value) WHERE type_a < type_b
        |  GROUP BY 1, 2),
        |sz AS (SELECT event_type, CAST(sum(c) AS BIGINT) n
        |  FROM cnts GROUP BY 1),
        |nrm AS (SELECT CAST(sum(n) AS BIGINT) big_n,
        |    CAST(sum(CAST(n AS HUGEINT)*n) AS DOUBLE) sn2,
        |    CAST(sum(CAST(n AS HUGEINT)*n*(2*n + 3)) AS DOUBLE) sn23
        |  FROM sz),
        |nz AS (SELECT (CAST(big_n AS DOUBLE)*big_n - sn2)/4 mu,
        |    sqrt((CAST(big_n AS DOUBLE)*big_n
        |      *(2.0*CAST(big_n AS DOUBLE) + 3) - sn23)/72) sigma
        |  FROM nrm),
        |jj AS (SELECT CAST(sum(CAST(round(u*1e6)/1e6 AS DECIMAL(38,6)))
        |    AS DOUBLE) jstat FROM pp)
        |SELECT type_a, type_b,
        |  round(u*10000)/10000.0 AS u,
        |  round(jstat*10000)/10000.0 AS j,
        |  round((jstat - mu)/sigma*1000000)/1000000.0 AS z
        |FROM pp CROSS JOIN jj CROSS JOIN nz ORDER BY 1, 2""".stripMargin,
    "q388_quade" ->
      """WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e,
        |    value FROM events),
        |daily AS (SELECT event_type, e // 86400 dy,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/count(*) x
        |  FROM ev GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT event_type) AS BIGINT) k
        |  FROM daily),
        |cmpl AS (SELECT d.*, count(*) OVER (PARTITION BY dy) nd
        |  FROM daily d),
        |cb AS (SELECT cmpl.*, k FROM cmpl CROSS JOIN kk WHERE nd = k),
        |rk AS (SELECT event_type, dy, k, x,
        |    rank() OVER (PARTITION BY dy ORDER BY x) min_rnk,
        |    count(*) OVER (PARTITION BY dy, x) tie
        |  FROM cb),
        |mr AS (SELECT event_type, dy, k, x,
        |    CAST(min_rnk AS DOUBLE) + (tie - 1)/2.0 midrank FROM rk),
        |rg AS (SELECT dy, max(x) - min(x) rg FROM mr GROUP BY 1),
        |qd AS (SELECT dy,
        |    CAST(rank() OVER (ORDER BY rg) AS DOUBLE)
        |      + (count(*) OVER (PARTITION BY rg) - 1)/2.0 q
        |  FROM rg),
        |sij AS (SELECT mr.event_type, mr.dy,
        |    round(q*(midrank - (k + 1)/2.0)*1e6)/1e6 sij
        |  FROM mr JOIN qd USING (dy)),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) n_days,
        |    CAST(sum(CAST(sij AS DECIMAL(38,6))) AS DOUBLE) sj,
        |    CAST(sum(CAST(round(sij*sij*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) aj
        |  FROM sij GROUP BY 1),
        |ff AS (SELECT max(n_days) n, count(*) k,
        |    CAST(sum(CAST(aj AS DECIMAL(38,6))) AS DOUBLE) a,
        |    CAST(sum(CAST(round(sj*sj*1e6)/1e6 AS DECIMAL(38,6)))
        |      AS DOUBLE) sb
        |  FROM per),
        |fz AS (SELECT
        |    CASE WHEN a - sb/n <= 0 THEN NULL
        |      ELSE CAST(n - 1 AS DOUBLE)*(sb/n)/(a - sb/n) END fstat,
        |    CAST(k - 1 AS INT) df1,
        |    CAST((n - 1)*(k - 1) AS INT) df2
        |  FROM ff)
        |SELECT event_type, n_days,
        |  round(sj*10000)/10000.0 AS s_j,
        |  round(fstat*1000000)/1000000.0 AS f,
        |  df1, df2
        |FROM per CROSS JOIN fz ORDER BY 1""".stripMargin,
    "q389_capped_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh0 AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |f AS (SELECT sh, count(*) df FROM sh0 GROUP BY 1),
        |sh AS (SELECT s.doc_id, s.sh FROM sh0 s JOIN f USING (sh) WHERE df <= 5),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2)
        |SELECT doc_a, doc_b, n_shared,
        | round(CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared), 6) jaccard
        |FROM inter JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |WHERE CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared) >= 0.5
        |ORDER BY 1,2""".stripMargin,
    "q390_capped_containment" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) n_sh FROM sh GROUP BY 1),
        |f AS (SELECT sh, count(*) df FROM sh GROUP BY 1),
        |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN f USING (sh) WHERE df <= 5),
        |cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |         FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id <> b.doc_id),
        |ex AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) n_shared
        |       FROM cand c
        |       JOIN sh sa ON sa.doc_id = c.doc_a
        |       JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        |       GROUP BY 1,2)
        |SELECT ex.doc_a, ex.doc_b, sz.n_sh AS n_sh_a, ex.n_shared,
        |  round(CAST(ex.n_shared AS DOUBLE) / sz.n_sh * 10000) / 10000 AS containment
        |FROM ex JOIN sz ON sz.doc_id = ex.doc_a
        |WHERE CAST(ex.n_shared AS DOUBLE) / sz.n_sh >= 0.8
        |ORDER BY ex.doc_a, ex.doc_b""".stripMargin,
    "q391_ivfpq_recall" -> ivfPqOracle(iters = 2, m = 4, k = 8),
    "q392_kcenter_coreset" -> kcenterOracle(t = 6),
    "q393_balanced_pq" -> balancedPqOracle(iters = 2, m = 4, k = 8),
    "q394_bpe_merges" -> bpeOracle(rounds = 3),
    "q395_dedup_aware_mixture" ->
      """WITH hs AS (SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) h,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
        |      AS BIGINT) n_tok
        |  FROM documents),
        |k AS (SELECT h, min(doc_id) keeper FROM hs GROUP BY 1),
        |a AS (SELECT source,
        |    CAST(sum(n_tok) AS BIGINT) tokens_total,
        |    CAST(sum(CASE WHEN doc_id = keeper THEN n_tok ELSE 0 END)
        |      AS BIGINT) tokens_kept
        |  FROM hs JOIN k ON hs.h = k.h GROUP BY 1),
        |n AS (SELECT 1.0/count(*) shr FROM a),
        |b AS (SELECT min(tokens_total * 4.0 / n.shr) b_naive,
        |    min(tokens_kept * 4.0 / n.shr) b_dedup
        |  FROM a, n)
        |SELECT source, tokens_total, tokens_kept,
        |  round(n.shr * 10000)/10000 AS target_share,
        |  CAST(round(n.shr * b_naive) AS BIGINT) AS planned_naive,
        |  CAST(round(n.shr * b_dedup) AS BIGINT) AS planned_dedup,
        |  round(n.shr * b_dedup / tokens_kept * 10000)/10000 AS epochs_eff,
        |  CAST(round(n.shr * b_naive
        |    * (1.0 - CAST(tokens_kept AS DOUBLE)
        |       / CAST(tokens_total AS DOUBLE))) AS BIGINT) AS dup_reread
        |FROM a, n, b ORDER BY 1""".stripMargin,
    "q396_ktruss" -> ktrussOracle(k = 4, rounds = 3),
    "q397_abtt" -> abttOracle(iters = 6),
    "q398_theta_forecast" ->
      """WITH RECURSIVE daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT event_type, m,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) rn
        |  FROM daily),
        |tt AS (SELECT event_type, max(rn) t FROM idx GROUP BY 1),
        |reg AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(rn) AS BIGINT) st, CAST(sum(rn*rn) AS BIGINT) stt,
        |    CAST(sum(CAST(m AS DECIMAL(38,12))) AS DOUBLE) sm,
        |    CAST(sum(CAST(rn*m AS DECIMAL(38,12))) AS DOUBLE) stm
        |  FROM idx GROUP BY 1),
        |ab0 AS (SELECT event_type, n, st, sm,
        |    CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)*CAST(st AS DOUBLE)/n sxx,
        |    stm - CAST(st AS DOUBLE)*sm/n sxy
        |  FROM reg),
        |ab1 AS (SELECT event_type, n, st, sm,
        |    CASE WHEN sxx = 0 THEN 0.0 ELSE sxy/sxx END b
        |  FROM ab0),
        |ab AS (SELECT event_type, n, b,
        |    sm/n - b*CAST(st AS DOUBLE)/n a
        |  FROM ab1),
        |zq AS (SELECT idx.event_type, rn,
        |    round((2.0*m - (a + b*rn))*1e12)/1e12 z
        |  FROM idx JOIN ab ON idx.event_type = ab.event_type),
        |r AS (
        |  SELECT event_type, CAST(1 AS BIGINT) t, z l, CAST(0.0 AS DOUBLE) sae
        |  FROM zq WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    round((0.5*z.z + 0.5*r.l)*1e12)/1e12,
        |    r.sae + round(abs(z.z - r.l)*1e12)/1e12
        |  FROM r JOIN zq z ON z.event_type = r.event_type AND z.rn = r.t + 1)
        |SELECT r.event_type, r.t AS n_days,
        |  round(b*1e6)/1e6 + 0.0 AS slope,
        |  round(r.l*1e6)/1e6 AS ses_level,
        |  round(0.5*((a + b*CAST(r.t + 7 AS DOUBLE)) + r.l)*1e6)/1e6
        |    AS forecast_7d,
        |  round(r.sae/CAST(r.t - 1 AS DOUBLE)*1e6)/1e6 AS mae
        |FROM r JOIN tt ON r.event_type = tt.event_type AND r.t = tt.t
        |  JOIN ab ON r.event_type = ab.event_type
        |WHERE tt.t >= 2 ORDER BY 1""".stripMargin,
    "q399_wand_prune" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf FROM tx GROUP BY 1,2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id probe_id, tok FROM tf WHERE doc_id < 5),
        |trm AS MATERIALIZED (SELECT t.doc_id, t.tok,
        |    CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      AS DECIMAL(18,10)) term
        |  FROM tf t JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats),
        |ub AS (SELECT tok, max(term) ub FROM trm GROUP BY 1),
        |pd AS MATERIALIZED (SELECT p.probe_id, t.doc_id,
        |    sum(t.term) s, sum(ub.ub) ubsum
        |  FROM trm t JOIN probes p USING (tok) JOIN ub USING (tok)
        |  WHERE t.doc_id <> p.probe_id GROUP BY 1, 2),
        |th AS (SELECT probe_id, s theta FROM (SELECT probe_id, s,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY s DESC, doc_id) rnk
        |  FROM pd) WHERE rnk = 5)
        |SELECT pd.probe_id, CAST(count(*) AS BIGINT) n_candidates,
        |  CAST(sum(CASE WHEN ubsum < theta THEN 1 ELSE 0 END) AS BIGINT)
        |    n_prunable,
        |  round(CAST(theta AS DOUBLE)*10000)/10000 AS theta,
        |  round(CAST(sum(CASE WHEN ubsum < theta THEN 1 ELSE 0 END)
        |    AS DOUBLE)/count(*)*1e6)/1e6 AS prune_rate
        |FROM pd JOIN th ON pd.probe_id = th.probe_id
        |GROUP BY pd.probe_id, theta ORDER BY 1""".stripMargin,
    "q400_dup_spectrum" ->
      """WITH hs AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) h,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
        |      AS BIGINT) n_tok
        |  FROM documents),
        |g AS (SELECT h, CAST(count(*) AS BIGINT) m,
        |    CAST(sum(n_tok) AS BIGINT) g_tok,
        |    min_by(n_tok, doc_id) k_tok
        |  FROM hs GROUP BY 1)
        |SELECT m AS multiplicity, CAST(count(*) AS BIGINT) n_groups,
        |  m * CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(g_tok) AS BIGINT) AS tokens_total,
        |  CAST(sum(g_tok - k_tok) AS BIGINT) AS tokens_excess
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q401_shard_balance" ->
      """WITH b AS (SELECT source,
        |    md5('shard:'||CAST(doc_id AS VARCHAR)) h FROM documents),
        |sh AS (SELECT source, CAST(CAST(
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |    (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |    (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |    (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |    (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)
        |    % 8 AS INT) shard
        |  FROM b),
        |cnt AS (SELECT shard, source, CAST(count(*) AS BIGINT) n
        |  FROM sh GROUP BY 1, 2),
        |shn AS (SELECT shard, CAST(count(*) AS BIGINT) n_docs
        |  FROM sh GROUP BY 1),
        |gl AS (SELECT source, CAST(count(*) AS BIGINT) ng FROM sh GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) nt FROM sh),
        |grid AS (SELECT shn.shard, shn.n_docs,
        |    CAST(coalesce(cnt.n, 0) AS DOUBLE)/shn.n_docs p,
        |    CAST(gl.ng AS DOUBLE)/tot.nt q
        |  FROM shn CROSS JOIN gl
        |    LEFT JOIN cnt ON shn.shard = cnt.shard AND gl.source = cnt.source
        |    CROSS JOIN tot)
        |SELECT shard, n_docs,
        |  round(0.5*CAST(sum(CAST(round(abs(p - q)*1e12)/1e12
        |    AS DECIMAL(28,12))) AS DOUBLE)*1e6)/1e6 AS tvd,
        |  round(max(p)*1e6)/1e6 AS max_source_share
        |FROM grid GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q402_confident_errors" ->
      """WITH d0 AS (SELECT doc_id, source,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |tk AS (SELECT doc_id, source, unnest(string_split(t, ' ')) tok
        |       FROM d0),
        |tf AS (SELECT doc_id, source, tok FROM tk WHERE length(tok) > 0),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) cnt
        |       FROM tf GROUP BY 1, 2),
        |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) ns
        |       FROM tf GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(ns) AS BIGINT) n_src
        |         FROM st GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) v FROM st),
        |pri AS (SELECT source, CAST(count(*) AS BIGINT) docs_src
        |        FROM documents GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) n_docs FROM documents),
        |grid AS (SELECT tks.tok, stot.source,
        |    ln(CAST(coalesce(st.ns, 0) + 1 AS DOUBLE)
        |      /CAST(stot.n_src + vv.v AS DOUBLE)) ll
        |  FROM (SELECT DISTINCT tok FROM st) tks
        |  CROSS JOIN stot
        |  LEFT JOIN st ON st.source = stot.source AND st.tok = tks.tok
        |  CROSS JOIN vv),
        |sc AS (SELECT dt.doc_id, grid.source,
        |    CAST(sum(CAST(CAST(cnt AS DOUBLE)*ll AS DECIMAL(28,12)))
        |      AS DOUBLE) s
        |  FROM dt JOIN grid ON dt.tok = grid.tok GROUP BY 1, 2),
        |pv AS (SELECT pri.source,
        |    ln(CAST(docs_src AS DOUBLE)/CAST(n_docs AS DOUBLE)) lp
        |  FROM pri CROSS JOIN nd),
        |fin AS MATERIALIZED (SELECT sc.doc_id, sc.source, pv.lp + sc.s score
        |        FROM sc JOIN pv ON sc.source = pv.source),
        |mxq AS (SELECT doc_id, max(score) mx FROM fin GROUP BY 1),
        |lse AS (SELECT fin.doc_id,
        |    mxq.mx + ln(CAST(sum(CAST(round(exp(score - mx)*1e15)/1e15
        |      AS DECIMAL(28,15))) AS DOUBLE)) lse
        |  FROM fin JOIN mxq ON fin.doc_id = mxq.doc_id
        |  GROUP BY fin.doc_id, mxq.mx),
        |post AS MATERIALIZED (SELECT fin.doc_id, fin.source,
        |    round(exp(score - lse)*1e12)/1e12 p
        |  FROM fin JOIN lse ON fin.doc_id = lse.doc_id),
        |act AS (SELECT doc_id, source actual FROM documents),
        |thr AS (SELECT post.source,
        |    CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE)/count(*) t
        |  FROM post JOIN act ON post.doc_id = act.doc_id
        |    AND post.source = act.actual
        |  GROUP BY 1),
        |sug AS (SELECT doc_id, source suggested, p FROM (
        |    SELECT post.doc_id, post.source, post.p,
        |      row_number() OVER (PARTITION BY post.doc_id
        |        ORDER BY post.p DESC, post.source) rn
        |    FROM post JOIN thr ON post.source = thr.source
        |    WHERE post.p >= thr.t) WHERE rn = 1)
        |SELECT act.actual, sug.suggested, CAST(count(*) AS BIGINT) n_docs,
        |  round(CAST(sum(CAST(p AS DECIMAL(28,12))) AS DOUBLE)
        |    /count(*)*1e6)/1e6 AS mean_conf,
        |  act.actual <> sug.suggested AS is_error
        |FROM act JOIN sug ON act.doc_id = sug.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q403_split_leakage" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |sz AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) n_shared
        |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2),
        |pr AS (SELECT doc_a, doc_b FROM inter
        |       JOIN sz sa ON doc_a = sa.doc_id JOIN sz sb ON doc_b = sb.doc_id
        |       WHERE CAST(n_shared AS DOUBLE)/(sa.n_sh + sb.n_sh - n_shared) >= 0.5),
        |bs AS (SELECT doc_id,
        |    md5('split:'||CAST(doc_id AS VARCHAR)) h,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+', 0))
        |      AS BIGINT) n_tok
        |  FROM documents),
        |spl AS (SELECT doc_id, n_tok, CASE WHEN CAST(
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |    (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |    (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |    (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |    (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)
        |    < 13421772 THEN 'train' ELSE 'eval' END side
        |  FROM bs),
        |cat AS (SELECT pr.doc_a, pr.doc_b, sa.side sa, sb.side sb
        |  FROM pr JOIN spl sa ON pr.doc_a = sa.doc_id
        |    JOIN spl sb ON pr.doc_b = sb.doc_id),
        |cnts AS (SELECT CAST(count(*) AS BIGINT) n_pairs,
        |    CAST(sum(CASE WHEN sa = 'train' AND sb = 'train' THEN 1 ELSE 0
        |      END) AS BIGINT) n_within_train,
        |    CAST(sum(CASE WHEN sa = 'eval' AND sb = 'eval' THEN 1 ELSE 0
        |      END) AS BIGINT) n_within_eval,
        |    CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT) n_cross
        |  FROM cat),
        |cont AS (SELECT CAST(count(*) AS BIGINT) n_contam_eval_docs,
        |    CAST(sum(n_tok) AS BIGINT) contam_tokens
        |  FROM (SELECT DISTINCT CASE WHEN sa = 'eval' THEN doc_a ELSE doc_b
        |      END doc_id
        |    FROM cat WHERE sa <> sb) c JOIN spl ON c.doc_id = spl.doc_id),
        |et AS (SELECT CAST(count(*) AS BIGINT) n_eval_docs FROM spl
        |  WHERE side = 'eval')
        |SELECT n_pairs, n_within_train, n_within_eval, n_cross,
        |  CASE WHEN n_pairs = 0 THEN 0.0
        |    ELSE round(CAST(n_cross AS DOUBLE)/n_pairs*1e6)/1e6 END leak_rate,
        |  n_eval_docs, n_contam_eval_docs,
        |  coalesce(contam_tokens, 0) contam_tokens
        |FROM cnts, cont, et""".stripMargin,
    "q404_kmv_sketch" ->
      s"""WITH d AS (SELECT doc_id, string_split(
         |   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') w FROM documents),
         |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
         |       FROM d WHERE len(w) >= 3),
         |sh0 AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
         |shd AS (SELECT DISTINCT sh FROM sh0),
         |hx AS (SELECT md5('kmv:'||sh) h FROM shd),
         |hv AS (SELECT ${graft.ops.Sketches.hexValSql("h", 12)} hv FROM hx),
         |ex AS (SELECT CAST(count(*) AS BIGINT) exact_distinct FROM shd),
         |tk AS (SELECT hv, CAST(row_number() OVER (ORDER BY hv) AS INT) rank
         |  FROM (SELECT hv FROM hv ORDER BY hv LIMIT 16)),
         |kth AS (SELECT hv kth_min FROM tk WHERE rank = 16)
         |SELECT rank, tk.hv,
         |  CAST(round(15.0*281474976710656.0/kth_min) AS BIGINT) est_distinct,
         |  exact_distinct
         |FROM tk, kth, ex ORDER BY 1""".stripMargin,
    "q405_order_runs" ->
      """WITH s AS (SELECT doc_id, source FROM documents),
        |ch AS (SELECT CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> source
        |      THEN 1 ELSE 0 END) AS BIGINT) chg
        |  FROM (SELECT source, lag(source) OVER (ORDER BY doc_id) prev
        |        FROM s)),
        |cnts AS (SELECT source, CAST(count(*) AS BIGINT) ni FROM s
        |  GROUP BY 1),
        |ss AS (SELECT sum(CAST(ni AS DECIMAL(38,0))*ni) s2,
        |    sum(CAST(ni AS DECIMAL(38,0))*ni*ni) s3 FROM cnts),
        |fin AS (SELECT n, CAST(1 AS BIGINT) + chg n_runs,
        |    CAST(n AS DOUBLE) nd, CAST(s2 AS DOUBLE) s2d,
        |    CAST(s3 AS DOUBLE) s3d
        |  FROM ch, ss),
        |ex AS (SELECT n, n_runs, nd, s2d, s3d, nd*(nd + 1.0) nn1 FROM fin),
        |ev AS (SELECT n, n_runs, nd, (nn1 - s2d)/nd e_runs,
        |    (s2d*(s2d + nn1) - 2.0*nd*s3d - nd*nd*nd)
        |      /(nd*nd*(nd - 1.0)) vr
        |  FROM ex)
        |SELECT n, n_runs, round(e_runs*1e6)/1e6 AS expected_runs,
        |  CASE WHEN vr <= 0 THEN NULL
        |    ELSE round((CAST(n_runs AS DOUBLE) - e_runs)/sqrt(vr)*1e6)/1e6
        |      + 0.0 END AS z
        |FROM ev""".stripMargin,
    "q406_sketch_resemblance" ->
      s"""WITH d AS (SELECT doc_id, string_split(
         |   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') w FROM documents),
         |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
         |       FROM d WHERE len(w) >= 3),
         |sh0 AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
         |sided AS (SELECT DISTINCT
         |    CAST(substr(dd.source, 4, 10) AS INT) % 2 = 0 even, sh0.sh
         |  FROM sh0 JOIN documents dd ON sh0.doc_id = dd.doc_id),
         |ext AS (SELECT
         |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) n_inter,
         |    CAST(count(*) AS BIGINT) n_union,
         |    CAST(sum(in_a) AS BIGINT) n_a, CAST(sum(in_b) AS BIGINT) n_b
         |  FROM (SELECT sh,
         |      max(CASE WHEN even THEN 1 ELSE 0 END) in_a,
         |      max(CASE WHEN NOT even THEN 1 ELSE 0 END) in_b
         |    FROM sided GROUP BY 1)),
         |hv AS (SELECT even, ${graft.ops.Sketches.hexValSql("h", 12)} hv
         |  FROM (SELECT even, md5('kmv:'||sh) h FROM sided)),
         |sk AS (SELECT even, hv FROM (SELECT even, hv,
         |    row_number() OVER (PARTITION BY even ORDER BY hv) rk FROM hv)
         |  WHERE rk <= 16),
         |un AS (SELECT hv,
         |    max(CASE WHEN even THEN 1 ELSE 0 END) in_a,
         |    max(CASE WHEN NOT even THEN 1 ELSE 0 END) in_b
         |  FROM sk GROUP BY 1 ORDER BY hv LIMIT 16),
         |est AS (SELECT CAST(count(*) AS BIGINT) n_kmin,
         |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT) n_both
         |  FROM un)
         |SELECT 16 k, n_a, n_b,
         |  round(CAST(n_both AS DOUBLE)/n_kmin*1e6)/1e6 AS est_jaccard,
         |  round(CAST(n_inter AS DOUBLE)/n_union*1e6)/1e6 AS exact_jaccard
         |FROM est, ext""".stripMargin,
    "q407_sax_discords" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/3600) AS BIGINT) h,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |mom AS (SELECT event_type, CAST(count(*) AS BIGINT) nh,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE) s1,
        |    CAST(sum(CAST(m*m AS DECIMAL(28,12))) AS DOUBLE) s2
        |  FROM hourly GROUP BY 1),
        |ms AS (SELECT event_type, s1/CAST(nh AS DOUBLE) mu,
        |    sqrt((s2 - CAST(nh AS DOUBLE)*(s1/CAST(nh AS DOUBLE))
        |      *(s1/CAST(nh AS DOUBLE)))/CAST(nh - 1 AS DOUBLE)) sd
        |  FROM mom),
        |sym AS (SELECT hourly.event_type, h,
        |    CASE WHEN (m - mu)/sd < -0.6744897501960817 THEN 0
        |         WHEN (m - mu)/sd < 0 THEN 1
        |         WHEN (m - mu)/sd < 0.6744897501960817 THEN 2
        |         ELSE 3 END s
        |  FROM hourly JOIN ms ON hourly.event_type = ms.event_type),
        |wd AS (SELECT event_type, h,
        |    s*16 + (lead(s, 1) OVER w)*4 + (lead(s, 2) OVER w) word,
        |    lead(s, 2) OVER w ok
        |  FROM sym WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |cnt AS (SELECT event_type, word, CAST(count(*) AS BIGINT) n,
        |    min(h) first_h
        |  FROM wd WHERE ok IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT event_type, word, n, first_h,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY n, word) AS INT) rnk
        |  FROM cnt)
        |SELECT event_type, rnk, CAST(word AS INT) word, n, first_h
        |FROM rk WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin,
    "q408_lm_gap" ->
      s"""WITH b AS (SELECT doc_id,
         |    md5('split:'||CAST(doc_id AS VARCHAR)) h, text FROM documents),
         |sided AS (SELECT doc_id, text,
         |    CASE WHEN ${graft.ops.Sketches.hexValSql("h", 6)} < 13421772
         |      THEN 'train' ELSE 'eval' END side
         |  FROM b),
         |tk AS (SELECT doc_id, side, unnest(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) tok
         |  FROM sided),
         |tf AS (SELECT doc_id, side, tok FROM tk WHERE length(tok) > 0),
         |dt AS (SELECT doc_id, side, tok, CAST(count(*) AS BIGINT) cnt
         |  FROM tf GROUP BY 1, 2, 3),
         |tc AS (SELECT tok, CAST(count(*) AS BIGINT) ct FROM tf
         |  WHERE side = 'train' GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) v FROM tf),
         |ntr AS (SELECT CAST(count(*) AS BIGINT) ntr FROM tf
         |  WHERE side = 'train'),
         |pd AS (SELECT dt.doc_id, dt.side,
         |    round(CAST(sum(CAST(CAST(cnt AS DOUBLE)
         |        *ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE)
         |          /CAST(ntr.ntr + vv.v AS DOUBLE)) AS DECIMAL(28,12)))
         |      AS DOUBLE)*-1.0/CAST(sum(cnt) AS DOUBLE)*1e12)/1e12 nll
         |  FROM dt LEFT JOIN tc ON dt.tok = tc.tok
         |  CROSS JOIN vv CROSS JOIN ntr
         |  GROUP BY 1, 2),
         |agg AS (SELECT
         |    CAST(sum(CASE WHEN side = 'train' THEN 1 ELSE 0 END)
         |      AS BIGINT) n_train_docs,
         |    CAST(sum(CASE WHEN side = 'eval' THEN 1 ELSE 0 END)
         |      AS BIGINT) n_eval_docs,
         |    CAST(sum(CAST(CASE WHEN side = 'train' THEN nll ELSE 0.0 END
         |      AS DECIMAL(28,12))) AS DOUBLE)
         |      /CAST(sum(CASE WHEN side = 'train' THEN 1 ELSE 0 END)
         |        AS DOUBLE) tn,
         |    CAST(sum(CAST(CASE WHEN side = 'eval' THEN nll ELSE 0.0 END
         |      AS DECIMAL(28,12))) AS DOUBLE)
         |      /CAST(sum(CASE WHEN side = 'eval' THEN 1 ELSE 0 END)
         |        AS DOUBLE) en
         |  FROM pd)
         |SELECT n_train_docs, n_eval_docs,
         |  round(tn*1e6)/1e6 AS train_nll,
         |  round(en*1e6)/1e6 AS eval_nll,
         |  round((en - tn)*1e6)/1e6 + 0.0 AS gap
         |FROM agg""".stripMargin,
    "q409_mcnemar" ->
      """WITH mom AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |ms AS (SELECT event_type, s1/n m,
        |    sqrt((s2 - n*(s1/n)*(s1/n))/(n - 1)) sd FROM mom
        |  WHERE n >= 2),
        |q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25)*1000000)/1000000.0 q1,
        |    round(quantile_cont(value, 0.75)*1000000)/1000000.0 q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1 - 1.5*(q3 - q1) lo,
        |    q3 + 1.5*(q3 - q1) hi FROM q),
        |fl AS (SELECT e.event_type,
        |    abs(e.value - ms.m) > 3.0*ms.sd fa,
        |    (e.value < f.lo OR e.value > f.hi) fb
        |  FROM events e JOIN ms ON e.event_type = ms.event_type
        |    JOIN f ON e.event_type = f.event_type),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN fa AND NOT fb THEN 1 ELSE 0 END)
        |      AS BIGINT) n10,
        |    CAST(sum(CASE WHEN fb AND NOT fa THEN 1 ELSE 0 END)
        |      AS BIGINT) n01
        |  FROM fl GROUP BY 1)
        |SELECT event_type, n, n10, n01,
        |  round((CASE WHEN n10 + n01 = 0 THEN NULL
        |    ELSE CAST(CAST(abs(n10 - n01) - 1 AS HUGEINT)
        |        *CAST(abs(n10 - n01) - 1 AS HUGEINT) AS DOUBLE)
        |      /CAST(n10 + n01 AS DOUBLE) END)*10000)/10000.0 AS chi2
        |FROM a ORDER BY 1""".stripMargin,
    "q410_cochran_q" ->
      """WITH mom AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) s1,
        |    CAST(sum(CAST(value*value AS DECIMAL(28,6))) AS DOUBLE) s2
        |  FROM events GROUP BY 1),
        |ms AS (SELECT event_type, s1/n m,
        |    sqrt((s2 - n*(s1/n)*(s1/n))/(n - 1)) sd FROM mom
        |  WHERE n >= 2),
        |q AS (SELECT event_type,
        |    round(quantile_cont(value, 0.25)*1000000)/1000000.0 q1,
        |    round(quantile_cont(value, 0.75)*1000000)/1000000.0 q3,
        |    round(quantile_cont(value, 0.005)*1000000)/1000000.0 p005,
        |    round(quantile_cont(value, 0.995)*1000000)/1000000.0 p995
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1 - 1.5*(q3 - q1) lo,
        |    q3 + 1.5*(q3 - q1) hi, p005, p995 FROM q),
        |fl AS (SELECT e.event_type,
        |    CASE WHEN abs(e.value - ms.m) > 3.0*ms.sd THEN 1 ELSE 0 END fa,
        |    CASE WHEN e.value < f.lo OR e.value > f.hi THEN 1 ELSE 0 END fb,
        |    CASE WHEN e.value < f.p005 OR e.value > f.p995
        |      THEN 1 ELSE 0 END fc
        |  FROM events e JOIN ms ON e.event_type = ms.event_type
        |    JOIN f ON e.event_type = f.event_type),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(fa) AS BIGINT) g_sigma,
        |    CAST(sum(fb) AS BIGINT) g_tukey,
        |    CAST(sum(fc) AS BIGINT) g_tail,
        |    CAST(sum((fa + fb + fc)*(fa + fb + fc)) AS BIGINT) sum_l2
        |  FROM fl GROUP BY 1),
        |b AS (SELECT *, g_sigma + g_tukey + g_tail t FROM a),
        |c AS (SELECT *,
        |    2*(3*(CAST(g_sigma AS HUGEINT)*g_sigma
        |        + CAST(g_tukey AS HUGEINT)*g_tukey
        |        + CAST(g_tail AS HUGEINT)*g_tail)
        |      - CAST(t AS HUGEINT)*t) num,
        |    3*t - sum_l2 den FROM b)
        |SELECT event_type, n, g_sigma, g_tukey, g_tail,
        |  round((CASE WHEN den <= 0 THEN NULL
        |    ELSE CAST(num AS DOUBLE)/CAST(den AS DOUBLE) END)*10000)
        |    /10000.0 AS q_stat,
        |  CAST(2 AS INTEGER) AS df
        |FROM c ORDER BY 1""".stripMargin,
    "q411_permutation_entropy" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |tri AS (SELECT event_type, d, m x0,
        |    lead(m, 1) OVER w x1, lead(m, 2) OVER w x2,
        |    lead(d, 1) OVER w d1, lead(d, 2) OVER w d2
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |coded AS (SELECT event_type,
        |    (CASE WHEN x0 < x1 THEN 4 ELSE 0 END)
        |    + (CASE WHEN x1 < x2 THEN 2 ELSE 0 END)
        |    + (CASE WHEN x0 < x2 THEN 1 ELSE 0 END) code
        |  FROM tri WHERE d1 = d + 1 AND d2 = d + 2),
        |pat AS (SELECT event_type, code, CAST(count(*) AS BIGINT) c
        |  FROM coded GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) nw,
        |    CAST(count(*) AS BIGINT) n_patterns FROM pat GROUP BY 1),
        |h AS (SELECT pat.event_type, max(nw) n_windows,
        |    max(n_patterns) n_patterns,
        |    CAST(sum(CAST(-(CAST(c AS DOUBLE)/nw)
        |      *ln(CAST(c AS DOUBLE)/nw) AS DECIMAL(18,10))) AS DOUBLE) h
        |  FROM pat JOIN tot ON pat.event_type = tot.event_type GROUP BY 1)
        |SELECT event_type, n_windows, n_patterns,
        |  round(h*10000)/10000.0 AS h,
        |  round(h/ln(6.0)*10000)/10000.0 AS h_norm
        |FROM h ORDER BY 1""".stripMargin,
    "q412_rm3_expansion" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf FROM tx GROUP BY 1,2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id probe_id, tok FROM tf WHERE doc_id < 5),
        |scored AS (SELECT p.probe_id, t.doc_id,
        |    sum(CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE) * 2.2)
        |      / (CAST(t.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |      AS DECIMAL(18,10))) s
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats
        |  WHERE t.doc_id <> p.probe_id
        |  GROUP BY 1,2),
        |topk AS (SELECT probe_id, doc_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY s DESC, doc_id) drnk
        |  FROM scored QUALIFY drnk <= 5),
        |pool AS (SELECT k.probe_id, t.tok,
        |    sum(CAST(CAST(t.tf AS DOUBLE)/CAST(dl.dl AS DOUBLE)
        |      /CAST(k.drnk AS DOUBLE) AS DECIMAL(18,10))) prel
        |  FROM tf t JOIN topk k ON t.doc_id = k.doc_id
        |  JOIN dl ON t.doc_id = dl.doc_id
        |  GROUP BY 1, 2),
        |novel AS (SELECT * FROM pool WHERE NOT EXISTS (
        |    SELECT 1 FROM probes p
        |    WHERE p.probe_id = pool.probe_id AND p.tok = pool.tok)),
        |sc AS (SELECT probe_id, tok,
        |    CAST(CAST(prel AS DOUBLE) * ln(n_docs/CAST(df AS DOUBLE))
        |      AS DECIMAL(18,10)) score
        |  FROM novel JOIN dfreq USING (tok) CROSS JOIN stats),
        |rk AS (SELECT probe_id, tok, score,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY score DESC, tok) rnk
        |  FROM sc)
        |SELECT probe_id, CAST(rnk AS INTEGER) rnk, tok,
        |  round(CAST(score AS DOUBLE)*10000)/10000 AS rm3
        |FROM rk WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin,
    "q413_kn_bigram" ->
      s"""WITH d0 AS (SELECT doc_id, source,
         |    md5('split:'||CAST(doc_id AS VARCHAR)) h,
         |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ',
         |      'g'), ' ') w
         |  FROM documents),
         |sided AS (SELECT doc_id, source, w,
         |    CASE WHEN ${graft.ops.Sketches.hexValSql("h", 6)} < 13421772
         |      THEN 'train' ELSE 'eval' END side
         |  FROM d0),
         |bg AS (SELECT source, side, w[g] u, w[g+1] v
         |  FROM (SELECT source, side, w,
         |          unnest(generate_series(1, len(w) - 1)) g
         |        FROM sided WHERE len(w) >= 2)),
         |cuw AS (SELECT u, v, CAST(count(*) AS BIGINT) cuw FROM bg
         |  WHERE side = 'train' GROUP BY 1, 2),
         |ctx AS (SELECT u, CAST(sum(cuw) AS BIGINT) cu,
         |    CAST(count(*) AS BIGINT) n1u FROM cuw GROUP BY 1),
         |cont AS (SELECT v, CAST(count(*) AS BIGINT) contw FROM cuw
         |  GROUP BY 1),
         |bt AS (SELECT CAST(count(*) AS BIGINT) b FROM cuw),
         |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) vv FROM (
         |    SELECT unnest(w) tok FROM sided) WHERE length(tok) > 0),
         |ev AS (SELECT source, u, v, CAST(count(*) AS BIGINT) cnt FROM bg
         |  WHERE side = 'eval' GROUP BY 1, 2, 3),
         |sc AS (SELECT e.source, e.cnt, ctx.cu,
         |    CASE WHEN ctx.cu IS NULL
         |      THEN CAST(coalesce(cont.contw, 0) + 1 AS DOUBLE)
         |        /CAST(bt.b + vocab.vv AS DOUBLE)
         |      ELSE greatest(CAST(coalesce(cuw.cuw, 0) AS DOUBLE) - 0.75,
         |          0.0)/CAST(ctx.cu AS DOUBLE)
         |        + 0.75*CAST(ctx.n1u AS DOUBLE)/CAST(ctx.cu AS DOUBLE)
         |          *(CAST(coalesce(cont.contw, 0) + 1 AS DOUBLE)
         |            /CAST(bt.b + vocab.vv AS DOUBLE)) END p
         |  FROM ev e LEFT JOIN cuw ON e.u = cuw.u AND e.v = cuw.v
         |  LEFT JOIN ctx ON e.u = ctx.u
         |  LEFT JOIN cont ON e.v = cont.v
         |  CROSS JOIN bt CROSS JOIN vocab),
         |tm AS (SELECT source, cnt, cu,
         |    CAST(CAST(cnt AS DOUBLE)*ln(p) AS DECIMAL(28,12)) term
         |  FROM sc)
         |SELECT source, CAST(sum(cnt) AS BIGINT) n_bigrams,
         |  round(CAST(sum(CASE WHEN cu IS NULL THEN cnt ELSE 0 END)
         |      AS DOUBLE)
         |    /CAST(sum(cnt) AS DOUBLE)*1e6)/1e6 AS backoff_rate,
         |  round(CAST(sum(term) AS DOUBLE)*-1.0
         |    /CAST(sum(cnt) AS DOUBLE)*1e6)/1e6 AS cross_entropy
         |FROM tm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q414_jl_distortion" ->
      """WITH sg AS (SELECT j, d,
        |    CASE WHEN (instr('0123456789abcdef',
        |        substr(md5('jl:'||CAST(j AS VARCHAR)||':'
        |          ||CAST(d AS VARCHAR)), 1, 1)) - 1) % 2 = 0
        |      THEN 1.0 ELSE -1.0 END s
        |  FROM (SELECT unnest(generate_series(0, 31)) j),
        |       (SELECT unnest(generate_series(0, 63)) d)),
        |xx AS MATERIALIZED (SELECT vec_id, i - 1 d,
        |    CAST(embedding[i] AS DOUBLE) x
        |  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |          embedding FROM embeddings)),
        |proj AS MATERIALIZED (SELECT vec_id, j,
        |    CAST(sum(CAST(s*x AS DECIMAL(18,16))) AS DOUBLE) y
        |  FROM xx JOIN sg ON xx.d = sg.d GROUP BY 1, 2),
        |n2 AS MATERIALIZED (SELECT vec_id,
        |    CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE) n2
        |  FROM xx GROUP BY 1),
        |lags AS (SELECT unnest([1, 17, 257]) lag),
        |pr0 AS (SELECT a.vec_id vec_a, a.vec_id + l.lag vec_b
        |  FROM n2 a CROSS JOIN lags l),
        |dotab AS (SELECT p.vec_a, p.vec_b,
        |    CAST(sum(CAST(xa.x*xb.x AS DECIMAL(18,16))) AS DOUBLE) dot
        |  FROM pr0 p JOIN xx xa ON xa.vec_id = p.vec_a
        |    JOIN xx xb ON xb.vec_id = p.vec_b AND xb.d = xa.d
        |  GROUP BY 1, 2),
        |pairs AS (SELECT d.vec_a, d.vec_b,
        |    na.n2 + nb.n2 - 2.0*d.dot dist2
        |  FROM dotab d JOIN n2 na ON d.vec_a = na.vec_id
        |    JOIN n2 nb ON d.vec_b = nb.vec_id
        |  WHERE na.n2 + nb.n2 - 2.0*d.dot > 0),
        |pd AS (SELECT p.vec_a, p.vec_b, p.dist2,
        |    sum(CASE WHEN ya.j < 8
        |      THEN CAST((ya.y - yb.y)*(ya.y - yb.y) AS DECIMAL(28,12))
        |      ELSE CAST(0 AS DECIMAL(28,12)) END) s8,
        |    sum(CASE WHEN ya.j < 16
        |      THEN CAST((ya.y - yb.y)*(ya.y - yb.y) AS DECIMAL(28,12))
        |      ELSE CAST(0 AS DECIMAL(28,12)) END) s16,
        |    sum(CAST((ya.y - yb.y)*(ya.y - yb.y) AS DECIMAL(28,12))) s32
        |  FROM pairs p JOIN proj ya ON ya.vec_id = p.vec_a
        |    JOIN proj yb ON yb.vec_id = p.vec_b AND yb.j = ya.j
        |  GROUP BY 1, 2, 3),
        |un AS (SELECT dist2, 8 dprime, s8 sd FROM pd
        |  UNION ALL SELECT dist2, 16, s16 FROM pd
        |  UNION ALL SELECT dist2, 32, s32 FROM pd),
        |rt AS (SELECT dprime,
        |    CAST(sd AS DOUBLE)/(dprime*dist2) ratio FROM un)
        |SELECT dprime, CAST(count(*) AS BIGINT) n_pairs,
        |  round(CAST(sum(CAST(ratio AS DECIMAL(28,12))) AS DOUBLE)
        |    /count(*)*1e6)/1e6 AS mean_ratio,
        |  round(sqrt(CAST(sum(CAST((ratio - 1.0)*(ratio - 1.0)
        |    AS DECIMAL(28,12))) AS DOUBLE)/count(*))*1e6)/1e6 AS rms_err,
        |  round(max(abs(ratio - 1.0))*1e6)/1e6 AS max_abs_err
        |FROM rt GROUP BY 1 ORDER BY 1""".stripMargin,
    "q415_hampel" ->
      """WITH w AS (SELECT user_id, value,
        |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING) win
        |  FROM events),
        |m AS (SELECT user_id, value, win,
        |    list_aggregate(win, 'median') med FROM w),
        |d AS (SELECT user_id, abs(value - med) dev,
        |    3.0*1.4826*list_aggregate(
        |      list_transform(win, x -> abs(x - med)), 'median') fence
        |  FROM m)
        |SELECT user_id, CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CASE WHEN dev > fence THEN 1 ELSE 0 END) AS BIGINT)
        |    n_flagged,
        |  round(CAST(sum(CASE WHEN dev > fence THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    /CAST(count(*) AS DOUBLE)*1000000)/1000000.0 AS flag_rate,
        |  round(max(CASE WHEN fence > 0 THEN dev/fence END)*10000)
        |    /10000.0 AS worst_ratio
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q416_forecast_ensemble" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |rn AS (SELECT event_type, d, m,
        |    row_number() OVER w rn,
        |    count(*) OVER (PARTITION BY event_type) t,
        |    lag(m, 1) OVER w x1,
        |    lag(m, 7) OVER w x7
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |rn2 AS (SELECT *, t - 7 cut FROM rn WHERE t >= 15),
        |ts AS (SELECT event_type, CAST(count(*) AS BIGINT) n_train,
        |    CAST(sum(CAST(m AS DECIMAL(28,12))) AS DOUBLE)/count(*)
        |      mean_tr,
        |    max(CASE WHEN rn = cut THEN m END) last_tr
        |  FROM rn2 WHERE rn <= cut GROUP BY 1),
        |ins AS (SELECT r.event_type,
        |    CAST(sum(CASE WHEN x1 IS NOT NULL
        |        THEN CAST(abs(m - x1) AS DECIMAL(28,12)) END) AS DOUBLE)
        |      /CAST(sum(CASE WHEN x1 IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) mae_naive,
        |    CAST(sum(CASE WHEN x7 IS NOT NULL
        |        THEN CAST(abs(m - x7) AS DECIMAL(28,12)) END) AS DOUBLE)
        |      /CAST(sum(CASE WHEN x7 IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) mae_snaive,
        |    CAST(sum(CAST(abs(m - ts.mean_tr) AS DECIMAL(28,12)))
        |        AS DOUBLE)
        |      /CAST(count(*) AS DOUBLE) mae_mean
        |  FROM rn2 r JOIN ts ON r.event_type = ts.event_type
        |  WHERE rn <= cut GROUP BY 1),
        |wt AS (SELECT *, 1.0/greatest(mae_naive, 1e-12) in_,
        |    1.0/greatest(mae_snaive, 1e-12) is_,
        |    1.0/greatest(mae_mean, 1e-12) im_ FROM ins),
        |wt2 AS (SELECT *, in_ + is_ + im_ isum FROM wt),
        |wt3 AS (SELECT event_type, mae_naive, mae_snaive, mae_mean,
        |    in_/isum w_naive, is_/isum w_snaive, im_/isum w_mean
        |  FROM wt2),
        |oos AS (SELECT r.event_type,
        |    CAST(sum(CAST(abs(m - (w_naive*last_tr + w_snaive*x7
        |        + w_mean*mean_tr)) AS DECIMAL(28,12))) AS DOUBLE)
        |      /CAST(count(*) AS DOUBLE) oos_blend,
        |    CAST(sum(CAST(abs(m - last_tr) AS DECIMAL(28,12))) AS DOUBLE)
        |      /CAST(count(*) AS DOUBLE) oos_naive,
        |    CAST(sum(CAST(abs(m - x7) AS DECIMAL(28,12))) AS DOUBLE)
        |      /CAST(count(*) AS DOUBLE) oos_snaive,
        |    CAST(sum(CAST(abs(m - mean_tr) AS DECIMAL(28,12))) AS DOUBLE)
        |      /CAST(count(*) AS DOUBLE) oos_mean
        |  FROM rn2 r JOIN ts ON r.event_type = ts.event_type
        |    JOIN wt3 ON r.event_type = wt3.event_type
        |  WHERE rn > cut GROUP BY 1),
        |fin AS (SELECT i.event_type, i.mae_naive, i.mae_snaive,
        |    i.mae_mean, w3.w_naive, w3.w_snaive, w3.w_mean, o.oos_blend,
        |    least(o.oos_naive, o.oos_snaive, o.oos_mean) oos_best
        |  FROM ins i JOIN wt3 w3 ON i.event_type = w3.event_type
        |    JOIN oos o ON i.event_type = o.event_type)
        |SELECT event_type,
        |  round(mae_naive*1000000)/1000000.0 AS mae_naive,
        |  round(mae_snaive*1000000)/1000000.0 AS mae_snaive,
        |  round(mae_mean*1000000)/1000000.0 AS mae_mean,
        |  round(w_naive*1000000)/1000000.0 AS w_naive,
        |  round(w_snaive*1000000)/1000000.0 AS w_snaive,
        |  round(w_mean*1000000)/1000000.0 AS w_mean,
        |  round(oos_blend*1000000)/1000000.0 AS oos_blend_mae,
        |  round(oos_best*1000000)/1000000.0 AS oos_best_single_mae,
        |  oos_blend < oos_best AS blend_wins
        |FROM fin ORDER BY 1""".stripMargin,
    "q417_ppmi_cooc" ->
      """WITH d AS (SELECT string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w
        |  FROM documents),
        |p1 AS (SELECT w[g] w1, w[g+1] w2
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) g
        |        FROM d WHERE len(w) >= 2)),
        |p2 AS (SELECT w[g] w1, w[g+2] w2
        |  FROM (SELECT w, unnest(generate_series(1, len(w) - 2)) g
        |        FROM d WHERE len(w) >= 3)),
        |pr AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) c12 FROM pr
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) c1 FROM c12 GROUP BY 1),
        |c2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) c2 FROM c12 GROUP BY 1),
        |tot AS (SELECT CAST(sum(c12) AS BIGINT) n FROM c12),
        |sc AS (SELECT c12.w1, c12.w2, c12.c12,
        |    greatest(ln(CAST(n AS DOUBLE)*CAST(c12 AS DOUBLE)
        |      /(CAST(c1 AS DOUBLE)*CAST(c2 AS DOUBLE))), 0.0) ppmi
        |  FROM c12 JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
        |  WHERE c12 >= 5),
        |rk AS (SELECT *, row_number() OVER (ORDER BY ppmi DESC, w1, w2)
        |    rnk FROM sc)
        |SELECT CAST(rnk AS INT) rnk, w1, w2, c12,
        |  round(ppmi*1000000)/1000000.0 AS ppmi
        |FROM rk WHERE rnk <= 20 ORDER BY 1""".stripMargin,
    "q418_funnel_steps" ->
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) e FROM events),
        |v AS (SELECT user_id, event_id, e,
        |    CAST((floor(e/86400) + 4) % 7 AS INT) dow
        |  FROM ev WHERE event_type = 'view'),
        |c AS (SELECT user_id c_user, e ce FROM ev
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id p_user, e pe FROM ev
        |  WHERE event_type = 'purchase'),
        |s2 AS (SELECT v.user_id, v.event_id, v.e, v.dow, min(c.ce) cmin
        |  FROM v LEFT JOIN c ON v.user_id = c.c_user
        |    AND c.ce >= v.e AND c.ce <= v.e + 3600
        |  GROUP BY 1, 2, 3, 4),
        |s3 AS (SELECT s2.user_id, s2.event_id, s2.dow, s2.cmin,
        |    max(CASE WHEN p.p_user IS NOT NULL THEN 1 ELSE 0 END) reached3
        |  FROM s2 LEFT JOIN p ON s2.user_id = p.p_user
        |    AND s2.cmin IS NOT NULL
        |    AND p.pe >= s2.cmin AND p.pe <= s2.e + 3600
        |  GROUP BY 1, 2, 3, 4)
        |SELECT dow, CAST(count(*) AS BIGINT) n_views,
        |  CAST(sum(CASE WHEN cmin IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) n_level2,
        |  CAST(sum(reached3) AS BIGINT) n_level3,
        |  round(CAST(sum(CASE WHEN cmin IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    /CAST(count(*) AS DOUBLE)*1000000)/1000000.0 AS rate2,
        |  round(CAST(sum(reached3) AS DOUBLE)
        |    /CAST(count(*) AS DOUBLE)*1000000)/1000000.0 AS rate3
        |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q419_zip_fit" ->
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d FROM events),
        |span AS (SELECT max(d) - min(d) + 1 n_days FROM ev),
        |nz AS (SELECT event_type, user_id, d, CAST(count(*) AS BIGINT) k
        |  FROM ev GROUP BY 1, 2, 3),
        |ag AS (SELECT event_type,
        |    CAST(count(DISTINCT user_id) AS BIGINT) n_users,
        |    CAST(count(*) AS BIGINT) nnz, CAST(sum(k) AS BIGINT) s1,
        |    CAST(sum(k*k) AS BIGINT) s2
        |  FROM nz GROUP BY 1),
        |f AS (SELECT *, n_users*n_days n_cells FROM ag CROSS JOIN span),
        |g AS (SELECT *, CAST(s1 AS DOUBLE)/n_cells m FROM f),
        |h AS (SELECT *,
        |    (CAST(s2 AS DOUBLE) - n_cells*m*m)/(n_cells - 1) v FROM g),
        |i AS (SELECT *, m + v/m - 1.0 lam FROM h)
        |SELECT event_type, n_users, n_days, n_cells, nnz,
        |  round(CAST(n_cells - nnz AS DOUBLE)/CAST(n_cells AS DOUBLE)
        |    *1000000)/1000000.0 AS p0,
        |  round(m*1000000)/1000000.0 AS mean,
        |  round(v*1000000)/1000000.0 AS variance,
        |  round(CASE WHEN m > 0 AND lam > 0 THEN lam END*1000000)
        |    /1000000.0 AS lambda_hat,
        |  round(CASE WHEN m > 0 AND lam > 0 THEN 1.0 - m/lam END
        |    *1000000)/1000000.0 AS pi_hat
        |FROM i ORDER BY 1""".stripMargin,
    "q420_arch_lm" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(ts))/86400) AS BIGINT) d,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      /count(*)*1e12)/1e12 m
        |  FROM events GROUP BY 1, 2),
        |l1 AS (SELECT event_type, d, m, lag(d, 1) OVER w dp,
        |    lag(m, 1) OVER w mp
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |sq AS (SELECT event_type, d ds, (m - mp)*(m - mp) s
        |  FROM l1 WHERE dp = d - 1),
        |l2 AS (SELECT event_type, ds, s, lag(ds, 1) OVER w2 dsp,
        |    lag(s, 1) OVER w2 sp
        |  FROM sq WINDOW w2 AS (PARTITION BY event_type ORDER BY ds)),
        |pr AS (SELECT event_type, s, sp FROM l2 WHERE dsp = ds - 1),
        |ag AS (SELECT event_type, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(sp AS DECIMAL(38,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(s*sp AS DECIMAL(38,10))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(s*s AS DECIMAL(38,10))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(sp*sp AS DECIMAL(38,10))) AS DOUBLE) syy
        |  FROM pr GROUP BY 1),
        |k AS (SELECT *, CAST(n AS DOUBLE) nn,
        |    sxx - sx*sx/CAST(n AS DOUBLE) vx,
        |    syy - sy*sy/CAST(n AS DOUBLE) vy,
        |    sxy - sx*sy/CAST(n AS DOUBLE) cxy FROM ag),
        |r AS (SELECT *, CASE WHEN vx > 0 AND vy > 0
        |    THEN cxy/sqrt(vx*vy) END r FROM k)
        |SELECT event_type, n AS n_pairs, round(r*1e12)/1e12 AS r,
        |  round(nn*r*r*10000)/10000.0 AS arch_lm, CAST(1 AS INT) AS df
        |FROM r ORDER BY 1""".stripMargin,
    "q421_bbit_minhash" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig,
        |            count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id),
        |est AS (SELECT p.doc_a, p.doc_b,
        |          CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
        |            AS DOUBLE)/12.0 est_full,
        |          CAST(sum(CASE WHEN substr(a.m, 32, 1) = substr(b.m, 32, 1)
        |            THEN 1 ELSE 0 END) AS DOUBLE)/12.0 p_hat
        |        FROM pairs p JOIN mh a ON a.doc_id = p.doc_a
        |                     JOIN mh b ON b.doc_id = p.doc_b
        |                       AND b.salt = a.salt
        |        GROUP BY 1,2),
        |eb AS (SELECT *, greatest((p_hat*16.0 - 1.0)/15.0, 0.0) est_bbit
        |       FROM est),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) n_shared
        |          FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a
        |                       JOIN sh sb ON sb.doc_id = p.doc_b
        |                         AND sb.sh = sa.sh
        |          GROUP BY 1,2),
        |jx AS (SELECT e.doc_a, e.doc_b, e.est_full, e.est_bbit,
        |         CAST(n_shared AS DOUBLE)/(na.n + nb.n - n_shared) jac
        |       FROM eb e JOIN inter i ON e.doc_a = i.doc_a
        |         AND e.doc_b = i.doc_b
        |       JOIN sizes na ON e.doc_a = na.doc_id
        |       JOIN sizes nb ON e.doc_b = nb.doc_id)
        |SELECT doc_a, doc_b,
        |  round(est_full*10000)/10000 AS est_full,
        |  round(est_bbit*10000)/10000 AS est_bbit,
        |  round(jac*10000)/10000 AS jaccard,
        |  round(abs(est_full - jac)*10000)/10000 AS err_full,
        |  round(abs(est_bbit - jac)*10000)/10000 AS err_bbit
        |FROM jx ORDER BY 1,2""".stripMargin,
    "q422_two_hop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pe AS (SELECT a.l_partkey u, b.l_partkey v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT u, v FROM pe UNION SELECT v, u FROM pe),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) deg FROM adj
        |  GROUP BY 1),
        |mids AS (SELECT u mid FROM deg WHERE deg <= 64),
        |ns AS (SELECT CAST(count(*) AS BIGINT) n_suppressed_mids
        |  FROM deg WHERE deg > 64),
        |two AS (SELECT DISTINCT h1.u, h2.v w
        |  FROM adj h1 JOIN mids m ON h1.v = m.mid
        |  JOIN adj h2 ON h2.u = h1.v
        |  WHERE h2.v <> h1.u),
        |twox AS (SELECT t.u, t.w FROM two t WHERE NOT EXISTS (
        |    SELECT 1 FROM adj a WHERE a.u = t.u AND a.v = t.w)),
        |n2 AS (SELECT u, CAST(count(*) AS BIGINT) n2 FROM twox
        |  GROUP BY 1),
        |alln AS (SELECT deg.u, coalesce(n2.n2, 0) n2 FROM deg
        |  LEFT JOIN n2 ON deg.u = n2.u)
        |SELECT (n2 // 10)*10 AS bucket, CAST(count(*) AS BIGINT) n_nodes,
        |  min(n2) min_n2, max(n2) max_n2, n_suppressed_mids
        |FROM alln CROSS JOIN ns GROUP BY 1, 5 ORDER BY 1""".stripMargin,
    "q423_item_knn" ->
      """WITH oi AS (SELECT o_custkey cust, o_orderkey okey,
        |    o_orderdate odate FROM orders),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cust
        |    ORDER BY odate DESC, okey DESC) ornk FROM oi),
        |li AS (SELECT DISTINCT l_orderkey okey, l_partkey part
        |  FROM lineitem),
        |test AS (SELECT cust, part FROM rk JOIN li USING (okey)
        |  WHERE ornk = 1),
        |hist AS (SELECT DISTINCT cust, part FROM rk JOIN li USING (okey)
        |  WHERE ornk >= 2),
        |users AS (SELECT DISTINCT cust FROM hist),
        |baskets AS (SELECT DISTINCT okey, part FROM rk
        |  JOIN li USING (okey) WHERE ornk >= 2),
        |ci AS (SELECT part, CAST(count(*) AS BIGINT) c FROM baskets
        |  GROUP BY 1),
        |prs AS (SELECT x.part i, y.part j, CAST(count(*) AS BIGINT) cij
        |  FROM baskets x JOIN baskets y ON x.okey = y.okey
        |    AND x.part < y.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT i, j, cij FROM prs
        |  UNION ALL SELECT j, i, cij FROM prs),
        |sim AS (SELECT s.i, s.j,
        |    CAST(s.cij AS DOUBLE)/sqrt(CAST(a.c*b.c AS DOUBLE)) cos
        |  FROM sym s JOIN ci a ON s.i = a.part JOIN ci b ON s.j = b.part),
        |nbrs AS (SELECT i, j, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY i
        |      ORDER BY cos DESC, j) nr FROM sim) WHERE nr <= 20),
        |cand AS (SELECT h.cust, n.j,
        |    sum(CAST(n.cos AS DECIMAL(18,10))) score
        |  FROM hist h JOIN nbrs n ON h.part = n.i
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h2
        |    WHERE h2.cust = h.cust AND h2.part = n.j)
        |  GROUP BY 1, 2),
        |rec AS (SELECT cust, j, rr FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, j) rr FROM cand) WHERE rr <= 10),
        |hits AS (SELECT r.cust, min(rr) first_hit,
        |    max(CASE WHEN rr <= 5 THEN 1 ELSE 0 END) hit5
        |  FROM rec r JOIN test t ON r.cust = t.cust AND r.j = t.part
        |  GROUP BY 1),
        |ag AS (SELECT CAST(count(*) AS BIGINT) n_users,
        |    CAST(sum(CASE WHEN hit5 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      n_hit5,
        |    CAST(sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) n_hit10,
        |    CAST(sum(coalesce(CAST(1.0/first_hit AS DECIMAL(18,10)),
        |      CAST(0 AS DECIMAL(18,10)))) AS DOUBLE) srr
        |  FROM users u LEFT JOIN hits ON u.cust = hits.cust)
        |SELECT n_users, n_hit5, n_hit10,
        |  round(CAST(n_hit5 AS DOUBLE)/CAST(n_users AS DOUBLE)*1000000)
        |    /1000000.0 AS hit_rate_5,
        |  round(CAST(n_hit10 AS DOUBLE)/CAST(n_users AS DOUBLE)*1000000)
        |    /1000000.0 AS hit_rate_10,
        |  round(srr/CAST(n_users AS DOUBLE)*1000000)/1000000.0 AS mrr_10
        |FROM ag""".stripMargin,
    "q424_phash_pairs" ->
      """WITH pay AS (SELECT doc_id asset_id, text,
        |    CAST(length(text) AS BIGINT) ll
        |  FROM documents WHERE length(text) >= 72),
        |cells AS (SELECT asset_id,
        |    list_transform(range(72), k -> list_sum(list_transform(
        |      range((k*ll)//72, ((k+1)*ll)//72),
        |      i -> CAST(ord(substr(text, CAST(i+1 AS INT), 1)) AS BIGINT)))) s,
        |    list_transform(range(72), k ->
        |      ((k+1)*ll)//72 - (k*ll)//72) n
        |  FROM pay),
        |hh AS (SELECT asset_id,
        |    list_sum(list_transform(range(32), b -> CASE WHEN
        |      s[CAST((b//8)*9 + (b%8) + 1 AS INT)]
        |        * n[CAST((b//8)*9 + (b%8) + 2 AS INT)]
        |      > s[CAST((b//8)*9 + (b%8) + 2 AS INT)]
        |        * n[CAST((b//8)*9 + (b%8) + 1 AS INT)]
        |      THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END)) h1,
        |    list_sum(list_transform(range(32), b -> CASE WHEN
        |      s[CAST(((b+32)//8)*9 + ((b+32)%8) + 1 AS INT)]
        |        * n[CAST(((b+32)//8)*9 + ((b+32)%8) + 2 AS INT)]
        |      > s[CAST(((b+32)//8)*9 + ((b+32)%8) + 2 AS INT)]
        |        * n[CAST(((b+32)//8)*9 + ((b+32)%8) + 1 AS INT)]
        |      THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END)) h2
        |  FROM cells),
        |bands0 AS (SELECT asset_id, h1, h2, b.b band,
        |    CASE b.b WHEN 0 THEN h1 % 65536 WHEN 1 THEN h1 // 65536
        |      WHEN 2 THEN h2 % 65536 ELSE h2 // 65536 END bkey
        |  FROM hh, (SELECT unnest(generate_series(0, 3)) b) b),
        |bands AS (SELECT * FROM (SELECT *,
        |    count(*) OVER (PARTITION BY band, bkey) bc FROM bands0)
        |  WHERE bc <= 64),
        |p AS (SELECT a.asset_id asset_a, b.asset_id asset_b,
        |    a.h1 a1, a.h2 a2, b.h1 b1, b.h2 b2,
        |    CAST(count(*) AS BIGINT) n_shared_bands
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        |    AND a.asset_id < b.asset_id
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |hm AS (SELECT n_shared_bands,
        |    bit_count(xor(a1, b1)) + bit_count(xor(a2, b2)) hamming
        |  FROM p)
        |SELECT n_shared_bands, CAST(count(*) AS BIGINT) n_candidates,
        |  CAST(sum(CASE WHEN hamming <= 6 THEN 1 ELSE 0 END) AS BIGINT)
        |    n_within_radius,
        |  CAST(min(hamming) AS INT) min_hamming,
        |  CAST(max(hamming) AS INT) max_hamming
        |FROM hm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q425_count_min" ->
      s"""WITH tk AS (SELECT unnest(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) tok
         |  FROM documents),
         |tc AS (SELECT tok, CAST(count(*) AS BIGINT) exact FROM tk
         |  WHERE length(tok) > 0 GROUP BY 1),
         |bk AS (SELECT tok, exact, d.d,
         |    md5('cm'||CAST(d.d AS VARCHAR)||':'||tok) h
         |  FROM tc, (SELECT unnest(generate_series(0, 3)) d) d),
         |bx AS (SELECT tok, exact, d,
         |    ${graft.ops.Sketches.hexValSql("h", 6)} % 256 b FROM bk),
         |cm AS (SELECT d, b, CAST(sum(exact) AS BIGINT) cell FROM bx
         |  GROUP BY 1, 2),
         |top AS (SELECT tok, exact FROM tc ORDER BY exact DESC, tok
         |  LIMIT 50),
         |est AS (SELECT bx.tok, CAST(min(cell) AS BIGINT) est
         |  FROM bx JOIN top ON bx.tok = top.tok
         |  JOIN cm ON bx.d = cm.d AND bx.b = cm.b
         |  GROUP BY 1),
         |rk AS (SELECT t.tok, t.exact, e.est,
         |    row_number() OVER (ORDER BY t.exact DESC, t.tok) rnk
         |  FROM top t JOIN est e ON t.tok = e.tok)
         |SELECT CAST(rnk AS INT) rnk, tok, exact, est,
         |  est >= exact AS no_undercount,
         |  round(CAST(est - exact AS DOUBLE)/CAST(exact AS DOUBLE)
         |    *1000000)/1000000.0 AS rel_overcount
         |FROM rk ORDER BY 1""".stripMargin,
    "q426_price_index" ->
      """WITH py AS (SELECT l_partkey part, year(l_shipdate) y,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) qd,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |      /CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) p
        |  FROM lineitem GROUP BY 1, 2),
        |base AS (SELECT part, p p0, qd q0 FROM py WHERE y = 1995),
        |j AS (SELECT py.y, py.p, py.qd, base.p0, base.q0
        |  FROM py JOIN base ON py.part = base.part),
        |ag AS (SELECT y, CAST(count(*) AS BIGINT) n_parts,
        |    CAST(sum(CAST(p*q0 AS DECIMAL(28,10))) AS DOUBLE) lnum,
        |    CAST(sum(CAST(p0*q0 AS DECIMAL(28,10))) AS DOUBLE) lden,
        |    CAST(sum(CAST(p*qd AS DECIMAL(28,10))) AS DOUBLE) pnum,
        |    CAST(sum(CAST(p0*qd AS DECIMAL(28,10))) AS DOUBLE) pden
        |  FROM j GROUP BY 1),
        |ix AS (SELECT *, lnum/lden laspeyres, pnum/pden paasche FROM ag)
        |SELECT y, n_parts,
        |  round(laspeyres*1000000)/1000000.0 AS laspeyres,
        |  round(paasche*1000000)/1000000.0 AS paasche,
        |  round(sqrt(laspeyres*paasche)*1000000)/1000000.0 AS fisher
        |FROM ix ORDER BY 1""".stripMargin,
    "q427_k_anonymity" ->
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal/1000.0) AS BIGINT) bal_band,
        |    CAST(count(*) AS BIGINT) k,
        |    CAST(count(DISTINCT c_acctbal < 0) AS BIGINT) l_div
        |  FROM customer GROUP BY 1, 2, 3),
        |km AS (SELECT min(k) k_min FROM cls),
        |b AS (SELECT CASE WHEN k = 1 THEN 1 WHEN k <= 4 THEN 2
        |    WHEN k <= 9 THEN 5 WHEN k <= 24 THEN 10 ELSE 25 END bucket,
        |    k, l_div FROM cls)
        |SELECT CAST(bucket AS BIGINT) bucket,
        |  CAST(count(*) AS BIGINT) n_classes,
        |  CAST(sum(k) AS BIGINT) n_rows,
        |  CAST(sum(CASE WHEN l_div < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    n_low_diversity,
        |  km.k_min
        |FROM b CROSS JOIN km GROUP BY 1, 5 ORDER BY 1""".stripMargin,
    "q428_keyness" ->
      """WITH tk AS (SELECT source = 'src0' f, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) tok
        |  FROM documents),
        |tc AS (SELECT tok,
        |    CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS BIGINT) a,
        |    CAST(sum(CASE WHEN NOT f THEN 1 ELSE 0 END) AS BIGINT) b
        |  FROM tk WHERE length(tok) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) n1,
        |    CAST(sum(b) AS BIGINT) n2 FROM tc),
        |sc AS (SELECT tok, a, b,
        |    CAST(n1 AS DOUBLE)*CAST(a + b AS DOUBLE)
        |      /CAST(n1 + n2 AS DOUBLE) e1,
        |    CAST(n2 AS DOUBLE)*CAST(a + b AS DOUBLE)
        |      /CAST(n1 + n2 AS DOUBLE) e2,
        |    CAST(a AS DOUBLE)*CAST(n2 AS DOUBLE)
        |      > CAST(b AS DOUBLE)*CAST(n1 AS DOUBLE) overused
        |  FROM tc CROSS JOIN tot WHERE a + b >= 5),
        |g AS (SELECT tok, a, b, overused,
        |    2.0*((CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
        |        *ln(CAST(a AS DOUBLE)/e1) ELSE 0.0 END)
        |      + (CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
        |        *ln(CAST(b AS DOUBLE)/e2) ELSE 0.0 END)) g2
        |  FROM sc),
        |rk AS (SELECT *, row_number() OVER (ORDER BY g2 DESC, tok) rnk
        |  FROM g)
        |SELECT CAST(rnk AS INT) rnk, tok, a, b,
        |  round(g2*10000)/10000.0 AS g2, overused
        |FROM rk WHERE rnk <= 20 ORDER BY 1""".stripMargin,
    "q429_simpsons_reversal" ->
      """WITH cells AS (SELECT n_name nation, p_brand,
        |    CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CAST(l_discount AS DECIMAL(28,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(l_discount*l_quantity AS DECIMAL(28,10)))
        |      AS DOUBLE) sxy,
        |    CAST(sum(CAST(l_discount*l_discount AS DECIMAL(28,10)))
        |      AS DOUBLE) sxx
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ag AS (SELECT nation, CAST(sum(n) AS BIGINT) n_items,
        |    CAST(count(*) AS BIGINT) n_brands,
        |    CAST(sum(CAST(sx AS DECIMAL(38,12))) AS DOUBLE) tx,
        |    CAST(sum(CAST(sy AS DECIMAL(38,12))) AS DOUBLE) ty,
        |    CAST(sum(CAST(sxy AS DECIMAL(38,10))) AS DOUBLE) txy,
        |    CAST(sum(CAST(sxx AS DECIMAL(38,10))) AS DOUBLE) txx,
        |    CAST(sum(CAST(sxy - sx*sy/n AS DECIMAL(38,10))) AS DOUBLE)
        |      wxy,
        |    CAST(sum(CAST(sxx - sx*sx/n AS DECIMAL(38,10))) AS DOUBLE)
        |      wxx
        |  FROM cells GROUP BY 1),
        |sl AS (SELECT *,
        |    CASE WHEN txx - tx*tx/n_items > 0
        |      THEN (txy - tx*ty/n_items)/(txx - tx*tx/n_items) END
        |      slope_pooled,
        |    CASE WHEN wxx > 0 THEN wxy/wxx END slope_within
        |  FROM ag)
        |SELECT nation, n_items, n_brands,
        |  round(slope_pooled*1000000)/1000000.0 AS slope_pooled,
        |  round(slope_within*1000000)/1000000.0 AS slope_within,
        |  slope_pooled*slope_within < 0 AS reversed
        |FROM sl ORDER BY 1""".stripMargin,
    "q430_pca_deflation" -> pcaDeflationOracle(6),
    "q431_scaling_law" ->
      s"""WITH t0 AS (SELECT md5('split:'||CAST(doc_id AS VARCHAR)) h,
         |    text FROM documents),
         |t1 AS (SELECT ${graft.ops.Sketches.hexValSql("h", 6)} u24, text
         |  FROM t0),
         |tk AS (SELECT u24, unnest(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) tok
         |  FROM t1),
         |tf AS (SELECT u24, tok FROM tk WHERE length(tok) > 0),
         |vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) v FROM tf),
         |fr AS (SELECT CAST(frac AS DOUBLE) frac, cut FROM (VALUES
         |    (0.1, 1677721), (0.2, 3355443), (0.4, 6710886),
         |    (0.8, 13421772)) t(frac, cut)),
         |tr AS (SELECT fr.frac, tok, CAST(count(*) AS BIGINT) ct
         |  FROM tf JOIN fr ON tf.u24 < fr.cut GROUP BY 1, 2),
         |ntr AS (SELECT frac, CAST(sum(ct) AS BIGINT) ntr FROM tr
         |  GROUP BY 1),
         |ev AS (SELECT tok, CAST(count(*) AS BIGINT) cnt FROM tf
         |  WHERE u24 >= 13421772 GROUP BY 1),
         |sc AS (SELECT f.frac, e.tok, e.cnt, coalesce(tr.ct, 0) ct
         |  FROM ev e CROSS JOIN (SELECT DISTINCT frac FROM fr) f
         |  LEFT JOIN tr ON tr.frac = f.frac AND tr.tok = e.tok),
         |pf AS (SELECT sc.frac, max(ntr.ntr) n_train_tokens,
         |    CAST(sum(CAST(CAST(cnt AS DOUBLE)
         |        *ln(CAST(ct + 1 AS DOUBLE)
         |          /CAST(ntr.ntr + vocab.v AS DOUBLE))
         |      AS DECIMAL(28,12))) AS DOUBLE)*-1.0
         |      /CAST(sum(cnt) AS DOUBLE) nll
         |  FROM sc JOIN ntr ON sc.frac = ntr.frac CROSS JOIN vocab
         |  GROUP BY 1),
         |pts AS (SELECT frac, n_train_tokens, nll,
         |    ln(CAST(n_train_tokens AS DOUBLE)) lx, ln(nll) ly FROM pf),
         |sl AS (SELECT
         |    (CAST(count(*) AS DOUBLE)
         |       *CAST(sum(CAST(lx*ly AS DECIMAL(28,12))) AS DOUBLE)
         |     - CAST(sum(CAST(lx AS DECIMAL(28,12))) AS DOUBLE)
         |       *CAST(sum(CAST(ly AS DECIMAL(28,12))) AS DOUBLE))
         |    /(CAST(count(*) AS DOUBLE)
         |       *CAST(sum(CAST(lx*lx AS DECIMAL(28,12))) AS DOUBLE)
         |     - CAST(sum(CAST(lx AS DECIMAL(28,12))) AS DOUBLE)
         |       *CAST(sum(CAST(lx AS DECIMAL(28,12))) AS DOUBLE)) slope
         |  FROM pts)
         |SELECT frac, n_train_tokens,
         |  round(nll*1e6)/1e6 AS eval_nll,
         |  round(slope*1e6)/1e6 AS loglog_slope
         |FROM pf CROSS JOIN sl ORDER BY 1""".stripMargin,
    "q432_knn_label_agreement" ->
      """WITH nn AS (SELECT count(*) n FROM embeddings),
        |geo AS (SELECT coalesce(min(b), 24) bits
        |  FROM (SELECT unnest(generate_series(8, 24)) b) bb, nn
        |  WHERE (CAST(8 AS BIGINT) << b) >= n),
        |pl AS (SELECT p.j, q.d,
        |    md5('srp:'||CAST(p.j AS VARCHAR)||':'||CAST(q.d AS VARCHAR)) h
        |  FROM (SELECT unnest(generate_series(0, 95)) j) p,
        |       (SELECT unnest(generate_series(0, 63)) d) q, geo
        |  WHERE p.j < 4*geo.bits),
        |w AS (SELECT j, d,
        |  CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
        |       (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
        |       (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
        |       (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
        |       (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
        |       (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)/16777216.0 - 0.5 w
        |  FROM pl),
        |e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
        |xx AS (SELECT vec_id, i - 1 d, CAST(embedding[i] AS DOUBLE) v FROM ix),
        |dots AS (SELECT x.vec_id, w.j, sum(CAST(x.v*w.w AS DECIMAL(18,16))) s
        |         FROM xx x JOIN w ON x.d = w.d GROUP BY 1,2),
        |sigs AS (SELECT vec_id, CAST(floor(j/bits) AS INT) band,
        |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % bits))
        |                         ELSE 0 END) AS BIGINT) sig
        |         FROM dots, geo GROUP BY 1,2),
        |sigc AS (SELECT vec_id, band, sig,
        |           count(*) OVER (PARTITION BY band, sig) bc FROM sigs),
        |capped AS (SELECT vec_id, band, sig FROM sigc WHERE bc <= 1024),
        |cand AS (SELECT a.vec_id vec_a, b.vec_id vec_b
        |         FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
        |           AND a.vec_id < b.vec_id
        |         GROUP BY 1,2 HAVING count(*) >= 1),
        |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |      FROM xx GROUP BY 1),
        |dp AS (SELECT c.vec_a, c.vec_b,
        |         CAST(sum(CAST(xa.v*xb.v AS DECIMAL(18,16))) AS DOUBLE) dot
        |       FROM cand c JOIN xx xa ON xa.vec_id = c.vec_a
        |       JOIN xx xb ON xb.vec_id = c.vec_b AND xa.d = xb.d
        |       GROUP BY 1,2),
        |prs AS (SELECT vec_a, vec_b, round(dot/(na.nrm*nb.nrm), 6) cosine
        |  FROM dp JOIN n na ON vec_a = na.vec_id
        |    JOIN n nb ON vec_b = nb.vec_id
        |  WHERE dot/(na.nrm*nb.nrm) >= 0.4),
        |sym AS (SELECT vec_a v, vec_b o, cosine FROM prs
        |  UNION ALL SELECT vec_b, vec_a, cosine FROM prs),
        |top AS (SELECT v, o FROM (SELECT *,
        |    row_number() OVER (PARTITION BY v ORDER BY cosine DESC, o) rn
        |  FROM sym) WHERE rn <= 5),
        |votes AS (SELECT t.v, e2.label nl, CAST(count(*) AS BIGINT) c
        |  FROM top t JOIN embeddings e2 ON t.o = e2.vec_id GROUP BY 1, 2),
        |pred AS (SELECT v, nl pred FROM (SELECT *,
        |    row_number() OVER (PARTITION BY v ORDER BY c DESC, nl) r
        |  FROM votes) WHERE r = 1)
        |SELECT e3.label, CAST(count(*) AS BIGINT) n,
        |  CAST(sum(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) n_scored,
        |  CAST(sum(CASE WHEN p.pred = e3.label THEN 1 ELSE 0 END)
        |    AS BIGINT) n_correct,
        |  round(CASE WHEN sum(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0
        |      END) > 0
        |    THEN CAST(sum(CASE WHEN p.pred = e3.label THEN 1 ELSE 0 END)
        |        AS DOUBLE)
        |      /CAST(sum(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) END*1000000)/1000000.0 AS acc
        |FROM embeddings e3 LEFT JOIN pred p ON e3.vec_id = p.v
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q433_pca_outliers" -> pcaOutliersOracle(6),
    "q434_bm25_sweep" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |tx AS (SELECT doc_id, unnest(w) tok FROM d),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) tf FROM tx GROUP BY 1,2),
        |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) dl FROM tf GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
        |dfreq AS (SELECT tok, CAST(count(*) AS BIGINT) df FROM tf GROUP BY 1),
        |probes AS (SELECT doc_id probe_id, tok FROM tf WHERE doc_id < 5),
        |cfg AS (SELECT CAST(k1 AS DOUBLE) k1, CAST(b AS DOUBLE) b
        |  FROM (VALUES (1.2, 0.75), (0.9, 0.4), (2.0, 0.75), (1.2, 0.0))
        |    t(k1, b)),
        |scored AS (SELECT cfg.k1, cfg.b, p.probe_id, t.doc_id,
        |    sum(CAST(
        |      ln((n_docs - CAST(df AS DOUBLE) + 0.5)
        |          /(CAST(df AS DOUBLE) + 0.5) + 1.0)
        |      * (CAST(t.tf AS DOUBLE)*(cfg.k1 + 1.0))
        |      / (CAST(t.tf AS DOUBLE)
        |         + cfg.k1*(1.0 - cfg.b + cfg.b*CAST(dl AS DOUBLE)/avgdl))
        |      AS DECIMAL(18,10))) s
        |  FROM tf t JOIN probes p USING (tok)
        |  JOIN dfreq USING (tok) JOIN dl ON t.doc_id = dl.doc_id
        |  CROSS JOIN stats CROSS JOIN cfg
        |  WHERE t.doc_id <> p.probe_id
        |  GROUP BY 1, 2, 3, 4),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY k1, b,
        |    probe_id ORDER BY s DESC, doc_id) rnk FROM scored),
        |top AS (SELECT * FROM ranked WHERE rnk <= 5),
        |base AS (SELECT probe_id, doc_id, rnk brnk FROM top
        |  WHERE k1 = 1.2 AND b = 0.75)
        |SELECT t.k1, t.b, CAST(count(*) AS BIGINT) n_results,
        |  CAST(sum(CASE WHEN b2.brnk IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) n_overlap,
        |  CAST(sum(CASE WHEN b2.brnk = t.rnk THEN 1 ELSE 0 END)
        |    AS BIGINT) n_exact_rank,
        |  round(CAST(sum(CASE WHEN b2.brnk IS NOT NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE)
        |    /CAST(count(*) AS DOUBLE)*1000000)/1000000.0 AS overlap_rate
        |FROM top t LEFT JOIN base b2 ON t.probe_id = b2.probe_id
        |  AND t.doc_id = b2.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q435_pearson_residuals" ->
      """WITH cells AS (SELECT n_name nation, o_orderpriority priority,
        |    CAST(count(*) AS BIGINT) o
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT nation, CAST(sum(o) AS BIGINT) rt FROM cells
        |  GROUP BY 1),
        |c AS (SELECT priority, CAST(sum(o) AS BIGINT) ct FROM cells
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) n FROM cells),
        |x AS (SELECT cells.nation, cells.priority, o,
        |    CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(n AS DOUBLE) e,
        |    rt, ct, n
        |  FROM cells JOIN r ON cells.nation = r.nation
        |  JOIN c ON cells.priority = c.priority CROSS JOIN t),
        |y AS (SELECT nation, priority, o, e,
        |    (CAST(o AS DOUBLE) - e)
        |      /sqrt(e*(1.0 - CAST(rt AS DOUBLE)/CAST(n AS DOUBLE))
        |        *(1.0 - CAST(ct AS DOUBLE)/CAST(n AS DOUBLE))) resid
        |  FROM x)
        |SELECT nation, priority, o, round(e*10000)/10000.0 AS e,
        |  round(resid*10000)/10000.0 AS std_resid,
        |  abs(resid) > 2.0 AS significant
        |FROM y ORDER BY 1, 2""".stripMargin,
    "q436_dedup_overlap" ->
      """WITH d AS (SELECT doc_id,
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g') t
        |  FROM documents),
        |dw AS (SELECT doc_id, string_split(t, ' ') w FROM d),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |  FROM dw WHERE len(w) >= 3),
        |shi AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh
        |  FROM ix),
        |salted AS (SELECT doc_id, s.g salt,
        |    md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |  FROM shi, (SELECT unnest(generate_series(0, 11)) g) s),
        |mhx AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |mbands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |    md5(string_agg(m, '|' ORDER BY salt)) sig
        |  FROM mhx GROUP BY 1, 2),
        |mbsz AS (SELECT doc_id, band, sig FROM (SELECT doc_id, band, sig,
        |    count(*) OVER (PARTITION BY band, sig) bc FROM mbands)
        |  WHERE bc <= 64),
        |mhp AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |  FROM mbsz a JOIN mbsz b ON a.band = b.band AND a.sig = b.sig
        |    AND a.doc_id < b.doc_id),
        |tok0 AS (SELECT doc_id, unnest(string_split(t, ' ')) w FROM d),
        |tok AS (SELECT doc_id, md5(w) hv FROM tok0),
        |bx AS (SELECT doc_id, hv, unnest(generate_series(0, 59)) j
        |  FROM tok),
        |v AS (SELECT doc_id, j,
        |    CAST(floor((instr('0123456789abcdef',
        |      substr(hv, CAST(j//4 AS INT) + 1, 1)) - 1)
        |      / power(2, j % 4)) AS BIGINT) % 2 AS bit
        |  FROM bx),
        |s AS (SELECT doc_id, j, sum(bit*2 - 1) sv FROM v GROUP BY 1,2),
        |sig2 AS (SELECT doc_id, CAST(sum(CASE WHEN sv > 0
        |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) simhash
        |  FROM s GROUP BY 1),
        |sbands AS (SELECT doc_id, simhash, bs.b,
        |    (simhash >> (bs.b*15)) & 32767 bv
        |  FROM sig2, (SELECT unnest(generate_series(0, 3)) b) bs),
        |scand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b,
        |    a.simhash sa, b.simhash sb
        |  FROM sbands a JOIN sbands b ON a.b = b.b AND a.bv = b.bv
        |    AND a.doc_id < b.doc_id),
        |shp AS (SELECT doc_a, doc_b FROM scand
        |  WHERE bit_count(xor(sa, sb)) <= 3),
        |ap AS (SELECT doc_a, doc_b FROM mhp
        |  UNION SELECT doc_a, doc_b FROM shp),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) n FROM shi
        |  GROUP BY 1),
        |inter AS (SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT)
        |    n_shared
        |  FROM ap p JOIN shi sa ON sa.doc_id = p.doc_a
        |    JOIN shi sb ON sb.doc_id = p.doc_b AND sb.sh = sa.sh
        |  GROUP BY 1, 2),
        |jac AS (SELECT ap.doc_a, ap.doc_b,
        |    coalesce(i.n_shared, 0) n_shared,
        |    coalesce(na.n, 0) + coalesce(nb.n, 0) - coalesce(i.n_shared, 0)
        |      den
        |  FROM ap LEFT JOIN inter i ON ap.doc_a = i.doc_a
        |    AND ap.doc_b = i.doc_b
        |  LEFT JOIN sizes na ON ap.doc_a = na.doc_id
        |  LEFT JOIN sizes nb ON ap.doc_b = nb.doc_id),
        |jj AS (SELECT doc_a, doc_b, CASE WHEN den > 0
        |    THEN CAST(n_shared AS DOUBLE)/CAST(den AS DOUBLE) END j
        |  FROM jac),
        |tagged AS (SELECT jj.doc_a, jj.doc_b, jj.j,
        |    CASE WHEN m.doc_a IS NOT NULL AND s2.doc_a IS NOT NULL
        |        THEN 'both'
        |      WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
        |      ELSE 'simhash_only' END detector
        |  FROM jj LEFT JOIN mhp m ON jj.doc_a = m.doc_a
        |    AND jj.doc_b = m.doc_b
        |  LEFT JOIN shp s2 ON jj.doc_a = s2.doc_a
        |    AND jj.doc_b = s2.doc_b)
        |SELECT detector, CAST(count(*) AS BIGINT) n_pairs,
        |  CAST(sum(CASE WHEN j IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    n_undefined,
        |  round(CASE WHEN sum(CASE WHEN j IS NOT NULL THEN 1 ELSE 0 END)
        |      > 0
        |    THEN CAST(sum(CAST(coalesce(j, 0.0) AS DECIMAL(28,12)))
        |        AS DOUBLE)
        |      /CAST(sum(CASE WHEN j IS NOT NULL THEN 1 ELSE 0 END)
        |        AS DOUBLE) END*1000000)/1000000.0 AS mean_jaccard,
        |  round(min(j)*10000)/10000.0 AS min_jaccard
        |FROM tagged GROUP BY 1 ORDER BY 1""".stripMargin,
    "q437_langid_prf" ->
      """WITH sc AS (SELECT lang,
        |    len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ',
        |      'g'), ' ')) n_tok,
        |    len(list_filter(string_split(regexp_replace(lower(trim(text)),
        |      '\s+', ' ', 'g'), ' '),
        |      t -> t IN ('the','a','of','and','to','in','is','it'))) n_stop
        |  FROM documents),
        |p AS (SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END gold,
        |    CASE WHEN n_stop*1000 >= n_tok*80 THEN 'en' ELSE 'other' END
        |      pred
        |  FROM sc),
        |conf AS (SELECT gold, pred, CAST(count(*) AS BIGINT) n FROM p
        |  GROUP BY 1, 2),
        |x AS (SELECT c.cls,
        |    CAST(sum(CASE WHEN gold = c.cls AND pred = c.cls THEN n
        |      ELSE 0 END) AS BIGINT) tp,
        |    CAST(sum(CASE WHEN gold <> c.cls AND pred = c.cls THEN n
        |      ELSE 0 END) AS BIGINT) fp,
        |    CAST(sum(CASE WHEN gold = c.cls AND pred <> c.cls THEN n
        |      ELSE 0 END) AS BIGINT) fn
        |  FROM conf CROSS JOIN (SELECT unnest(['en','other']) cls) c
        |  GROUP BY 1),
        |y AS (SELECT *, CASE WHEN tp + fp > 0
        |      THEN CAST(tp AS DOUBLE)/CAST(tp + fp AS DOUBLE) END p,
        |    CASE WHEN tp + fn > 0
        |      THEN CAST(tp AS DOUBLE)/CAST(tp + fn AS DOUBLE) END r
        |  FROM x)
        |SELECT cls, tp, fp, fn,
        |  round(p*1000000)/1000000.0 AS "precision",
        |  round(r*1000000)/1000000.0 AS recall,
        |  round(CASE WHEN p + r > 0 THEN 2.0*p*r/(p + r) END*1000000)
        |    /1000000.0 AS f1
        |FROM y ORDER BY 1""".stripMargin,
    "q438_minhash_k_sweep" ->
      """WITH d AS (SELECT doc_id, string_split(
        |   regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) g
        |       FROM d WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, w[g]||' '||w[g+1]||' '||w[g+2] sh FROM ix),
        |salted AS (SELECT doc_id, s.g salt, md5(CAST(s.g AS VARCHAR)||':'||sh) hv
        |           FROM sh, (SELECT unnest(generate_series(0, 11)) g) s),
        |mh AS (SELECT doc_id, salt, min(hv) m FROM salted GROUP BY 1,2),
        |bands AS (SELECT doc_id, CAST(floor(salt/4) AS INT) band,
        |                 md5(string_agg(m, '|' ORDER BY salt)) sig
        |          FROM mh GROUP BY 1,2),
        |bsz AS (SELECT doc_id, band, sig FROM (
        |          SELECT doc_id, band, sig,
        |            count(*) OVER (PARTITION BY band, sig) bc
        |          FROM bands) WHERE bc <= 64),
        |pairs AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
        |          FROM bsz a JOIN bsz b ON a.band = b.band AND a.sig = b.sig
        |            AND a.doc_id < b.doc_id),
        |est AS (SELECT p.doc_a, p.doc_b,
        |          CAST(sum(CASE WHEN a.m = b.m AND a.salt < 4 THEN 1
        |            ELSE 0 END) AS DOUBLE)/4.0 est4,
        |          CAST(sum(CASE WHEN a.m = b.m AND a.salt < 8 THEN 1
        |            ELSE 0 END) AS DOUBLE)/8.0 est8,
        |          CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
        |            AS DOUBLE)/12.0 est12
        |        FROM pairs p JOIN mh a ON a.doc_id = p.doc_a
        |                     JOIN mh b ON b.doc_id = p.doc_b
        |                       AND b.salt = a.salt
        |        GROUP BY 1,2),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (SELECT p.doc_a, p.doc_b, count(*) n_shared
        |          FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a
        |                       JOIN sh sb ON sb.doc_id = p.doc_b
        |                         AND sb.sh = sa.sh
        |          GROUP BY 1,2),
        |j AS (SELECT e.doc_a, e.doc_b, est4, est8, est12,
        |        CAST(n_shared AS DOUBLE)/(na.n + nb.n - n_shared) exact
        |      FROM est e JOIN inter i ON e.doc_a = i.doc_a
        |        AND e.doc_b = i.doc_b
        |      JOIN sizes na ON e.doc_a = na.doc_id
        |      JOIN sizes nb ON e.doc_b = nb.doc_id),
        |un AS (SELECT 4 k, est4 est, exact FROM j
        |  UNION ALL SELECT 8, est8, exact FROM j
        |  UNION ALL SELECT 12, est12, exact FROM j)
        |SELECT k, CAST(count(*) AS BIGINT) n_pairs,
        |  round(CAST(sum(CAST(abs(est - exact) AS DECIMAL(28,12)))
        |      AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 AS mean_abs_err,
        |  round(max(abs(est - exact))*10000)/10000.0 AS max_abs_err
        |FROM un GROUP BY 1 ORDER BY 1""".stripMargin,
    "q439_rec_coverage" ->
      """WITH oi AS (SELECT o_custkey cust, o_orderkey okey,
        |    o_orderdate odate FROM orders),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY cust
        |    ORDER BY odate DESC, okey DESC) ornk FROM oi),
        |li AS (SELECT DISTINCT l_orderkey okey, l_partkey part
        |  FROM lineitem),
        |hist AS (SELECT DISTINCT cust, part FROM rk JOIN li USING (okey)
        |  WHERE ornk >= 2),
        |baskets AS (SELECT DISTINCT okey, part FROM rk
        |  JOIN li USING (okey) WHERE ornk >= 2),
        |ci AS (SELECT part, CAST(count(*) AS BIGINT) c FROM baskets
        |  GROUP BY 1),
        |prs AS (SELECT x.part i, y.part j, CAST(count(*) AS BIGINT) cij
        |  FROM baskets x JOIN baskets y ON x.okey = y.okey
        |    AND x.part < y.part
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT i, j, cij FROM prs
        |  UNION ALL SELECT j, i, cij FROM prs),
        |sim AS (SELECT s.i, s.j,
        |    CAST(s.cij AS DOUBLE)/sqrt(CAST(a.c*b.c AS DOUBLE)) cos
        |  FROM sym s JOIN ci a ON s.i = a.part JOIN ci b ON s.j = b.part),
        |nbrs AS (SELECT i, j, cos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY i
        |      ORDER BY cos DESC, j) nr FROM sim) WHERE nr <= 20),
        |cand AS (SELECT h.cust, n.j,
        |    sum(CAST(n.cos AS DECIMAL(18,10))) score
        |  FROM hist h JOIN nbrs n ON h.part = n.i
        |  WHERE NOT EXISTS (SELECT 1 FROM hist h2
        |    WHERE h2.cust = h.cust AND h2.part = n.j)
        |  GROUP BY 1, 2),
        |rec AS (SELECT cust, j, rr FROM (
        |    SELECT *, row_number() OVER (PARTITION BY cust
        |      ORDER BY score DESC, j) rr FROM cand) WHERE rr <= 10),
        |cat AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT)
        |    n_catalog FROM lineitem),
        |expo AS (SELECT j, CAST(count(*) AS BIGINT) c FROM rec
        |  GROUP BY 1),
        |rnk AS (SELECT c, CAST(row_number() OVER (ORDER BY c, j)
        |    AS INT) i FROM expo),
        |g AS (SELECT CAST(count(*) AS BIGINT) n_items,
        |    CAST(sum(c) AS BIGINT) tot, CAST(sum(c*i) AS BIGINT) s1
        |  FROM rnk),
        |uu AS (SELECT CAST(count(DISTINCT cust) AS BIGINT)
        |    n_users_with_recs FROM rec)
        |SELECT n_users_with_recs, n_items AS n_items_recommended,
        |  n_catalog,
        |  round(CAST(n_items AS DOUBLE)/CAST(n_catalog AS DOUBLE)
        |    *1000000)/1000000.0 AS coverage,
        |  round((2.0*CAST(s1 AS DOUBLE)/(n_items*CAST(tot AS DOUBLE))
        |    - CAST(n_items + 1 AS DOUBLE)/n_items)*1000000)/1000000.0
        |    AS exposure_gini
        |FROM g CROSS JOIN cat CROSS JOIN uu""".stripMargin,
    "q440_graph_ann" -> graphAnnOracle(3),
    "q441_beam_sweep" -> graphAnnSweepOracle(3, Seq(4, 8, 16)),
    "q442_conformal_interval" ->
      """WITH li AS (SELECT l_returnflag flag, l_orderkey % 3 fold,
        |    CAST(l_quantity AS DOUBLE) x, CAST(l_extendedprice AS DOUBLE) y
        |  FROM lineitem),
        |fit0 AS (SELECT flag, CAST(count(*) AS BIGINT) n_train,
        |    CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,6))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(38,6))) AS DOUBLE) sxy
        |  FROM li WHERE fold = 0 GROUP BY 1),
        |fit AS (SELECT flag, n_train,
        |    round((CAST(n_train AS DOUBLE)*sxy - sx*sy)
        |      /(CAST(n_train AS DOUBLE)*sxx - sx*sx)*1000000000)
        |      /1000000000 slope,
        |    round((sy*sxx - sx*sxy)
        |      /(CAST(n_train AS DOUBLE)*sxx - sx*sx)*1000000000)
        |      /1000000000 intercept
        |  FROM fit0 WHERE CAST(n_train AS DOUBLE)*sxx - sx*sx <> 0),
        |cal AS (SELECT li.flag,
        |    round(abs(y - (intercept + slope*x))*1000000)/1000000 ar
        |  FROM li JOIN fit ON li.flag = fit.flag WHERE fold = 1),
        |cc AS (SELECT flag, ar, CAST(count(*) AS BIGINT) c
        |  FROM cal GROUP BY 1, 2),
        |cw AS (SELECT flag, ar, c,
        |    sum(c) OVER (PARTITION BY flag ORDER BY ar
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum,
        |    CAST(sum(c) OVER (PARTITION BY flag) AS BIGINT) n_calib
        |  FROM cc),
        |qh AS (SELECT flag, n_calib, ar qhat FROM cw
        |  WHERE cum >= least(CAST(ceil((n_calib + 1)*0.9) AS BIGINT), n_calib)
        |    AND cum - c < least(CAST(ceil((n_calib + 1)*0.9) AS BIGINT),
        |      n_calib)),
        |ev AS (SELECT li.flag, fit.n_train, qh.n_calib, fit.slope,
        |    fit.intercept, qh.qhat,
        |    round(abs(y - (intercept + slope*x))*1000000)/1000000 ar
        |  FROM li JOIN fit ON li.flag = fit.flag JOIN qh ON li.flag = qh.flag
        |  WHERE fold = 2)
        |SELECT flag, n_train, n_calib, CAST(count(*) AS BIGINT) n_eval,
        |  slope, intercept, qhat,
        |  round(CAST(sum(CASE WHEN ar <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    /count(*)*1000000)/1000000.0 coverage
        |FROM ev GROUP BY 1, 2, 3, 5, 6, 7 ORDER BY flag""".stripMargin,
    "q443_cuped" ->
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e))*0.75) AS BIGINT)
        |    split_e FROM ev),
        |um AS (SELECT event_type, user_id,
        |    sum(CASE WHEN e < split_e THEN CAST(value AS DECIMAL(18,6))
        |      END) sx,
        |    CAST(sum(CASE WHEN e < split_e AND value IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) nx,
        |    sum(CASE WHEN e >= split_e THEN CAST(value AS DECIMAL(18,6))
        |      END) sy,
        |    CAST(sum(CASE WHEN e >= split_e AND value IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) ny
        |  FROM ev CROSS JOIN sp GROUP BY 1, 2),
        |xy AS (SELECT event_type,
        |    round(CAST(sx AS DOUBLE)/nx*1000000)/1000000 x,
        |    round(CAST(sy AS DOUBLE)/ny*1000000)/1000000 y
        |  FROM um WHERE nx > 0 AND ny > 0),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) n_users,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(28,12))) AS DOUBLE) syy
        |  FROM xy GROUP BY 1),
        |v AS (SELECT event_type, n_users,
        |    (sxx - sx*sx/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) varx,
        |    (syy - sy*sy/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) vary,
        |    (sxy - sx*sy/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) covxy
        |  FROM m WHERE n_users >= 2)
        |SELECT event_type, n_users,
        |  round(covxy/varx*1000000)/1000000.0 theta,
        |  round(vary*1000000)/1000000.0 var_y,
        |  round((vary - covxy*covxy/varx)*1000000)/1000000.0 var_cuped,
        |  round(covxy*covxy/varx/vary*1000000)/1000000.0 var_reduction
        |FROM v WHERE varx > 0 AND vary > 0 ORDER BY event_type""".stripMargin,
    "q444_binary_embed_recall" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
        |    embedding FROM e),
        |xx AS MATERIALIZED (SELECT vec_id, i - 1 d,
        |    CAST(embedding[i] AS DOUBLE) v FROM ix),
        |n AS MATERIALIZED (SELECT vec_id,
        |    sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
        |  FROM xx GROUP BY 1),
        |sig AS MATERIALIZED (SELECT xx.vec_id,
        |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << d)
        |      ELSE 0 END) AS BIGINT) sig
        |  FROM xx JOIN n ON xx.vec_id = n.vec_id
        |  WHERE d < 63 AND n.nrm > 0 GROUP BY 1),
        |pc AS (SELECT a.vec_id probe_id, b.vec_id neighbor_id,
        |    CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE)
        |      /(na.nrm*nb.nrm) cos
        |  FROM xx a JOIN xx b ON a.d = b.d
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = b.vec_id
        |  WHERE a.vec_id < 10 AND a.vec_id <> b.vec_id
        |    AND na.nrm > 0 AND nb.nrm > 0
        |  GROUP BY 1, 2, na.nrm, nb.nrm),
        |truth AS (SELECT probe_id, neighbor_id FROM (SELECT probe_id,
        |    neighbor_id, row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cos DESC, neighbor_id) rnk FROM pc) WHERE rnk <= 5),
        |ap AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
        |    bit_count(xor(c.sig, p.sig)) hd
        |  FROM sig p JOIN sig c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10),
        |approx AS (SELECT probe_id, neighbor_id FROM (SELECT probe_id,
        |    neighbor_id, row_number() OVER (PARTITION BY probe_id
        |      ORDER BY hd, neighbor_id) rnk FROM ap) WHERE rnk <= 5),
        |hits AS (SELECT t.probe_id, CAST(count(*) AS BIGINT) n_hits
        |  FROM truth t JOIN approx a
        |    ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id
        |  GROUP BY 1)
        |SELECT t.probe_id, coalesce(h.n_hits, 0) n_hits,
        |  CAST(count(*) AS BIGINT) n_true,
        |  round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)/count(*)*10000)
        |    /10000 recall
        |FROM truth t LEFT JOIN hits h ON t.probe_id = h.probe_id
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "q445_stratified_ate" ->
      """WITH li AS (SELECT p_brand brand, l_discount > 0.05 treated,
        |    CAST(l_quantity AS DECIMAL(18,6)) y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |arms AS (SELECT brand, treated, CAST(count(*) AS BIGINT) n,
        |    sum(y) sy FROM li GROUP BY 1, 2),
        |piv AS (SELECT brand,
        |    max(CASE WHEN treated THEN n END) n_t,
        |    max(CASE WHEN treated THEN sy END) sy_t,
        |    max(CASE WHEN NOT treated THEN n END) n_c,
        |    max(CASE WHEN NOT treated THEN sy END) sy_c
        |  FROM arms GROUP BY 1),
        |d AS (SELECT brand, n_t, n_c,
        |    round(CAST(sy_t AS DOUBLE)/n_t*1000000)/1000000 mean_t,
        |    round(CAST(sy_c AS DOUBLE)/n_c*1000000)/1000000 mean_c
        |  FROM piv WHERE n_t IS NOT NULL AND n_c IS NOT NULL),
        |dd AS (SELECT brand, n_t, n_c, mean_t, mean_c,
        |    round((mean_t - mean_c)*1000000)/1000000 diff FROM d)
        |SELECT brand, n_t, n_c, mean_t, mean_c, diff FROM dd
        |UNION ALL
        |SELECT 'ALL_STRATIFIED', CAST(sum(n_t) AS BIGINT),
        |  CAST(sum(n_c) AS BIGINT),
        |  round(CAST(sum(CAST(mean_t*CAST(n_t + n_c AS DOUBLE)
        |    AS DECIMAL(28,8))) AS DOUBLE)
        |    /CAST(sum(n_t + n_c) AS DOUBLE)*1000000)/1000000,
        |  round(CAST(sum(CAST(mean_c*CAST(n_t + n_c AS DOUBLE)
        |    AS DECIMAL(28,8))) AS DOUBLE)
        |    /CAST(sum(n_t + n_c) AS DOUBLE)*1000000)/1000000,
        |  round(CAST(sum(CAST(diff*CAST(n_t + n_c AS DOUBLE)
        |    AS DECIMAL(28,8))) AS DOUBLE)
        |    /CAST(sum(n_t + n_c) AS DOUBLE)*1000000)/1000000
        |FROM dd ORDER BY brand""".stripMargin,
    "q446_band_join" ->
      // band width interpolated from Ranges.BandJoinBandS — ONE constant
      // shared by the operator default and the oracle
      s"""WITH ev AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) e
        |  FROM events),
        |rf AS (SELECT min(event_type) ref_type FROM ev),
        |a AS (SELECT e ea FROM ev CROSS JOIN rf WHERE event_type = ref_type),
        |b AS (SELECT event_type, e eb FROM ev CROSS JOIN rf
        |  WHERE event_type <> ref_type)
        |SELECT b.event_type, CAST(count(*) AS BIGINT) n_pairs,
        |  CAST(count(DISTINCT ea) AS BIGINT) n_ref_matched,
        |  round(CAST(sum(CAST(abs(eb - ea) AS DECIMAL(28,6))) AS DOUBLE)
        |    /count(*)*10000)/10000 mean_abs_dt
        |FROM a JOIN b ON abs(eb - ea) <= ${graft.ops.Ranges.BandJoinBandS}
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q447_woe_iv" ->
      """WITH li AS (SELECT p_brand brand, l_returnflag = 'R' bad
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |arms AS (SELECT brand, CAST(count(*) AS BIGINT) n,
        |    CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) n_bad
        |  FROM li GROUP BY 1),
        |a2 AS (SELECT brand, n, n_bad, n - n_bad n_good FROM arms),
        |tot AS (SELECT CAST(sum(n_good) AS BIGINT) gt,
        |    CAST(sum(n_bad) AS BIGINT) bt,
        |    CAST(count(*) AS BIGINT) nb FROM a2),
        |sc AS (SELECT brand, n, n_bad,
        |    (CAST(n_good AS DOUBLE) + 0.5)/(CAST(gt AS DOUBLE) + 0.5*nb)
        |      gshare,
        |    (CAST(n_bad AS DOUBLE) + 0.5)/(CAST(bt AS DOUBLE) + 0.5*nb)
        |      bshare
        |  FROM a2 CROSS JOIN tot),
        |w AS (SELECT brand, n, n_bad, ln(gshare/bshare) woe,
        |    (gshare - bshare)*ln(gshare/bshare) iv_term FROM sc),
        |iv AS (SELECT round(CAST(sum(CAST(iv_term AS DECIMAL(28,12)))
        |    AS DOUBLE)*1000000)/1000000.0 iv_total FROM w)
        |SELECT brand, n, n_bad,
        |  round(woe*1000000)/1000000.0 + 0.0 woe,
        |  round(iv_term*100000000)/100000000.0 + 0.0 iv_term,
        |  iv_total
        |FROM w CROSS JOIN iv ORDER BY brand""".stripMargin,
    "q448_sequential_boundary" ->
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, value
        |  FROM events WHERE value IS NOT NULL),
        |sp AS (SELECT event_type, min(e) e0, max(e) - min(e) + 1 w
        |  FROM ev GROUP BY 1),
        |lk AS (SELECT ev.event_type, (e - e0) * 5 // w + 1 look,
        |    user_id % 2 = 0 t, value
        |  FROM ev JOIN sp ON ev.event_type = sp.event_type),
        |cell AS (SELECT event_type, look,
        |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) dn_t,
        |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) dn_c,
        |    sum(CASE WHEN t THEN CAST(value AS DECIMAL(18,6)) END) ds_t,
        |    sum(CASE WHEN NOT t THEN CAST(value AS DECIMAL(18,6)) END) ds_c,
        |    sum(CASE WHEN t THEN CAST(value*value AS DECIMAL(28,6)) END) dq_t,
        |    sum(CASE WHEN NOT t THEN CAST(value*value AS DECIMAL(28,6)) END)
        |      dq_c
        |  FROM lk GROUP BY 1, 2),
        |grid AS (SELECT event_type, CAST(g AS BIGINT) look
        |  FROM sp, generate_series(1, 5) t(g)),
        |cum AS (SELECT g.event_type, g.look,
        |    CAST(sum(coalesce(dn_t, 0)) OVER wn AS BIGINT) n_t,
        |    CAST(sum(coalesce(dn_c, 0)) OVER wn AS BIGINT) n_c,
        |    sum(coalesce(ds_t, CAST(0 AS DECIMAL(18,6)))) OVER wn s_t,
        |    sum(coalesce(ds_c, CAST(0 AS DECIMAL(18,6)))) OVER wn s_c,
        |    sum(coalesce(dq_t, CAST(0 AS DECIMAL(28,6)))) OVER wn q_t,
        |    sum(coalesce(dq_c, CAST(0 AS DECIMAL(28,6)))) OVER wn q_c
        |  FROM grid g LEFT JOIN cell c
        |    ON g.event_type = c.event_type AND g.look = c.look
        |  WINDOW wn AS (PARTITION BY g.event_type ORDER BY g.look
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |m AS (SELECT event_type, look, n_t, n_c,
        |    CASE WHEN n_t > 0 THEN CAST(s_t AS DOUBLE)/n_t END m_t,
        |    CASE WHEN n_c > 0 THEN CAST(s_c AS DOUBLE)/n_c END m_c,
        |    q_t, q_c FROM cum),
        |v AS (SELECT event_type, look, n_t, n_c, m_t, m_c,
        |    CASE WHEN n_t > 1
        |      THEN (CAST(q_t AS DOUBLE) - n_t*m_t*m_t)/(n_t - 1) END v_t,
        |    CASE WHEN n_c > 1
        |      THEN (CAST(q_c AS DOUBLE) - n_c*m_c*m_c)/(n_c - 1) END v_c
        |  FROM m),
        |zt AS (SELECT event_type, look, n_t, n_c, m_t, m_c,
        |    CASE WHEN den > 0
        |      THEN round((m_t - m_c)/den*1000000)/1000000.0 END z
        |  FROM (SELECT *, CASE WHEN n_t > 1 AND n_c > 1
        |      AND (v_t > 0 OR v_c > 0)
        |      THEN sqrt(v_t/n_t + v_c/n_c) END den FROM v)),
        |b AS (SELECT *,
        |    round(2.04*sqrt(5.0/look)*1000000)/1000000.0 boundary,
        |    coalesce(abs(z) > round(2.04*sqrt(5.0/look)*1000000)/1000000.0,
        |      false) crossed
        |  FROM zt)
        |SELECT event_type, look, n_t, n_c,
        |  round(m_t*1000000)/1000000.0 mean_t,
        |  round(m_c*1000000)/1000000.0 mean_c,
        |  z, boundary, crossed,
        |  min(CASE WHEN crossed THEN look END)
        |    OVER (PARTITION BY event_type) first_cross
        |FROM b ORDER BY event_type, look""".stripMargin,
    "q449_power_mde" ->
      """WITH ev AS (SELECT event_type, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) e, value FROM events),
        |sp AS (SELECT CAST(floor(min(e) + (max(e) - min(e))*0.75) AS BIGINT)
        |    split_e FROM ev),
        |um AS (SELECT event_type, user_id,
        |    sum(CASE WHEN e < split_e THEN CAST(value AS DECIMAL(18,6))
        |      END) sx,
        |    CAST(sum(CASE WHEN e < split_e AND value IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) nx,
        |    sum(CASE WHEN e >= split_e THEN CAST(value AS DECIMAL(18,6))
        |      END) sy,
        |    CAST(sum(CASE WHEN e >= split_e AND value IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) ny
        |  FROM ev CROSS JOIN sp GROUP BY 1, 2),
        |xy AS (SELECT event_type,
        |    round(CAST(sx AS DOUBLE)/nx*1000000)/1000000 x,
        |    round(CAST(sy AS DOUBLE)/ny*1000000)/1000000 y
        |  FROM um WHERE nx > 0 AND ny > 0),
        |mm AS (SELECT event_type, CAST(count(*) AS BIGINT) n_users,
        |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) sx,
        |    CAST(sum(CAST(y AS DECIMAL(28,12))) AS DOUBLE) sy,
        |    CAST(sum(CAST(x*x AS DECIMAL(28,12))) AS DOUBLE) sxx,
        |    CAST(sum(CAST(x*y AS DECIMAL(28,12))) AS DOUBLE) sxy,
        |    CAST(sum(CAST(y*y AS DECIMAL(28,12))) AS DOUBLE) syy
        |  FROM xy GROUP BY 1),
        |v AS (SELECT event_type, n_users,
        |    (sxx - sx*sx/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) varx,
        |    (syy - sy*sy/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) vary,
        |    (sxy - sx*sy/CAST(n_users AS DOUBLE))
        |      /(CAST(n_users AS DOUBLE) - 1) covxy
        |  FROM mm WHERE n_users >= 2),
        |base AS (SELECT event_type, n_users,
        |    round(vary*1000000)/1000000.0 var_y,
        |    round((vary - covxy*covxy/varx)*1000000)/1000000.0 var_cuped
        |  FROM v WHERE varx > 0 AND vary > 0),
        |arm AS (SELECT *, CAST(n_users AS DOUBLE)/2.0 n_arm FROM base)
        |SELECT event_type, n_users, var_y, var_cuped,
        |  round((1.959964 + 0.841621)*sqrt(2.0*var_y/n_arm)*1000000)
        |    /1000000.0 mde_raw,
        |  round((1.959964 + 0.841621)*sqrt(2.0*var_cuped/n_arm)*1000000)
        |    /1000000.0 mde_cuped,
        |  round(var_cuped/var_y*1000000)/1000000.0 n_ratio,
        |  round(sqrt(var_cuped/var_y)*1000000)/1000000.0 mde_shrink
        |FROM arm ORDER BY event_type""".stripMargin
  )

  /** Unrolled power-iteration PCA oracle (q200): one (row-dot,
    * dimension-weighted-sum, max-normalize) CTE triple per round, every
    * multi-reference CTE MATERIALIZED so DuckDB doesn't inline the chain
    * exponentially (the §3 rule learned on q165). Mean-centering and both
    * per-round aggregates use the same per-term decimal snaps as the
    * Spark plan, so every round's v state is bit-identical across
    * engines.
    */
  /** The q200 power-iteration CTE prefix (centered dims `xx`, loading
    * `v$iters`) — shared by the PCA oracle and the q397 ABTT oracle.
    */
  private def pcaRoundsSql(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT vec_id,
         |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) d
         |  FROM xx JOIN v${k - 1} ON xx.i = v${k - 1}.i GROUP BY 1),
         |w$k AS MATERIALIZED (SELECT i,
         |    CAST(sum(CAST(x*d AS DECIMAL(28,12))) AS DOUBLE) w
         |  FROM xx JOIN d$k ON xx.vec_id = d$k.vec_id GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) m FROM w$k),
         |v$k AS MATERIALIZED (SELECT i, round(w/m*1e12)/1e12 vi
         |  FROM w$k, m$k)""".stripMargin
    }.mkString(",\n")
    s"""xx0 AS MATERIALIZED (SELECT vec_id, i,
       |    CAST(embedding[i] AS DOUBLE) x
       |  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
       |          embedding FROM embeddings)),
       |mu AS MATERIALIZED (SELECT i,
       |    round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
       |      /count(*)*1e12)/1e12 mu
       |  FROM xx0 GROUP BY 1),
       |xx AS MATERIALIZED (SELECT vec_id, xx0.i, x - mu x
       |  FROM xx0 JOIN mu ON xx0.i = mu.i),
       |v0 AS (SELECT i, CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
       |         ELSE CAST(0.0 AS DOUBLE) END vi FROM mu),
       |$rounds""".stripMargin
  }

  private def pcaOracle(iters: Int): String =
    s"""WITH ${pcaRoundsSql(iters)}
       |SELECT CAST(i AS INT) dim, vi AS loading
       |FROM v$iters ORDER BY 1""".stripMargin

  /** The q430/q433 shared WITH-body: the q200 rounds, the q397 deflation,
    * and a second unrolled power loop on the residual.
    */
  private def pcaTwoSql(iters: Int): String = {
    val rounds2 = (1 to iters).map { k =>
      s"""d2$k AS MATERIALIZED (SELECT vec_id,
         |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) d
         |  FROM xp JOIN v2${k - 1} ON xp.i = v2${k - 1}.i GROUP BY 1),
         |w2$k AS MATERIALIZED (SELECT i,
         |    CAST(sum(CAST(x*d AS DECIMAL(28,12))) AS DOUBLE) w
         |  FROM xp JOIN d2$k ON xp.vec_id = d2$k.vec_id GROUP BY 1),
         |m2$k AS (SELECT max(abs(w)) m FROM w2$k),
         |v2$k AS MATERIALIZED (SELECT i,
         |    CASE WHEN m > 0 THEN round(w/m*1e12)/1e12
         |      ELSE 0.0 END vi
         |  FROM w2$k, m2$k)""".stripMargin
    }.mkString(",\n")
    s"""${pcaRoundsSql(iters)},
       |uu AS (SELECT CAST(sum(CAST(vi*vi AS DECIMAL(28,16))) AS DOUBLE) uu
       |  FROM v$iters),
       |av AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) a
       |  FROM xx JOIN v$iters ON xx.i = v$iters.i GROUP BY 1),
       |xp AS MATERIALIZED (SELECT xx.vec_id, xx.i,
       |    xx.x - av.a/uu.uu*vv.vi x
       |  FROM xx JOIN av ON xx.vec_id = av.vec_id
       |    CROSS JOIN uu JOIN v$iters vv ON xx.i = vv.i),
       |v20 AS (SELECT i, CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END vi FROM mu),
       |$rounds2""".stripMargin
  }

  /** q430 oracle: the shared two-PC rounds plus the explained-energy
    * split — replaying [[graft.ops.Similarity.pcaDeflation]].
    */
  private def pcaDeflationOracle(iters: Int): String = {
    s"""WITH ${pcaTwoSql(iters)},
       |et AS (SELECT CAST(sum(CAST(round(x*x*1e10)/1e10
       |    AS DECIMAL(38,10))) AS DOUBLE) t FROM xx),
       |er AS (SELECT CAST(sum(CAST(round(x*x*1e10)/1e10
       |    AS DECIMAL(38,10))) AS DOUBLE) r FROM xp),
       |uu2 AS (SELECT CAST(sum(CAST(vi*vi AS DECIMAL(28,16))) AS DOUBLE)
       |    uu2 FROM v2$iters),
       |a2 AS (SELECT vec_id,
       |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) a
       |  FROM xp JOIN v2$iters ON xp.i = v2$iters.i GROUP BY 1),
       |e2 AS (SELECT CAST(sum(CAST(CASE WHEN uu2 > 0 THEN a*a/uu2
       |    ELSE 0.0 END AS DECIMAL(38,10)))
       |    AS DOUBLE) e2 FROM a2 CROSS JOIN uu2)
       |SELECT CAST(a.i AS INT) dim, a.vi AS loading1, b.vi AS loading2,
       |  round((t - r)/t*1e6)/1e6 AS ev1_share,
       |  round(e2/t*1e6)/1e6 AS ev2_share
       |FROM v$iters a JOIN v2$iters b ON a.i = b.i
       |CROSS JOIN et CROSS JOIN er CROSS JOIN e2
       |ORDER BY 1""".stripMargin
  }

  /** q433 oracle: the shared two-PC rounds plus standardized projection
    * scores — replaying [[graft.ops.Similarity.pcaOutliers]].
    */
  private def pcaOutliersOracle(iters: Int, topK: Int = 10): String =
    s"""WITH ${pcaTwoSql(iters)},
       |a2 AS (SELECT vec_id,
       |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) a2
       |  FROM xp JOIN v2$iters ON xp.i = v2$iters.i GROUP BY 1),
       |s1 AS (SELECT CAST(sum(CAST(a*a AS DECIMAL(38,10))) AS DOUBLE)
       |    /count(*) s1sq FROM av),
       |s2 AS (SELECT CAST(sum(CAST(a2*a2 AS DECIMAL(38,10))) AS DOUBLE)
       |    /count(*) s2sq FROM a2),
       |sc AS (SELECT av.vec_id,
       |    (CASE WHEN s1sq > 0 THEN a*a/s1sq ELSE 0.0 END)
       |    + (CASE WHEN s2sq > 0 THEN a2.a2*a2.a2/s2sq ELSE 0.0 END)
       |      score
       |  FROM av JOIN a2 ON av.vec_id = a2.vec_id
       |  CROSS JOIN s1 CROSS JOIN s2),
       |rk AS (SELECT sc.vec_id, e.label, score,
       |    row_number() OVER (ORDER BY score DESC, sc.vec_id) rnk
       |  FROM sc JOIN embeddings e ON sc.vec_id = e.vec_id)
       |SELECT CAST(rnk AS INT) rnk, vec_id, label,
       |  round(score*10000)/10000.0 AS score
       |FROM rk WHERE rnk <= $topK ORDER BY 1""".stripMargin

  /** q397 oracle: the q200 rounds, the scale-invariant projection removal,
    * per-dim energy tables with snapped sums, the PR/top-share arithmetic,
    * and the before/after top-k overlap — replaying
    * [[graft.ops.Similarity.abtt]].
    */
  private def abttOracle(iters: Int, nProbes: Int = 10,
                         topK: Int = 5): String = {
    def prBlock(src: String, sfx: String): String =
      s"""e$sfx AS (SELECT i, CAST(sum(CAST(round(x*x*1e10)/1e10
         |    AS DECIMAL(38,10))) AS DOUBLE) e
         |  FROM $src GROUP BY 1),
         |pr$sfx AS (SELECT
         |    round(s1*s1/s2*1e6)/1e6 pr_$sfx,
         |    round(mx/s1*1e6)/1e6 top_share_$sfx
         |  FROM (SELECT
         |      CAST(sum(CAST(round(e*1e6)/1e6 AS DECIMAL(38,6)))
         |        AS DOUBLE) s1,
         |      CAST(sum(CAST(round(e*e*1e6)/1e6 AS DECIMAL(38,6)))
         |        AS DOUBLE) s2,
         |      max(e) mx
         |    FROM e$sfx))""".stripMargin
    def topkBlock(src: String, sfx: String): String =
      s"""n$sfx AS MATERIALIZED (SELECT vec_id,
         |    sqrt(CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE)) nrm
         |  FROM $src GROUP BY 1),
         |d$sfx AS MATERIALIZED (SELECT p.vec_id probe_id,
         |    c.vec_id neighbor_id,
         |    CAST(sum(CAST(p.x*c.x AS DECIMAL(18,16))) AS DOUBLE) dot
         |  FROM $src p JOIN $src c ON p.i = c.i AND p.vec_id < $nProbes
         |    AND p.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |tk$sfx AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |      row_number() OVER (PARTITION BY probe_id
         |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
         |    FROM d$sfx JOIN n$sfx np ON probe_id = np.vec_id
         |      JOIN n$sfx nc ON neighbor_id = nc.vec_id)
         |  WHERE rnk <= $topK)""".stripMargin
    s"""WITH ${pcaRoundsSql(iters)},
       |uu AS (SELECT CAST(sum(CAST(vi*vi AS DECIMAL(28,16))) AS DOUBLE) uu
       |  FROM v$iters),
       |av AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CAST(x*vi AS DECIMAL(28,16))) AS DOUBLE) a
       |  FROM xx JOIN v$iters ON xx.i = v$iters.i GROUP BY 1),
       |xp AS MATERIALIZED (SELECT xx.vec_id, xx.i,
       |    xx.x - av.a/uu.uu*vv.vi x
       |  FROM xx JOIN av ON xx.vec_id = av.vec_id
       |    CROSS JOIN uu JOIN v$iters vv ON xx.i = vv.i),
       |${prBlock("xx", "before")},
       |${prBlock("xp", "after")},
       |${topkBlock("xx", "b")},
       |${topkBlock("xp", "a")},
       |ch AS (SELECT CAST(count(*) AS BIGINT) n_common FROM tkb
       |  JOIN tka ON tkb.probe_id = tka.probe_id
       |    AND tkb.neighbor_id = tka.neighbor_id),
       |np AS (SELECT CAST(count(DISTINCT probe_id) AS BIGINT) n_probes
       |  FROM tkb)
       |SELECT pr_before, pr_after, top_share_before, top_share_after,
       |  round(CAST(n_common AS DOUBLE)/n_probes*1e6)/1e6 AS mean_overlap,
       |  n_probes
       |FROM prbefore, prafter, ch, np""".stripMargin
  }

  /** q259 oracle: unrolled fixed-round Lloyd k-means — per round one
    * (centroid self-energy, vector·centroid decimal dots, argmin
    * assignment, 1e-12-snapped per-dimension centroid means) CTE block,
    * replaying [[graft.ops.Similarity.kmeansFixed]] state for state;
    * every multi-reference CTE MATERIALIZED per the §3 rule.
    */
  private def kmeansOracle(iters: Int, k: Int): String = {
    def assignBlock(r: Int): String =
      s"""cc$r AS MATERIALIZED (SELECT c,
         |    CAST(sum(CAST(cd*cd AS DECIMAL(28,16))) AS DOUBLE) cc
         |  FROM c$r GROUP BY 1),
         |dt$r AS MATERIALIZED (SELECT xx.vec_id, c$r.c,
         |    CAST(sum(CAST(xx.x*c$r.cd AS DECIMAL(28,16))) AS DOUBLE) dot
         |  FROM xx JOIN c$r ON xx.i = c$r.i GROUP BY 1, 2),
         |asg$r AS MATERIALIZED (SELECT vec_id, c, d2 FROM (
         |    SELECT dt.vec_id, dt.c, vv.vv - 2.0*dt.dot + cc.cc d2,
         |      row_number() OVER (PARTITION BY dt.vec_id
         |        ORDER BY vv.vv - 2.0*dt.dot + cc.cc, dt.c) rn
         |    FROM dt$r dt JOIN vv ON dt.vec_id = vv.vec_id
         |      JOIN cc$r cc ON dt.c = cc.c)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (0 until iters).map { r =>
      s"""${assignBlock(r)},
         |c${r + 1} AS MATERIALIZED (SELECT a.c, xx.i,
         |    round(CAST(sum(CAST(xx.x AS DECIMAL(28,12))) AS DOUBLE)
         |      /count(*)*1e12)/1e12 cd
         |  FROM asg$r a JOIN xx ON a.vec_id = xx.vec_id GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH xx AS MATERIALIZED (SELECT vec_id, i,
       |    CAST(embedding[i] AS DOUBLE) x
       |  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
       |          embedding FROM embeddings)),
       |vv AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) vv
       |  FROM xx GROUP BY 1),
       |c0 AS MATERIALIZED (SELECT vec_id c, i, x cd FROM xx
       |  WHERE vec_id < $k),
       |$rounds,
       |${assignBlock(iters)}
       |SELECT c AS cluster, CAST(count(*) AS BIGINT) n_vecs,
       |  round(CAST(sum(CAST(round(d2*1e12)/1e12 AS DECIMAL(28,12)))
       |    AS DOUBLE)*1000000)/1000000.0 AS wss
       |FROM asg$iters GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q377 oracle: product quantization — the q259 Lloyd rounds with the key
    * extended by the interleaved subspace id ((i−1) mod m; Spark's 0-based
    * pos mod m lands every dimension in the same subspace), then ADC
    * scoring off the final codebook and the same exact-cosine ground truth
    * as q65. Decimal snaps and tie-breaks replay
    * [[graft.ops.Similarity.pqRecall]] state for state; multi-reference
    * CTEs MATERIALIZED per the §3 rule.
    */
  /** The PQ training CTE prefix shared by the q377 and q382 oracles:
    * subspace-keyed Lloyd rounds ending at `asg<iters>` (vec_id, s, c, d2)
    * and the final codebook `c<iters>`.
    */
  /** The Lloyd rounds of the PQ trainer as CTE text, agnostic to what the
    * `xx`/`vvs` dim CTEs hold (raw interleaved dims for q377/q382,
    * cell residuals for q391) — emits c0..c$iters and asg0..asg$iters.
    */
  private def pqRoundsSql(iters: Int, k: Int, sfx: String = ""): String = {
    val (xx, vvs) = (s"xx$sfx", s"vvs$sfx")
    def assignBlock(r: Int): String =
      s"""cc$sfx$r AS MATERIALIZED (SELECT s, c,
         |    CAST(sum(CAST(cd*cd AS DECIMAL(28,16))) AS DOUBLE) cc
         |  FROM c$sfx$r GROUP BY 1, 2),
         |dt$sfx$r AS MATERIALIZED (SELECT $xx.vec_id, c$sfx$r.s, c$sfx$r.c,
         |    CAST(sum(CAST($xx.x*c$sfx$r.cd AS DECIMAL(28,16))) AS DOUBLE) dot
         |  FROM $xx JOIN c$sfx$r ON $xx.i = c$sfx$r.i GROUP BY 1, 2, 3),
         |asg$sfx$r AS MATERIALIZED (SELECT vec_id, s, c, d2 FROM (
         |    SELECT dt.vec_id, dt.s, dt.c,
         |      vv.vv - 2.0*dt.dot + cc.cc d2,
         |      row_number() OVER (PARTITION BY dt.vec_id, dt.s
         |        ORDER BY vv.vv - 2.0*dt.dot + cc.cc, dt.c) rn
         |    FROM dt$sfx$r dt JOIN $vvs vv ON dt.vec_id = vv.vec_id AND dt.s = vv.s
         |      JOIN cc$sfx$r cc ON dt.s = cc.s AND dt.c = cc.c)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (0 until iters).map { r =>
      s"""${assignBlock(r)},
         |c$sfx${r + 1} AS MATERIALIZED (SELECT a.s, a.c, $xx.i,
         |    round(CAST(sum(CAST($xx.x AS DECIMAL(28,12))) AS DOUBLE)
         |      /count(*)*1e12)/1e12 cd
         |  FROM asg$sfx$r a JOIN $xx ON a.vec_id = $xx.vec_id AND a.s = $xx.s
         |  GROUP BY 1, 2, 3)""".stripMargin
    }.mkString(",\n")
    s"""c${sfx}0 AS MATERIALIZED (SELECT s, vec_id c, i, x cd FROM $xx
       |  WHERE vec_id < $k),
       |$rounds,
       |${assignBlock(iters)}""".stripMargin
  }

  private def pqTrainSql(iters: Int, m: Int, k: Int): String =
    s"""xx AS MATERIALIZED (SELECT vec_id, i, CAST((i - 1) % $m AS INT) s,
       |    CAST(embedding[i] AS DOUBLE) x
       |  FROM (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
       |          embedding FROM embeddings)),
       |vvs AS MATERIALIZED (SELECT vec_id, s,
       |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) vv
       |  FROM xx GROUP BY 1, 2),
       |${pqRoundsSql(iters, k)}""".stripMargin

  /** q393 oracle: the q377 interleave training verbatim (pqTrainSql), plus
    * per-dim two-pass variance, the snake-draft allocation as a window over
    * dims, a second training over the permuted subspaces (pqRoundsSql
    * suffix "b"), and the per-(allocation, subspace) variance/SSE census —
    * replaying [[graft.ops.Similarity.balancedPq]].
    */
  private def balancedPqOracle(iters: Int, m: Int, k: Int): String =
    s"""WITH ${pqTrainSql(iters, m, k)},
       |mu AS MATERIALIZED (SELECT i,
       |    CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)/count(*) mu
       |  FROM xx GROUP BY 1),
       |dvar AS MATERIALIZED (SELECT xx.i,
       |    CAST(sum(CAST((x - mu)*(x - mu) AS DECIMAL(28,16))) AS DOUBLE)
       |      /count(*) dvar
       |  FROM xx JOIN mu ON xx.i = mu.i GROUP BY 1),
       |alc AS MATERIALIZED (SELECT i,
       |    CAST(CASE WHEN cyc < $m THEN cyc ELSE ${2 * m - 1} - cyc END
       |      AS INT) s, dvar
       |  FROM (SELECT i, dvar,
       |      CAST((row_number() OVER (ORDER BY dvar DESC, i) - 1)
       |        % ${2 * m} AS INT) cyc
       |    FROM dvar)),
       |xxb AS MATERIALIZED (SELECT xx.vec_id, xx.i, alc.s, xx.x
       |  FROM xx JOIN alc ON xx.i = alc.i),
       |vvsb AS MATERIALIZED (SELECT vec_id, s,
       |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) vv
       |  FROM xxb GROUP BY 1, 2),
       |${pqRoundsSql(iters, k, "b")},
       |sseb AS (SELECT s, CAST(sum(CAST(round(d2*1e12)/1e12
       |    AS DECIMAL(28,12))) AS DOUBLE) sse
       |  FROM asgb$iters GROUP BY 1),
       |ssei AS (SELECT s, CAST(sum(CAST(round(d2*1e12)/1e12
       |    AS DECIMAL(28,12))) AS DOUBLE) sse
       |  FROM asg$iters GROUP BY 1),
       |vb AS (SELECT s, count(*) n_dims,
       |    CAST(sum(CAST(round(dvar*1e12)/1e12 AS DECIMAL(28,12)))
       |      AS DOUBLE) var_sum
       |  FROM alc GROUP BY 1),
       |vi AS (SELECT CAST((i - 1) % $m AS INT) s, count(*) n_dims,
       |    CAST(sum(CAST(round(dvar*1e12)/1e12 AS DECIMAL(28,12)))
       |      AS DOUBLE) var_sum
       |  FROM dvar GROUP BY 1)
       |SELECT * FROM (
       |  SELECT 'balanced' alloc, vb.s subspace, vb.n_dims,
       |    round(var_sum*1e6)/1e6 var_sum, round(sse*1e6)/1e6 sse
       |  FROM vb JOIN sseb ON vb.s = sseb.s
       |  UNION ALL
       |  SELECT 'interleave' alloc, vi.s subspace, vi.n_dims,
       |    round(var_sum*1e6)/1e6 var_sum, round(sse*1e6)/1e6 sse
       |  FROM vi JOIN ssei ON vi.s = ssei.s)
       |ORDER BY 1, 2""".stripMargin

  /** q396 oracle: the truss peels unrolled — per round the q143 triangle
    * join on the survivor edge set, a 3-way edge fan-out + support count,
    * the threshold filter, and integer census arithmetic — replaying
    * [[graft.ops.Graph.ktrussPeel]] round for round.
    */
  private def ktrussOracle(k: Int, rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""tr$r AS MATERIALIZED (SELECT p1.u a, p1.v b, p2.v c
         |  FROM e${r - 1} p1 JOIN e${r - 1} p2 ON p2.u = p1.v
         |    JOIN e${r - 1} p3 ON p3.u = p1.u AND p3.v = p2.v),
         |sp$r AS (SELECT u, v, CAST(count(*) AS BIGINT) sup FROM (
         |    SELECT a u, b v FROM tr$r UNION ALL SELECT b, c FROM tr$r
         |    UNION ALL SELECT a, c FROM tr$r) GROUP BY 1, 2),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  LEFT JOIN sp$r s ON e.u = s.u AND e.v = s.v
         |  WHERE coalesce(s.sup, 0) >= ${k - 2}),
         |c$r AS (SELECT CAST(count(*) AS BIGINT) n FROM e$r),
         |t$r AS (SELECT CAST(count(*) AS BIGINT) n FROM tr$r),
         |row$r AS (SELECT $r rnd, t$r.n n_tri, c${r - 1}.n - c$r.n n_dropped,
         |    c$r.n n_edges
         |  FROM t$r, c$r, c${r - 1})""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds).map(r => s"SELECT * FROM row$r")
      .mkString(" UNION ALL ")
    s"""WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |    GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
       |e0 AS MATERIALIZED (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v
       |  FROM pr),
       |c0 AS (SELECT CAST(count(*) AS BIGINT) n FROM e0),
       |$rs
       |SELECT rnd, n_tri, n_dropped, n_edges FROM ($unions) ORDER BY 1""".stripMargin
  }

  /** q394 oracle: the Sennrich rounds unrolled — per round: freq-weighted
    * adjacent-pair counts via lead(), argmax on (count desc, pair), merge by
    * start/consumed marks (two nested windows), fertility aggregate —
    * replaying [[graft.ops.TextAnalysis.bpeMerges]] state for state. All
    * counts are integers, so parity needs no decimal discipline beyond the
    * final tokens-per-word divide.
    */
  private def bpeOracle(rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""pc$r AS (SELECT sym, nxt, CAST(sum(freq) AS BIGINT) cnt FROM (
         |    SELECT sym, freq,
         |      lead(sym) OVER (PARTITION BY word ORDER BY pos) nxt
         |    FROM st${r - 1})
         |  WHERE nxt IS NOT NULL AND sym <> nxt GROUP BY 1, 2),
         |bs$r AS MATERIALIZED (SELECT sym l, nxt r, cnt FROM (
         |    SELECT sym, nxt, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, sym, nxt) rn
         |    FROM pc$r) WHERE rn = 1),
         |st$r AS MATERIALIZED (SELECT word, freq, pos,
         |    CASE WHEN mstart THEN l || r ELSE sym END sym
         |  FROM (SELECT word, freq, pos, sym, l, r, mstart,
         |      coalesce(lag(mstart) OVER (PARTITION BY word ORDER BY pos),
         |        false) consumed
         |    FROM (SELECT s.word, s.freq, s.pos, s.sym, b.l, b.r,
         |        coalesce(s.sym = b.l AND lead(s.sym) OVER (PARTITION BY
         |          s.word ORDER BY s.pos) = b.r, false) mstart
         |      FROM st${r - 1} s CROSS JOIN bs$r b))
         |  WHERE NOT consumed),
         |f$r AS (SELECT CAST(sum(freq*len) AS DOUBLE)
         |      /CAST(sum(freq) AS DOUBLE) tpw
         |  FROM (SELECT word, freq, count(*) len FROM st$r GROUP BY 1, 2)),
         |row$r AS (SELECT $r rnd, b.l lsym, b.r rsym, b.l || b.r merged,
         |    b.cnt pair_count, f.tpw
         |  FROM bs$r b CROSS JOIN f$r f)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to rounds).map(r => s"SELECT * FROM row$r")
      .mkString(" UNION ALL ")
    s"""WITH w AS (SELECT word, count(*) freq FROM (
       |    SELECT unnest(string_split(regexp_replace(lower(trim(text)),
       |      '\\s+', ' ', 'g'), ' ')) word
       |    FROM documents) WHERE length(word) > 0 GROUP BY 1),
       |st0 AS MATERIALIZED (SELECT word, freq, p pos,
       |    substr(word, CAST(p AS INT), 1) sym
       |  FROM (SELECT word, freq,
       |      unnest(generate_series(1, length(word))) p FROM w)),
       |f0 AS (SELECT CAST(sum(freq*len) AS DOUBLE)
       |      /CAST(sum(freq) AS DOUBLE) tpw
       |  FROM (SELECT word, freq, count(*) len FROM st0 GROUP BY 1, 2)),
       |row0 AS (SELECT 0 rnd, CAST(NULL AS VARCHAR) lsym,
       |    CAST(NULL AS VARCHAR) rsym, CAST(NULL AS VARCHAR) merged,
       |    CAST(NULL AS BIGINT) pair_count, tpw FROM f0),
       |$rs,
       |allr AS (SELECT * FROM row0 UNION ALL $unions)
       |SELECT rnd, lsym, rsym, merged, pair_count,
       |  round(tpw*1e6)/1e6 AS tokens_per_word
       |FROM allr ORDER BY 1""".stripMargin
  }

  /** q391 oracle: coarse per-cell centroids, residual dims (raw − cell
    * centroid) as `xx`, the q377 training rounds verbatim over those
    * residuals, the q26 shortlist on raw dims (keeping ⟨p, c_cell⟩), the
    * cell-independent probe LUT, reconstructed-norm scalars, ADC restricted
    * to probed cells, and recall against the exact top-k — replaying
    * [[graft.ops.Similarity.ivfPqRecall]] state for state.
    */
  private def ivfPqOracle(iters: Int, m: Int, k: Int,
                          nProbes: Int = 10, topK: Int = 5,
                          nprobe: Int = 2): String =
    s"""WITH rw AS MATERIALIZED (SELECT vec_id, label, i,
       |    CAST((i - 1) % $m AS INT) s, CAST(embedding[i] AS DOUBLE) x
       |  FROM (SELECT vec_id, label,
       |          unnest(generate_series(1, len(embedding))) i, embedding
       |        FROM embeddings)),
       |cent AS MATERIALIZED (SELECT label, i,
       |    CAST(sum(CAST(x AS DECIMAL(30,20))) AS DOUBLE)/count(*) ccd
       |  FROM rw GROUP BY 1, 2),
       |xx AS MATERIALIZED (SELECT rw.vec_id, rw.i, rw.s, rw.x - cent.ccd x
       |  FROM rw JOIN cent ON rw.label = cent.label AND rw.i = cent.i),
       |vvs AS MATERIALIZED (SELECT vec_id, s,
       |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) vv
       |  FROM xx GROUP BY 1, 2),
       |${pqRoundsSql(iters, k)},
       |nall AS MATERIALIZED (SELECT vec_id,
       |    sqrt(CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE)) nrm
       |  FROM rw GROUP BY 1),
       |pns AS (SELECT vec_id probe_id, nrm pn FROM nall
       |  WHERE vec_id < $nProbes),
       |cnr AS (SELECT label,
       |    sqrt(CAST(sum(CAST(ccd*ccd AS DECIMAL(18,16))) AS DOUBLE)) cnrm
       |  FROM cent GROUP BY 1),
       |pdp AS (SELECT p.vec_id probe_id, cent.label,
       |    CAST(sum(CAST(p.x*cent.ccd AS DECIMAL(18,16))) AS DOUBLE) pcdot
       |  FROM rw p JOIN cent ON p.i = cent.i WHERE p.vec_id < $nProbes
       |  GROUP BY 1, 2),
       |shl AS MATERIALIZED (SELECT probe_id, label, pcdot FROM (
       |    SELECT pdp.probe_id, pdp.label, pdp.pcdot,
       |      row_number() OVER (PARTITION BY pdp.probe_id
       |        ORDER BY pcdot/(pns.pn*cnr.cnrm) DESC, pdp.label) crk
       |    FROM pdp JOIN pns ON pdp.probe_id = pns.probe_id
       |      JOIN cnr ON pdp.label = cnr.label) WHERE crk <= $nprobe),
       |lut AS MATERIALIZED (SELECT p.vec_id probe_id, c.s, c.c,
       |    CAST(sum(CAST(p.x*c.cd AS DECIMAL(28,16))) AS DOUBLE) part
       |  FROM rw p JOIN c$iters c ON p.i = c.i WHERE p.vec_id < $nProbes
       |  GROUP BY 1, 2, 3),
       |cn2 AS (SELECT label,
       |    CAST(sum(CAST(ccd*ccd AS DECIMAL(28,16))) AS DOUBLE) cn2
       |  FROM cent GROUP BY 1),
       |ccw AS MATERIALIZED (SELECT cent.label, c.s, c.c,
       |    CAST(sum(CAST(cent.ccd*c.cd AS DECIMAL(28,16))) AS DOUBLE) ccw
       |  FROM cent JOIN c$iters c ON cent.i = c.i GROUP BY 1, 2, 3),
       |ccf AS (SELECT s, c,
       |    CAST(sum(CAST(cd*cd AS DECIMAL(28,16))) AS DOUBLE) cc
       |  FROM c$iters GROUP BY 1, 2),
       |vl AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
       |rsum AS (SELECT a.vec_id, vl.label,
       |    CAST(sum(CAST(round((2.0*ccw.ccw + ccf.cc)*1e12)/1e12
       |      AS DECIMAL(28,12))) AS DOUBLE) rsum
       |  FROM asg$iters a JOIN vl ON a.vec_id = vl.vec_id
       |    JOIN ccw ON vl.label = ccw.label AND a.s = ccw.s AND a.c = ccw.c
       |    JOIN ccf ON a.s = ccf.s AND a.c = ccf.c
       |  GROUP BY 1, 2),
       |rnm AS MATERIALIZED (SELECT rsum.vec_id,
       |    sqrt(cn2.cn2 + rsum.rsum) rnrm
       |  FROM rsum JOIN cn2 ON rsum.label = cn2.label),
       |adc AS MATERIALIZED (SELECT shl.probe_id, a.vec_id, shl.pcdot,
       |    CAST(sum(CAST(l.part AS DECIMAL(28,16))) AS DOUBLE) radot
       |  FROM asg$iters a JOIN vl ON a.vec_id = vl.vec_id
       |    JOIN shl ON vl.label = shl.label
       |    JOIN lut l ON l.probe_id = shl.probe_id AND l.s = a.s
       |      AND l.c = a.c
       |  WHERE a.vec_id <> shl.probe_id
       |  GROUP BY 1, 2, 3),
       |approx AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |    SELECT adc.probe_id, adc.vec_id neighbor_id,
       |      row_number() OVER (PARTITION BY adc.probe_id
       |        ORDER BY round((adc.radot + adc.pcdot)/(pns.pn*rnm.rnrm)*1e12)/1e12
       |          DESC, adc.vec_id) rnk
       |    FROM adc JOIN rnm ON adc.vec_id = rnm.vec_id
       |      JOIN pns ON adc.probe_id = pns.probe_id) WHERE rnk <= $topK),
       |d1 AS MATERIALIZED (SELECT p.vec_id probe_id, cnd.vec_id neighbor_id,
       |    CAST(sum(CAST(p.x*cnd.x AS DECIMAL(18,16))) AS DOUBLE) dot
       |  FROM rw p JOIN rw cnd ON p.i = cnd.i AND p.vec_id < $nProbes
       |    AND p.vec_id <> cnd.vec_id
       |  GROUP BY 1, 2),
       |truth AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
       |    FROM d1 JOIN nall np ON probe_id = np.vec_id
       |      JOIN nall nc ON neighbor_id = nc.vec_id) WHERE rnk <= $topK),
       |hits AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN approx a
       |    ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id
       |  GROUP BY 1),
       |tot AS (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1)
       |SELECT tot.probe_id, coalesce(n_hits, 0) n_hits, n_true,
       |  round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 recall
       |FROM tot LEFT JOIN hits ON tot.probe_id = hits.probe_id ORDER BY 1""".stripMargin

  /** q382 oracle: the distortion census over the shared PQ training state —
    * the q259-WSS snap discipline on the per-subspace d².
    */
  private def pqDistortionOracle(iters: Int, m: Int, k: Int): String =
    s"""WITH ${pqTrainSql(iters, m, k)},
       |per AS (SELECT s, c, CAST(count(*) AS BIGINT) n_vecs,
       |    CAST(sum(CAST(round(d2*1e12)/1e12 AS DECIMAL(28,12)))
       |      AS DOUBLE) sse
       |  FROM asg$iters GROUP BY 1, 2),
       |tt AS (SELECT s, CAST(sum(CAST(sse AS DECIMAL(28,12))) AS DOUBLE)
       |    sub_sse FROM per GROUP BY 1)
       |SELECT per.s AS subspace, per.c AS codeword, n_vecs,
       |  round(sse/n_vecs*1000000)/1000000.0 AS mse,
       |  CASE WHEN sub_sse = 0 THEN 0.0
       |    ELSE round(sse/sub_sse*1000000)/1000000.0 END AS sse_share
       |FROM per JOIN tt ON per.s = tt.s ORDER BY 1, 2""".stripMargin

  /** q386 oracle: the q380 ranking prefix (exact + int8-quantized cosine
    * top-d with ranks), then RBO from the tail-weight identity. The weight
    * table is interpolated from [[graft.ops.Similarity.rboWeights]] via
    * Double.toString, so both engines consume literally identical doubles
    * and no pow() ever evaluates in-engine.
    */
  private def rboOracle(d: Int, p: Double): String = {
    val w = graft.ops.Similarity.rboWeights(p, d)
      .map { case (m, v) => s"($m, ${java.lang.Double.toString(v)})" }
      .mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
       |    embedding FROM e),
       |xx AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
       |env AS (SELECT i, min(v) mn, max(v) mx FROM xx GROUP BY 1),
       |rx AS (SELECT vec_id, xx.i,
       |    CASE WHEN mx = mn THEN mn
       |      ELSE mn + round((v - mn)/(mx - mn)*255)/255*(mx - mn) END rv
       |  FROM xx JOIN env ON xx.i = env.i),
       |n AS (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16)))
       |    AS DOUBLE)) nrm FROM xx GROUP BY 1),
       |nr AS (SELECT vec_id, sqrt(CAST(sum(CAST(rv*rv AS DECIMAL(18,16)))
       |    AS DOUBLE)) nrm FROM rx GROUP BY 1),
       |d1 AS (SELECT px.vec_id probe_id, c.vec_id neighbor_id,
       |    CAST(sum(CAST(px.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
       |  FROM xx px JOIN xx c ON px.i = c.i AND px.vec_id < 10
       |    AND px.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT probe_id, neighbor_id, rnk FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
       |    FROM d1 JOIN n np ON probe_id = np.vec_id
       |      JOIN n nc ON neighbor_id = nc.vec_id) WHERE rnk <= $d),
       |d2 AS (SELECT px.vec_id probe_id, c.vec_id neighbor_id,
       |    CAST(sum(CAST(px.rv*c.rv AS DECIMAL(18,16))) AS DOUBLE) dot
       |  FROM rx px JOIN rx c ON px.i = c.i AND px.vec_id < 10
       |    AND px.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |approx AS (SELECT probe_id, neighbor_id, rnk rnk_b FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
       |    FROM d2 JOIN nr np ON probe_id = np.vec_id
       |      JOIN nr nc ON neighbor_id = nc.vec_id) WHERE rnk <= $d),
       |wt(m, w) AS (VALUES $w),
       |common AS (SELECT t.probe_id, greatest(t.rnk, a.rnk_b) m
       |  FROM truth t JOIN approx a ON t.probe_id = a.probe_id
       |    AND t.neighbor_id = a.neighbor_id),
       |agg AS (SELECT probe_id, CAST(count(*) AS BIGINT) n_common,
       |    CAST(sum(CAST(round(w*1e12)/1e12 AS DECIMAL(28,12)))
       |      AS DOUBLE) sw
       |  FROM common JOIN wt USING (m) GROUP BY 1),
       |spine AS (SELECT DISTINCT probe_id FROM truth)
       |SELECT spine.probe_id,
       |  CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       |  round((1.0 - $p)*coalesce(sw, 0.0)*1000000)/1000000.0 AS rbo
       |FROM spine LEFT JOIN agg USING (probe_id) ORDER BY 1""".stripMargin
  }

  private def pqOracle(iters: Int, m: Int, k: Int): String = {
    s"""WITH ${pqTrainSql(iters, m, k)},
       |ccf AS MATERIALIZED (SELECT s, c,
       |    CAST(sum(CAST(cd*cd AS DECIMAL(28,16))) AS DOUBLE) cc
       |  FROM c$iters GROUP BY 1, 2),
       |rnm AS MATERIALIZED (SELECT a.vec_id,
       |    sqrt(CAST(sum(CAST(cc AS DECIMAL(28,16))) AS DOUBLE)) rnrm
       |  FROM asg$iters a JOIN ccf ON a.s = ccf.s AND a.c = ccf.c GROUP BY 1),
       |lut AS MATERIALIZED (SELECT p.vec_id probe_id, c.s, c.c,
       |    CAST(sum(CAST(p.x*c.cd AS DECIMAL(28,16))) AS DOUBLE) part
       |  FROM xx p JOIN c$iters c ON p.i = c.i WHERE p.vec_id < 10
       |  GROUP BY 1, 2, 3),
       |pns AS MATERIALIZED (SELECT vec_id probe_id,
       |    sqrt(CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE)) pn
       |  FROM xx WHERE vec_id < 10 GROUP BY 1),
       |adc AS MATERIALIZED (SELECT l.probe_id, a.vec_id,
       |    CAST(sum(CAST(part AS DECIMAL(28,16))) AS DOUBLE) adot
       |  FROM asg$iters a JOIN lut l ON a.s = l.s AND a.c = l.c
       |  WHERE a.vec_id <> l.probe_id GROUP BY 1, 2),
       |approx AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |    SELECT adc.probe_id, adc.vec_id neighbor_id,
       |      row_number() OVER (PARTITION BY adc.probe_id
       |        ORDER BY round(adot/(pns.pn*rnm.rnrm)*1e12)/1e12 DESC, adc.vec_id) rnk
       |    FROM adc JOIN rnm ON adc.vec_id = rnm.vec_id
       |      JOIN pns ON adc.probe_id = pns.probe_id) WHERE rnk <= 5),
       |d1 AS MATERIALIZED (SELECT p.vec_id probe_id, cnd.vec_id neighbor_id,
       |    CAST(sum(CAST(p.x*cnd.x AS DECIMAL(18,16))) AS DOUBLE) dot
       |  FROM xx p JOIN xx cnd ON p.i = cnd.i AND p.vec_id < 10
       |    AND p.vec_id <> cnd.vec_id
       |  GROUP BY 1, 2),
       |n AS MATERIALIZED (SELECT vec_id,
       |    sqrt(CAST(sum(CAST(x*x AS DECIMAL(18,16))) AS DOUBLE)) nrm
       |  FROM xx GROUP BY 1),
       |truth AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id
       |        ORDER BY dot/(np.nrm*nc.nrm) DESC, neighbor_id) rnk
       |    FROM d1 JOIN n np ON probe_id = np.vec_id
       |      JOIN n nc ON neighbor_id = nc.vec_id) WHERE rnk <= 5),
       |hits AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN approx a
       |    ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id
       |  GROUP BY 1),
       |tot AS (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1)
       |SELECT tot.probe_id, coalesce(n_hits, 0) n_hits, n_true,
       |  round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 recall
       |FROM tot LEFT JOIN hits ON tot.probe_id = hits.probe_id ORDER BY 1""".stripMargin
  }

  /** q392 oracle: the Gonzalez traversal unrolled — per round: argmax of the
    * running min-dist² (ties on vec_id), one dot-product scan against the
    * single new center, least() fold into the running column, coverage
    * aggregate — replaying [[graft.ops.Similarity.kcenterCoreset]] state
    * for state with the same exact-decimal d² and 1e-10 mean snaps.
    */
  private def kcenterOracle(t: Int): String = {
    val rounds = (1 until t).map { r =>
      s"""sel$r AS MATERIALIZED (SELECT vec_id cid, d2 radius FROM (
         |    SELECT vec_id, d2, row_number() OVER (ORDER BY d2 DESC, vec_id) rn
         |    FROM md${r - 1}) WHERE rn = 1),
         |dt$r AS (SELECT a.vec_id,
         |    CAST(sum(CAST(a.x*c.x AS DECIMAL(28,16))) AS DOUBLE) dot
         |  FROM xx a JOIN sel$r s ON 1=1
         |    JOIN xx c ON c.vec_id = s.cid AND a.i = c.i
         |  GROUP BY 1),
         |md$r AS MATERIALIZED (SELECT m.vec_id,
         |    least(m.d2, av.vv - 2.0*dt.dot + cv.cvv) d2
         |  FROM md${r - 1} m JOIN dt$r dt ON m.vec_id = dt.vec_id
         |    JOIN vv av ON m.vec_id = av.vec_id
         |    CROSS JOIN (SELECT vv.vv cvv FROM vv JOIN sel$r
         |      ON vv.vec_id = sel$r.cid) cv),
         |cov$r AS (SELECT max(d2) cmax,
         |    CAST(sum(CAST(round(d2*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE)
         |      /count(*) cmean
         |  FROM md$r),
         |row$r AS (SELECT $r k, s.cid center_id, s.radius radius, c.cmax,
         |    c.cmean
         |  FROM sel$r s CROSS JOIN cov$r c)""".stripMargin
    }.mkString(",\n")
    val unions = (1 until t).map(r => s"SELECT * FROM row$r")
      .mkString(" UNION ALL ")
    s"""WITH ix AS (SELECT vec_id,
       |    unnest(generate_series(1, len(embedding))) i, embedding
       |  FROM embeddings),
       |xx AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) x
       |  FROM ix),
       |vv AS MATERIALIZED (SELECT vec_id,
       |    CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) vv
       |  FROM xx GROUP BY 1),
       |c0 AS (SELECT min(vec_id) cid FROM xx),
       |dt0 AS (SELECT a.vec_id,
       |    CAST(sum(CAST(a.x*c.x AS DECIMAL(28,16))) AS DOUBLE) dot
       |  FROM xx a JOIN c0 s ON 1=1 JOIN xx c ON c.vec_id = s.cid
       |    AND a.i = c.i
       |  GROUP BY 1),
       |md0 AS MATERIALIZED (SELECT m.vec_id, av.vv - 2.0*m.dot + cv.cvv d2
       |  FROM dt0 m JOIN vv av ON m.vec_id = av.vec_id
       |    CROSS JOIN (SELECT vv.vv cvv FROM vv JOIN c0
       |      ON vv.vec_id = c0.cid) cv),
       |cov0 AS (SELECT max(d2) cmax,
       |    CAST(sum(CAST(round(d2*1e10)/1e10 AS DECIMAL(38,10))) AS DOUBLE)
       |      /count(*) cmean FROM md0),
       |row0 AS (SELECT 0 k, c0.cid center_id, CAST(NULL AS DOUBLE) radius,
       |    cmax, cmean FROM c0 CROSS JOIN cov0),
       |$rounds,
       |allr AS (SELECT * FROM row0 UNION ALL $unions)
       |SELECT k, center_id, round(radius*1e6)/1e6 + 0.0 AS radius,
       |  round(cmax*1e6)/1e6 + 0.0 AS cov_max,
       |  round(cmean*1e6)/1e6 + 0.0 AS cov_mean
       |FROM allr ORDER BY 1""".stripMargin
  }

  /** q270 oracle: the q227 Newton rounds verbatim, then the reliability
    * binning — predicted p snapped to 1e-12 before both the bin floor and
    * the per-bin decimal mean, replaying [[graft.ops.Regression
    * .calibrationBins]].
    */
  private def calibrationOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""pp$k AS (SELECT xy.x, xy.y, b.b0, b.b1,
         |    1.0/(1.0 + exp(-(b.b0 + b.b1*xy.x))) p
         |  FROM xy CROSS JOIN be${k - 1} b),
         |ag$k AS (SELECT max(b0) b0, max(b1) b1,
         |    CAST(sum(CAST(y - p AS DECIMAL(28,12))) AS DOUBLE) g0,
         |    CAST(sum(CAST((y - p)*x AS DECIMAL(28,12))) AS DOUBLE) g1,
         |    CAST(sum(CAST(p*(1.0 - p) AS DECIMAL(28,12))) AS DOUBLE) h00,
         |    CAST(sum(CAST(p*(1.0 - p)*x AS DECIMAL(28,12))) AS DOUBLE) h01,
         |    CAST(sum(CAST(p*(1.0 - p)*x*x AS DECIMAL(28,12))) AS DOUBLE) h11
         |  FROM pp$k),
         |st$k AS (SELECT *, h00*h11 - h01*h01 det FROM ag$k),
         |be$k AS (SELECT
         |    round((b0 + (h11*g0 - h01*g1)/det)*1e12)/1e12 b0,
         |    round((b1 + (h00*g1 - h01*g0)/det)*1e12)/1e12 b1
         |  FROM st$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH xy AS MATERIALIZED (SELECT value/100.0 x,
       |    CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END y
       |  FROM events),
       |be0 AS (SELECT 0.0 b0, 0.0 b1),
       |$rounds,
       |ps AS (SELECT xy.y,
       |    round((1.0/(1.0 + exp(-(b.b0 + b.b1*xy.x))))*1e12)/1e12 p
       |  FROM xy CROSS JOIN be$iters b),
       |bn AS (SELECT CAST(least(floor(p*10), 9.0) AS INT) bin, y, p FROM ps),
       |g AS (SELECT bin, CAST(count(*) AS BIGINT) n,
       |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) n_pos,
       |    sum(CAST(p AS DECIMAL(28,12))) sp
       |  FROM bn GROUP BY 1)
       |SELECT bin, n, n_pos,
       |  round(CAST(sp AS DOUBLE)/CAST(n AS DOUBLE)*1000000)/1000000.0
       |    AS mean_pred,
       |  round(CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)*1000000)/1000000.0
       |    AS obs_rate,
       |  round((CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE)
       |    - CAST(sp AS DOUBLE)/CAST(n AS DOUBLE))*1000000)/1000000.0 + 0.0
       |    AS gap
       |FROM g ORDER BY 1""".stripMargin
  }

  /** q227 oracle: unrolled distributed Newton–Raphson for the logistic
    * fit — one (cross-join coefficients, per-row sigmoid, decimal-snapped
    * gradient/Hessian sums, closed-form 2×2 solve, 1e-12 coefficient snap)
    * CTE chain per iteration, replaying [[graft.ops.Regression
    * .logisticNewton]] state for state.
    */
  private def logregOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""pp$k AS (SELECT xy.x, xy.y, b.b0, b.b1,
         |    1.0/(1.0 + exp(-(b.b0 + b.b1*xy.x))) p
         |  FROM xy CROSS JOIN be${k - 1} b),
         |ag$k AS (SELECT max(b0) b0, max(b1) b1,
         |    CAST(sum(CAST(y - p AS DECIMAL(28,12))) AS DOUBLE) g0,
         |    CAST(sum(CAST((y - p)*x AS DECIMAL(28,12))) AS DOUBLE) g1,
         |    CAST(sum(CAST(p*(1.0 - p) AS DECIMAL(28,12))) AS DOUBLE) h00,
         |    CAST(sum(CAST(p*(1.0 - p)*x AS DECIMAL(28,12))) AS DOUBLE) h01,
         |    CAST(sum(CAST(p*(1.0 - p)*x*x AS DECIMAL(28,12))) AS DOUBLE) h11
         |  FROM pp$k),
         |st$k AS (SELECT *, h00*h11 - h01*h01 det FROM ag$k),
         |be$k AS (SELECT
         |    round((b0 + (h11*g0 - h01*g1)/det)*1e12)/1e12 b0,
         |    round((b1 + (h00*g1 - h01*g0)/det)*1e12)/1e12 b1
         |  FROM st$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH xy AS MATERIALIZED (SELECT value/100.0 x,
       |    CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END y
       |  FROM events),
       |be0 AS (SELECT 0.0 b0, 0.0 b1),
       |$rounds,
       |cls AS (SELECT xy.y, b.b0, b.b1,
       |    CASE WHEN b.b0 + b.b1*xy.x > 0 THEN 1.0 ELSE 0.0 END pred
       |  FROM xy CROSS JOIN be$iters b),
       |g AS (SELECT b0, b1, CAST(count(*) AS BIGINT) n,
       |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) n_pos,
       |    CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) nc
       |  FROM cls GROUP BY 1, 2)
       |SELECT n, n_pos,
       |  round(b0*1000000)/1000000 + 0.0 AS beta0,
       |  round(b1*1000000)/1000000 + 0.0 AS beta1,
       |  round(CAST(nc AS DOUBLE)/CAST(n AS DOUBLE)*1000000)/1000000
       |    AS accuracy
       |FROM g""".stripMargin
  }

  /** q226 oracle: the q43 recall replay with one approx/hits/recall CTE
    * chain per nprobe setting, sharing the truth and centroid CTEs; each
    * curve point aggregates exact hit/truth integers (micro recall) and
    * the min of the already-rounded per-probe recalls.
    */
  private def nprobeCurveOracle(curve: Seq[Int]): String = {
    val perNp = curve.map { np =>
      s"""short$np AS (SELECT probe_id, label FROM (
         |    SELECT probe_id, label,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, label) crk
         |    FROM ps) WHERE crk <= $np),
         |d2_$np AS (SELECT s.probe_id, c.vec_id neighbor_id,
         |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
         |      FROM short$np s JOIN xx c ON c.label = s.label
         |        JOIN xx p ON p.vec_id = s.probe_id AND p.i = c.i
         |      WHERE c.vec_id <> s.probe_id GROUP BY 1, 2),
         |sc2_$np AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
         |       FROM d2_$np JOIN n np ON probe_id = np.vec_id
         |       JOIN n nc ON neighbor_id = nc.vec_id),
         |approx$np AS (SELECT probe_id, neighbor_id FROM (
         |    SELECT probe_id, neighbor_id,
         |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
         |    FROM sc2_$np) WHERE rnk <= 5),
         |hits$np AS (SELECT t.probe_id, count(*) n_hits FROM truth t JOIN approx$np a
         |          ON t.probe_id = a.probe_id AND t.neighbor_id = a.neighbor_id GROUP BY 1),
         |rec$np AS (SELECT tot.probe_id, coalesce(n_hits, 0) h, n_true t,
         |        round(CAST(coalesce(n_hits, 0) AS DOUBLE)/n_true*10000)/10000 r
         |      FROM tot LEFT JOIN hits$np ON tot.probe_id = hits$np.probe_id),
         |sum$np AS (SELECT CAST($np AS INT) nprobe, CAST(sum(h) AS BIGINT) n_hits,
         |        CAST(sum(t) AS BIGINT) n_true,
         |        round(CAST(sum(h) AS DOUBLE)/CAST(sum(t) AS DOUBLE)*10000)/10000 micro_recall,
         |        min(r) min_recall FROM rec$np)""".stripMargin
    }.mkString(",\n")
    val sel = curve.map(np => s"SELECT * FROM sum$np")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
       |ix AS (SELECT vec_id, label, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
       |xx AS MATERIALIZED (SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
       |n AS MATERIALIZED (SELECT vec_id, sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
       |      FROM xx GROUP BY 1),
       |d1 AS (SELECT p.vec_id probe_id, c.vec_id neighbor_id,
       |        CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE) dot
       |      FROM xx p JOIN xx c ON p.i = c.i AND p.vec_id < 10 AND p.vec_id <> c.vec_id
       |      GROUP BY 1, 2),
       |sc1 AS (SELECT probe_id, neighbor_id, dot/(np.nrm*nc.nrm) cos
       |       FROM d1 JOIN n np ON probe_id = np.vec_id JOIN n nc ON neighbor_id = nc.vec_id),
       |truth AS MATERIALIZED (SELECT probe_id, neighbor_id FROM (
       |    SELECT probe_id, neighbor_id,
       |      row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) rnk
       |    FROM sc1) WHERE rnk <= 5),
       |tot AS MATERIALIZED (SELECT probe_id, count(*) n_true FROM truth GROUP BY 1),
       |cent AS MATERIALIZED (SELECT label, i, CAST(sum(CAST(v AS DECIMAL(30,20))) AS DOUBLE)/count(*) c
       |         FROM xx GROUP BY 1, 2),
       |cn AS (SELECT label, sqrt(CAST(sum(CAST(c*c AS DECIMAL(18,16))) AS DOUBLE)) cnrm
       |       FROM cent GROUP BY 1),
       |pd AS (SELECT p.vec_id probe_id, cent.label,
       |         CAST(sum(CAST(p.v*cent.c AS DECIMAL(18,16))) AS DOUBLE) dot
       |       FROM xx p JOIN cent ON p.i = cent.i WHERE p.vec_id < 10 GROUP BY 1, 2),
       |ps AS MATERIALIZED (SELECT probe_id, pd.label, dot/(np.nrm*cn.cnrm) ccos
       |       FROM pd JOIN n np ON probe_id = np.vec_id JOIN cn ON pd.label = cn.label),
       |$perNp
       |$sel ORDER BY nprobe""".stripMargin
  }

  /** q219 oracle: replay [[lpaOracle]]'s four label-propagation rounds,
    * then compute Newman modularity of the final partition — intra-edge
    * counts and degree sums are exact integers; each community's
    * (e_c/m − (d_c/2m)²) term is decimal-snapped before the scalar Q sum,
    * mirroring [[graft.ops.Graph.modularity]] bit for bit.
    */
  private def modularityOracle(rounds: Int): String = {
    val cte = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, label FROM (
         |  SELECT s.u AS id, l.label, count(*) c,
         |    row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.label) rn
         |  FROM s JOIN l${k - 1} l ON s.v = l.id GROUP BY s.u, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
       |      FROM lineitem a JOIN lineitem b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
       |p AS MATERIALIZED (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v
       |     FROM pr),
       |s AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM s),
       |$cte,
       |mm AS (SELECT CAST(count(*) AS BIGINT) m FROM p),
       |ie AS (SELECT l1.label community, CAST(count(*) AS BIGINT) int_edges
       |  FROM p JOIN l$rounds l1 ON p.u = l1.id
       |  JOIN l$rounds l2 ON p.v = l2.id
       |  WHERE l1.label = l2.label GROUP BY 1),
       |dg AS (SELECT u, CAST(count(*) AS BIGINT) deg FROM s GROUP BY 1),
       |ds AS (SELECT l.label community, CAST(sum(deg) AS BIGINT) deg_sum,
       |    CAST(count(*) AS BIGINT) n_nodes
       |  FROM dg d JOIN l$rounds l ON d.u = l.id GROUP BY 1),
       |c AS (SELECT ds.community, n_nodes,
       |    coalesce(int_edges, CAST(0 AS BIGINT)) int_edges, deg_sum,
       |    CAST(CAST(coalesce(int_edges, 0) AS DOUBLE)/m
       |      - (CAST(deg_sum AS DOUBLE)/(2*m))*(CAST(deg_sum AS DOUBLE)/(2*m))
       |      AS DECIMAL(28,18)) contrib
       |  FROM ds LEFT JOIN ie USING (community) CROSS JOIN mm),
       |qt AS (SELECT CAST(sum(contrib) AS DOUBLE) q FROM c)
       |SELECT community, n_nodes, int_edges, deg_sum,
       |  round(CAST(contrib AS DOUBLE)*1000000)/1000000 + 0.0 AS contrib,
       |  round(q*1000000)/1000000 + 0.0 AS modularity
       |FROM c CROSS JOIN qt WHERE n_nodes >= 3 ORDER BY community""".stripMargin
  }

  /** Weighted twin of [[lpaOracle]]: the per-round argmax sums edge
    * SUPPORT instead of counting neighbours — integer sums, same total
    * tie-order, so both engines replay identical label states.
    */
  private def lpaWeightedOracle(rounds: Int): String = {
    val cte = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, label FROM (
         |  SELECT s.u AS id, l.label, sum(s.wt) c,
         |    row_number() OVER (PARTITION BY s.u
         |      ORDER BY sum(s.wt) DESC, l.label) rn
         |  FROM s JOIN l${k - 1} l ON s.v = l.id GROUP BY s.u, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT a.l_partkey u, b.l_partkey v,
       |        count(DISTINCT a.l_orderkey) supp
       |      FROM lineitem a JOIN lineitem b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
       |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v,
       |        CAST(supp AS BIGINT) wt FROM pr),
       |s AS MATERIALIZED (SELECT u, v, wt FROM p
       |  UNION ALL SELECT v AS u, u AS v, wt FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM s),
       |$cte
       |SELECT id AS part, label AS community FROM l$rounds ORDER BY 1""".stripMargin
  }

  /** Unrolled fixed-round label-propagation oracle — one CTE per
    * synchronous round; the argmax (most frequent neighbour label, ties to
    * the smallest label) is the same row_number ordering
    * [[graft.ops.Graph.labelPropagation]] uses, so both engines walk
    * identical label states round by round.
    */
  private def lpaOracle(rounds: Int): String = {
    val cte = (1 to rounds).map { k =>
      s"""l$k AS MATERIALIZED (SELECT id, label FROM (
         |  SELECT s.u AS id, l.label, count(*) c,
         |    row_number() OVER (PARTITION BY s.u ORDER BY count(*) DESC, l.label) rn
         |  FROM s JOIN l${k - 1} l ON s.v = l.id GROUP BY s.u, l.label)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
       |      FROM lineitem a JOIN lineitem b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
       |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
       |s AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM s),
       |$cte
       |SELECT id AS part, label AS community FROM l$rounds ORDER BY 1""".stripMargin
  }

  /** Unrolled fixed-round HITS oracle — one (raw, normalized) CTE pair per
    * side per round, replaying [[graft.ops.Graph.hits]] exactly: scores
    * live as DECIMAL(28,12) (sums exact and order-free), each round
    * max-normalizes (max of decimals — exact), and the single inexact op
    * is the IEEE double division snapped back to 9 dp. Both engines
    * therefore walk bit-identical score states; the final ppm rounding is
    * 3 orders of margin on top of an exact match.
    */
  private def hitsOracle(rounds: Int): String = {
    val cte = (1 to rounds).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT e.dst id, CAST(sum(score) AS DECIMAL(38,12)) raw
         |  FROM e JOIN h${k - 1} ON e.src = h${k - 1}.id GROUP BY 1),
         |a$k AS MATERIALIZED (SELECT id,
         |  CAST(round(CAST(raw AS DOUBLE)/CAST((SELECT max(raw) FROM ar$k) AS DOUBLE)
         |    *1e9)/1e9 AS DECIMAL(28,12)) score FROM ar$k),
         |hr$k AS MATERIALIZED (SELECT e.src id, CAST(sum(score) AS DECIMAL(38,12)) raw
         |  FROM e JOIN a$k ON e.dst = a$k.id GROUP BY 1),
         |h$k AS MATERIALIZED (SELECT id,
         |  CAST(round(CAST(raw AS DOUBLE)/CAST((SELECT max(raw) FROM hr$k) AS DOUBLE)
         |    *1e9)/1e9 AS DECIMAL(28,12)) score FROM hr$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o_custkey AS BIGINT) src,
       |    CAST(l_suppkey AS BIGINT) dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS MATERIALIZED (SELECT DISTINCT src id,
       |  CAST(1 AS DECIMAL(28,12)) score FROM e),
       |$cte
       |SELECT id AS s_suppkey,
       |  round(CAST(score AS DOUBLE)*1000000)/1000000 AS authority
       |FROM a$rounds ORDER BY authority DESC, s_suppkey LIMIT 25""".stripMargin
  }

  /** Unrolled greedy-MMR oracle — relevance pool and pairwise sims off the
    * same exact decimal_dot arithmetic as q25, then one CTE pair per greedy
    * step: the argmax of round(λ·rel − μ·maxsim, 9) with (score desc,
    * vec_id) tie order, exactly [[graft.ops.Similarity.mmrTopK]]'s loop.
    * λ and μ are independent literals (never 1−λ computed in-engine, whose
    * decimal-vs-double result would differ between engines).
    */
  private def mmrOracle(pool: Int, k: Int, lambda: String = "0.7",
                        mu: String = "0.3"): String = {
    val steps = (1 to k).map { s =>
      s"""st$s AS MATERIALIZED (SELECT vec_id, score FROM (
         |  SELECT r.vec_id,
         |    round(CAST($lambda AS DOUBLE)*r.rel
         |      - CAST($mu AS DOUBLE)*coalesce(m.ms, 0.0), 9) score,
         |    row_number() OVER (ORDER BY round(CAST($lambda AS DOUBLE)*r.rel
         |      - CAST($mu AS DOUBLE)*coalesce(m.ms, 0.0), 9) DESC, r.vec_id) rn
         |  FROM pool r
         |  LEFT JOIN (SELECT sm.a, max(sm.sim) ms FROM sims sm
         |             JOIN sel${s - 1} t ON sm.b = t.vec_id GROUP BY 1) m
         |    ON r.vec_id = m.a
         |  WHERE r.vec_id NOT IN (SELECT vec_id FROM sel${s - 1}
         |                         WHERE vec_id IS NOT NULL)) WHERE rn = 1),
         |sel$s AS MATERIALIZED (SELECT * FROM sel${s - 1}
         |  UNION ALL SELECT vec_id, score, $s rnk FROM st$s)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i,
       |         embedding FROM e),
       |xx AS MATERIALIZED (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) v FROM ix),
       |n AS MATERIALIZED (SELECT vec_id,
       |  sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
       |  FROM xx GROUP BY 1),
       |pv AS MATERIALIZED (SELECT i, v FROM xx WHERE vec_id = 0),
       |relall AS (SELECT c.vec_id,
       |    round(CAST(sum(CAST(p.v*c.v AS DECIMAL(18,16))) AS DOUBLE)
       |      /(pn.nrm*cn.nrm), 9) rel
       |  FROM pv p JOIN xx c ON p.i = c.i AND c.vec_id <> 0
       |  JOIN n pn ON pn.vec_id = 0 JOIN n cn ON cn.vec_id = c.vec_id
       |  GROUP BY c.vec_id, pn.nrm, cn.nrm),
       |pool AS MATERIALIZED (SELECT vec_id, rel FROM relall
       |  ORDER BY rel DESC, vec_id LIMIT $pool),
       |px AS MATERIALIZED (SELECT x.vec_id, x.i, x.v
       |  FROM xx x JOIN pool p ON x.vec_id = p.vec_id),
       |sims AS MATERIALIZED (SELECT xa.vec_id a, xb.vec_id b,
       |    round(CAST(sum(CAST(xa.v*xb.v AS DECIMAL(18,16))) AS DOUBLE)
       |      /(na.nrm*nb.nrm), 9) sim
       |  FROM px xa JOIN px xb ON xa.i = xb.i AND xa.vec_id <> xb.vec_id
       |  JOIN n na ON na.vec_id = xa.vec_id JOIN n nb ON nb.vec_id = xb.vec_id
       |  GROUP BY 1, 2, na.nrm, nb.nrm),
       |sel0 AS (SELECT CAST(NULL AS BIGINT) vec_id, CAST(NULL AS DOUBLE) score,
       |         CAST(0 AS INT) rnk WHERE 1 = 0),
       |$steps
       |SELECT rnk, vec_id, score FROM sel$k ORDER BY rnk""".stripMargin
  }

  /** Unrolled personalized-PageRank oracle — the [[pageRankOracle]] round
    * skeleton with the teleport (restart AND dangling mass) confined to
    * the seed rows: rank = (seed ? (1−d)/|S| + d·dang/|S| : 0) +
    * d·inflow, the exact evaluation order of
    * [[graft.ops.Graph.personalizedPageRank]].
    */
  private def pprOracle(iters: Int, nSeeds: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""b$k AS MATERIALIZED (SELECT (CAST(1 AS DOUBLE)-0.85e0)/ns.n
         |    + 0.85e0*dd.dang/ns.n AS base
         |  FROM ns, (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) dang
         |            FROM r${k - 1} r JOIN dg USING (id) WHERE dg.deg IS NULL) dd),
         |r$k AS MATERIALIZED (SELECT dg.id,
         |  CASE WHEN dg.seed THEN b$k.base ELSE CAST(0 AS DOUBLE) END
         |    + 0.85e0*coalesce(fl.inflow, CAST(0 AS DOUBLE)) AS rank
         |  FROM dg CROSS JOIN b$k LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank/dg2.deg) AS inflow
         |    FROM r${k - 1} r JOIN dg dg2 USING (id) JOIN e ON e.src = r.id
         |    WHERE dg2.deg IS NOT NULL GROUP BY 1) fl ON dg.id = fl.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) src,
       |             -CAST(l.l_suppkey AS BIGINT) dst
       |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |sd AS MATERIALIZED (SELECT CAST(o_custkey AS BIGINT) id FROM orders
       |        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT $nSeeds),
       |ns AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) n FROM sd),
       |v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |dg AS MATERIALIZED (SELECT v.id, d.deg, sd.id IS NOT NULL AS seed
       |  FROM v LEFT JOIN (SELECT src AS id, CAST(count(*) AS BIGINT) deg
       |                    FROM e GROUP BY 1) d USING (id)
       |       LEFT JOIN sd ON v.id = sd.id),
       |r0 AS MATERIALIZED (SELECT id, CASE WHEN seed
       |  THEN CAST(1 AS DOUBLE)/(SELECT n FROM ns)
       |  ELSE CAST(0 AS DOUBLE) END rank FROM dg),
       |$rounds
       |SELECT -id AS s_suppkey, round(rank*100000000)/100 AS rank_ppm
       |FROM r$iters WHERE id < 0
       |ORDER BY rank_ppm DESC, s_suppkey LIMIT 25""".stripMargin
  }

  /** Unrolled fixed-round PageRank oracle — one (base, ranks) CTE pair per
    * power-iteration round, arithmetic ordered exactly as
    * the [[graft.ops.Graph.pageRankFixed]] round evaluates it ((1-d)/n + d·dang/n,
    * then + d·inflow, doubles throughout) so both engines walk the same
    * float path and the ppm rounding compares clean.
    */
  /** Unrolled fixed-round h-index coreness oracle — one CTE per H-operator
    * round, all-integer arithmetic (no float portability concerns at all).
    * [[graft.ops.Graph.coreness]] iterates to the fixpoint; since applying
    * H at the fixpoint is the identity, any unroll depth ≥ the convergence
    * round count produces the identical table (observed convergence: 10
    * rounds at sf0.01, 5 at sf0.1; adversarial fuzz graphs needed >16, so 32 leaves margin).
    */
  private def kcoreOracle(iters: Int): String = {
    val rounds = (1 to iters).map { k =>
      s"""c$k AS MATERIALIZED (SELECT u AS id, CAST(max(least(rn, nc)) AS BIGINT) c
         |  FROM (SELECT s.u, c${k - 1}.c nc,
         |          row_number() OVER (PARTITION BY s.u ORDER BY c${k - 1}.c DESC) rn
         |        FROM s JOIN c${k - 1} ON s.v = c${k - 1}.id) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT a.l_partkey u, b.l_partkey v
       |      FROM lineitem a JOIN lineitem b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
       |p AS (SELECT CAST(u AS BIGINT) u, CAST(v AS BIGINT) v FROM pr),
       |s AS MATERIALIZED (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
       |c0 AS MATERIALIZED (SELECT u AS id, CAST(count(*) AS BIGINT) c
       |  FROM s GROUP BY 1),
       |$rounds
       |SELECT id AS part, c AS coreness FROM c$iters ORDER BY 1""".stripMargin
  }

  private def pageRankOracle(iters: Int): String = {
    // every CTE is MATERIALIZED: each round reads the previous one twice
    // (dangling + inflow), so DuckDB's default inlining would expand the
    // chain 2^iters times and re-scan the parquet at every leaf
    val rounds = (1 to iters).map { k =>
      s"""b$k AS MATERIALIZED (SELECT (CAST(1 AS DOUBLE)-0.85e0)/nn.n + 0.85e0*dd.dang/nn.n AS base
         |  FROM nn, (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) dang
         |            FROM r${k - 1} r JOIN dg USING (id) WHERE dg.deg IS NULL) dd),
         |r$k AS MATERIALIZED (SELECT v.id, b$k.base + 0.85e0*coalesce(fl.inflow, CAST(0 AS DOUBLE)) AS rank
         |  FROM v CROSS JOIN b$k LEFT JOIN (
         |    SELECT e.dst AS id, sum(r.rank/dg.deg) AS inflow
         |    FROM r${k - 1} r JOIN dg USING (id) JOIN e ON e.src = r.id
         |    WHERE dg.deg IS NOT NULL GROUP BY 1) fl ON v.id = fl.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT CAST(o.o_custkey AS BIGINT) src,
       |             -CAST(l.l_suppkey AS BIGINT) dst
       |           FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
       |nn AS MATERIALIZED (SELECT count(*) n FROM v),
       |dg AS MATERIALIZED (SELECT v.id, d.deg FROM v LEFT JOIN
       |        (SELECT src AS id, CAST(count(*) AS BIGINT) deg
       |         FROM e GROUP BY 1) d USING (id)),
       |r0 AS MATERIALIZED (SELECT id, CAST(1 AS DOUBLE)/(SELECT n FROM nn) AS rank FROM v),
       |$rounds
       |SELECT id, round(rank*100000000)/100 AS rank_ppm
       |FROM r$iters ORDER BY id""".stripMargin
  }

  /** q440 oracle: the q432 SRP-candidate prefix (auto-geometry signatures,
    * capped buckets, exact-cosine verify) feeding the degree-bounded
    * neighbor graph, hub entry points, and `rounds` unrolled beam-search
    * expansions, audited against brute-force truth.
    */
  /** `rounds` beam-expansion CTEs at the given beam width: f/s/v chains
    * named with `sfx`, round 1 reading the shared entry state `v0`.
    */
  private def graphAnnBeamSql(beam: Int, rounds: Int, sfx: String): String =
    (1 to rounds).map { r =>
      val prev = if (r == 1) "v0" else s"v$sfx${r - 1}"
      s"""f$sfx$r AS (SELECT probe_id, cand v FROM (SELECT probe_id, cand,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cos DESC, cand) rn FROM $prev) WHERE rn <= $beam),
         |s$sfx$r AS (SELECT DISTINCT f.probe_id, a.o cand
         |  FROM f$sfx$r f JOIN adj a ON f.v = a.v),
         |v$sfx$r AS MATERIALIZED (SELECT probe_id, cand, max(cos) cos FROM (
         |    SELECT * FROM $prev UNION ALL
         |    SELECT s.probe_id, s.cand, p2.cos FROM s$sfx$r s
         |      JOIN pc p2 ON p2.probe_id = s.probe_id AND p2.cand = s.cand)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")

  private def graphAnnOracle(rounds: Int): String = {
    val beamRounds = graphAnnBeamSql(8, rounds, "")
    s"""WITH ${graphAnnPrefixSql},
       |$beamRounds,
       |bt AS (SELECT probe_id, cand FROM (SELECT probe_id, cand,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, cand) rn
       |  FROM v$rounds WHERE cand <> probe_id) WHERE rn <= 5),
       |nv AS (SELECT probe_id, CAST(count(*) AS BIGINT) n_visited
       |  FROM v$rounds GROUP BY 1),
       |hits AS (SELECT b.probe_id,
       |    CAST(sum(CASE WHEN t.cand IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) n_hit
       |  FROM bt b LEFT JOIN truth t ON b.probe_id = t.probe_id
       |    AND b.cand = t.cand
       |  GROUP BY 1)
       |SELECT h.probe_id, nv.n_visited, h.n_hit,
       |  round(CAST(h.n_hit AS DOUBLE)/5*1000000)/1000000.0 AS recall
       |FROM hits h JOIN nv USING (probe_id) ORDER BY 1""".stripMargin
  }

  /** q441 oracle: the same shared prefix, one beam-CTE chain per width,
    * each aggregated to its sweep row.
    */
  private def graphAnnSweepOracle(rounds: Int, beams: Seq[Int]): String = {
    val chains = beams.map(b => graphAnnBeamSql(b, rounds, s"b$b"))
      .mkString(",\n")
    val perWidth = beams.map { b =>
      s"""SELECT $b beam, CAST(count(*) AS BIGINT) n_probes,
         |  round(CAST(sum(n_hit) AS DOUBLE)/(count(*)*5)*1000000)
         |    /1000000.0 mean_recall,
         |  round(sum(n_visited)/CAST(count(*) AS DOUBLE)*10000)/10000.0
         |    mean_visited
         |FROM (SELECT h.probe_id, h.n_hit, nv.n_visited FROM
         |  (SELECT bb.probe_id,
         |      CAST(sum(CASE WHEN t.cand IS NOT NULL THEN 1 ELSE 0 END)
         |        AS BIGINT) n_hit
         |    FROM (SELECT probe_id, cand FROM (SELECT probe_id, cand,
         |        row_number() OVER (PARTITION BY probe_id
         |          ORDER BY cos DESC, cand) rn
         |      FROM vb$b$rounds WHERE cand <> probe_id) WHERE rn <= 5) bb
         |    LEFT JOIN truth t ON bb.probe_id = t.probe_id
         |      AND bb.cand = t.cand
         |    GROUP BY 1) h
         |  JOIN (SELECT probe_id, CAST(count(*) AS BIGINT) n_visited
         |    FROM vb$b$rounds GROUP BY 1) nv USING (probe_id))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${graphAnnPrefixSql},
       |$chains
       |$perWidth
       |ORDER BY beam""".stripMargin
  }

  /** The shared graph-ANN oracle prefix: SRP auto-geometry candidates,
    * exact-cosine verify, degree-8 adjacency, hub entries, the probe-
    * corpus cosine table, the exact truth, and the entry state v0.
    */
  private def graphAnnPrefixSql: String =
    s"""nn AS (SELECT count(*) n FROM embeddings),
       |geo AS (SELECT coalesce(min(b), 24) bits
       |  FROM (SELECT unnest(generate_series(8, 24)) b) bb, nn
       |  WHERE (CAST(8 AS BIGINT) << b) >= n),
       |pl AS (SELECT p.j, q.d,
       |    md5('srp:'||CAST(p.j AS VARCHAR)||':'||CAST(q.d AS VARCHAR)) h
       |  FROM (SELECT unnest(generate_series(0, 95)) j) p,
       |       (SELECT unnest(generate_series(0, 63)) d) q, geo
       |  WHERE p.j < 4*geo.bits),
       |w AS (SELECT j, d,
       |  CAST((instr('0123456789abcdef', substr(h, 1, 1)) - 1)*1048576 +
       |       (instr('0123456789abcdef', substr(h, 2, 1)) - 1)*65536 +
       |       (instr('0123456789abcdef', substr(h, 3, 1)) - 1)*4096 +
       |       (instr('0123456789abcdef', substr(h, 4, 1)) - 1)*256 +
       |       (instr('0123456789abcdef', substr(h, 5, 1)) - 1)*16 +
       |       (instr('0123456789abcdef', substr(h, 6, 1)) - 1) AS BIGINT)/16777216.0 - 0.5 w
       |  FROM pl),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |ix AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) i, embedding FROM e),
       |xx AS MATERIALIZED (SELECT vec_id, i - 1 d,
       |    CAST(embedding[i] AS DOUBLE) v FROM ix),
       |dots AS (SELECT x.vec_id, w.j, sum(CAST(x.v*w.w AS DECIMAL(18,16))) s
       |         FROM xx x JOIN w ON x.d = w.d GROUP BY 1,2),
       |sigs AS (SELECT vec_id, CAST(floor(j/bits) AS INT) band,
       |           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (j % bits))
       |                         ELSE 0 END) AS BIGINT) sig
       |         FROM dots, geo GROUP BY 1,2),
       |sigc AS (SELECT vec_id, band, sig,
       |           count(*) OVER (PARTITION BY band, sig) bc FROM sigs),
       |capped AS (SELECT vec_id, band, sig FROM sigc WHERE bc <= 1024),
       |cand AS (SELECT a.vec_id vec_a, b.vec_id vec_b
       |         FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
       |           AND a.vec_id < b.vec_id
       |         GROUP BY 1,2 HAVING count(*) >= 1),
       |n AS MATERIALIZED (SELECT vec_id,
       |      sqrt(CAST(sum(CAST(v*v AS DECIMAL(18,16))) AS DOUBLE)) nrm
       |      FROM xx GROUP BY 1),
       |dp AS (SELECT c.vec_a, c.vec_b,
       |         CAST(sum(CAST(xa.v*xb.v AS DECIMAL(18,16))) AS DOUBLE) dot
       |       FROM cand c JOIN xx xa ON xa.vec_id = c.vec_a
       |       JOIN xx xb ON xb.vec_id = c.vec_b AND xa.d = xb.d
       |       GROUP BY 1,2),
       |prs AS (SELECT vec_a, vec_b, round(dot/(na.nrm*nb.nrm), 6) cosine
       |  FROM dp JOIN n na ON vec_a = na.vec_id
       |    JOIN n nb ON vec_b = nb.vec_id
       |  WHERE na.nrm > 0 AND nb.nrm > 0),
       |sym AS (SELECT vec_a v, vec_b o, cosine FROM prs
       |  UNION ALL SELECT vec_b, vec_a, cosine FROM prs),
       |adj AS MATERIALIZED (SELECT v, o FROM (SELECT v, o,
       |    row_number() OVER (PARTITION BY v ORDER BY cosine DESC, o) rn
       |  FROM sym) WHERE rn <= 8),
       |ent AS (SELECT v cand FROM (SELECT v, CAST(count(*) AS BIGINT) deg
       |    FROM adj GROUP BY 1) ORDER BY deg DESC, v LIMIT 4),
       |pc AS MATERIALIZED (SELECT a.vec_id probe_id, b.vec_id cand,
       |    round(CAST(sum(CAST(a.v*b.v AS DECIMAL(18,16))) AS DOUBLE)
       |      /(na.nrm*nb.nrm), 6) cos
       |  FROM xx a JOIN xx b ON a.d = b.d
       |  JOIN n na ON na.vec_id = a.vec_id
       |  JOIN n nb ON nb.vec_id = b.vec_id
       |  WHERE a.vec_id < 10 AND na.nrm > 0 AND nb.nrm > 0
       |  GROUP BY 1, 2, na.nrm, nb.nrm),
       |truth AS (SELECT probe_id, cand FROM (SELECT probe_id, cand,
       |    row_number() OVER (PARTITION BY probe_id
       |      ORDER BY cos DESC, cand) rn
       |  FROM pc WHERE cand <> probe_id) WHERE rn <= 5),
       |v0 AS (SELECT probe_id, cand, cos FROM pc JOIN ent USING (cand))"""
      .stripMargin
}

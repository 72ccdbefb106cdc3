package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analytics.Analytics
import graft.etl.EventsEtl
import graft.multimodal.Multimodal
import graft.text.TextOps
import graft.vector.VectorOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ETL core (reference Part2/Part3 pipeline semantics)
    "q1_agg" -> ((s, d) => Analytics.q1Agg(s, d)),
    "etl_clean_events" -> ((s, d) => EventsEtl.cleanEvents(s, d)),
    "etl_quarantine" -> ((s, d) => EventsEtl.quarantine(s, d)),
    "etl_derive_speed" -> ((s, d) => EventsEtl.deriveSpeed(s, d)),
    "etl_dedup_keyfirst" -> ((s, d) => EventsEtl.dedupKeyFirst(s, d)),
    "etl_service_key" -> ((s, d) => EventsEtl.serviceKeyCounts(s, d)),
    "etl_json_props" -> ((s, d) => EventsEtl.jsonProps(s, d)),
    "etl_cross_validate" -> ((s, d) => EventsEtl.crossValidate(s, d)),
    "q_approx_stats" -> ((s, d) => Analytics.approxStats(s, d)),
    "q_typed_agg" -> ((s, d) => graft.typed.TypedOps.userSummaries(s, d)),
    "q13_custdist" -> ((s, d) => Analytics.custDist(s, d)),
    "q18_large_orders" -> ((s, d) => Analytics.largeOrders(s, d)),
    // Analytics (reference Part3 queries + relational breadth)
    "q_trip_view" -> ((s, d) => Analytics.tripView(s, d)),
    "q_latest_trace" -> ((s, d) => Analytics.latestTrace(s, d)),
    "q_time_window" -> ((s, d) => Analytics.timeWindow(s, d)),
    "q_threshold_scan" -> ((s, d) => Analytics.thresholdScan(s, d)),
    "q_trip_trace" -> ((s, d) => Analytics.tripTrace(s, d)),
    "q_heatmap" -> ((s, d) => Analytics.heatmapGrid(s, d)),
    "q_trace_downsample" -> ((s, d) => Analytics.traceDownsample(s, d)),
    "q3_shipping" -> ((s, d) => Analytics.q3Shipping(s, d)),
    "q5_region" -> ((s, d) => Analytics.q5Region(s, d)),
    "q_semi_join" -> ((s, d) => Analytics.semiJoin(s, d)),
    "q_anti_join" -> ((s, d) => Analytics.antiJoin(s, d)),
    "q_topn_pergroup" -> ((s, d) => Analytics.topnPerGroup(s, d)),
    "q_topk_custom" -> ((s, d) => Analytics.topkCustom(s, d)),
    "q_rollup" -> ((s, d) => Analytics.rollupAgg(s, d)),
    "q_grouping_sets" -> ((s, d) => Analytics.groupingSetsAgg(s, d)),
    "q_set_ops" -> ((s, d) => Analytics.setOps(s, d)),
    "q_ntile" -> ((s, d) => Analytics.ntileProfile(s, d)),
    "q_corr_moments" -> ((s, d) => Analytics.corrMoments(s, d)),
    "q_pivot" -> ((s, d) => Analytics.pivotAgg(s, d)),
    "q_running_agg" -> ((s, d) => Analytics.runningAgg(s, d)),
    "q_sessionize" -> ((s, d) => Analytics.sessionize(s, d)),
    "q_sessionize_scale" -> ((s, d) => Analytics.sessionizeScalable(s, d)),
    "q_windowed_agg" -> ((s, d) => Analytics.windowedAgg(s, d)),
    "q_asof_join" -> ((s, d) => Analytics.asofJoin(s, d)),
    "q_session_window" -> ((s, d) => Analytics.sessionWindow(s, d)),
    "q_percentiles" -> ((s, d) => Analytics.percentiles(s, d)),
    "q_anomaly" -> ((s, d) => Analytics.robustAnomalies(s, d)),
    "q_forecast" -> ((s, d) => Analytics.forecastEval(s, d)),
    "q_cube" -> ((s, d) => Analytics.cubeAgg(s, d)),
    "q_unpivot" -> ((s, d) => Analytics.unpivotMeasures(s, d)),
    "q_windowed_distinct" -> ((s, d) => Analytics.windowedDistinct(s, d)),
    "q_moving_agg" -> ((s, d) => Analytics.movingAgg(s, d)),
    "q_arg_extremes" -> ((s, d) => Analytics.argExtremes(s, d)),
    "q_histogram" -> ((s, d) => Analytics.histogram(s, d)),
    "q_range_join" -> ((s, d) => Analytics.rangeJoinBinned(s, d)),
    "q_skew_join" -> ((s, d) => Analytics.skewJoinAgg(s, d)),
    "q_correlated_avg" -> ((s, d) => Analytics.correlatedAvg(s, d)),
    "q_nested_semi" -> ((s, d) => Analytics.nestedSemiJoin(s, d)),
    "q_streaks" -> ((s, d) => Analytics.activityStreaks(s, d)),
    "q_funnel" -> ((s, d) => Analytics.funnel(s, d)),
    "q_retention" -> ((s, d) => Analytics.retention(s, d)),
    "q_markov" -> ((s, d) => Analytics.markovTransitions(s, d)),
    "q_bloom_join" -> ((s, d) => graft.ops.BloomJoin.bloomPrunedRevenue(s, d)),
    "q_heavy_hitters" -> ((s, d) => graft.ops.HeavyHitters.heavyWords(s, d)),
    "q_pagerank" -> ((s, d) => graft.ops.PageRank.pageRank(s, d)),
    "q_degree_dist" -> ((s, d) => graft.ops.PageRank.degreeDist(s, d)),
    "q_bfs_hops" -> ((s, d) => graft.ops.PageRank.bfsHops(s, d)),
    "q_concurrency" -> ((s, d) => graft.analytics.TemporalOps.concurrency(s, d)),
    "q_decay_score" -> ((s, d) => graft.analytics.TemporalOps.decayedScore(s, d)),
    "q_interval_merge" -> ((s, d) => graft.analytics.TemporalOps.intervalMerge(s, d)),
    "q_mode" -> ((s, d) => Analytics.modePerUser(s, d)),
    "q_triangles" -> ((s, d) => graft.ops.Triangles.triangleCount(s, d)),
    "q_kcore" -> ((s, d) => graft.ops.Triangles.kCore(s, d)),
    "etl_profile" -> ((s, d) => EventsEtl.profileColumns(s, d)),
    "etl_debounce" -> ((s, d) => EventsEtl.debounce(s, d)),
    "q_attribution" -> ((s, d) => Analytics.attribution(s, d)),
    "q_winsorize" -> ((s, d) => Analytics.winsorize(s, d)),
    "q_paths" -> ((s, d) => Analytics.pathMining(s, d)),
    "q_wow_change" -> ((s, d) => Analytics.weekOverWeek(s, d)),
    "q_gini" -> ((s, d) => Analytics.giniConcentration(s, d)),
    "q_ab_test" -> ((s, d) => Analytics.abTest(s, d)),
    "q_burst_detect" -> ((s, d) => Analytics.burstDetect(s, d)),
    "etl_dq_rules" -> ((s, d) => EventsEtl.dqRules(s, d)),
    "etl_kanon" -> ((s, d) => EventsEtl.kAnonymity(s, d)),
    "etl_disorder" -> ((s, d) => EventsEtl.disorderAudit(s, d)),
    "q_changepoint" -> ((s, d) => Analytics.changepoint(s, d)),
    "text_dup_coverage" -> ((s, d) => TextOps.dupCoverage(s, d)),
    "mm_phash" -> ((s, d) => Multimodal.phashPairs(s, d)),
    "q_skew_profile" -> ((s, d) => Analytics.skewProfile(s, d)),
    "q_basket_lift" -> ((s, d) => graft.ops.Baskets.basketLift(s, d)),
    "q_sketch_rollup" -> ((s, d) => Analytics.sketchRollup(s, d)),
    "q_sketch_rollup_check" -> ((s, d) => Analytics.sketchRollupCheck(s, d)),
    "q_asof_nearest" -> ((s, d) => Analytics.asofNearest(s, d)),
    "q_anomaly_mad" -> ((s, d) => Analytics.anomalyMad(s, d)),
    "etl_incremental_agg" -> ((s, d) => EventsEtl.incrementalAgg(s, d)),
    "etl_reconcile" -> ((s, d) => EventsEtl.reconcileKeys(s, d)),
    "layout_zorder" -> ((s, d) => Analytics.zorderLayout(s, d)),
    "etl_backfill_gaps" -> ((s, d) => EventsEtl.backfillGaps(s, d)),
    "etl_scd2" -> ((s, d) => EventsEtl.scd2History(s, d)),
    "etl_scd2_join" -> ((s, d) => EventsEtl.scd2Join(s, d)),
    // LLM-data-pipeline: dedup / text analysis (graft.text)
    "dedup_exact" -> ((s, d) => TextOps.dedupExact(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => TextOps.dedupNgramJaccard(s, d)),
    "dedup_prefix_join" -> ((s, d) => TextOps.jaccardPairsPrefix(s, d)),
    "dedup_cluster" -> ((s, d) => TextOps.dedupCluster(s, d)),
    "dedup_minhash" -> ((s, d) => TextOps.dedupMinhash(s, d)),
    "dedup_minhash_arith" -> ((s, d) => TextOps.dedupMinhashArith(s, d)),
    "dedup_simhash" -> ((s, d) => TextOps.dedupSimhash(s, d)),
    "dedup_simhash_arith" -> ((s, d) => TextOps.dedupSimhashArith(s, d)),
    "dedup_simhash128" -> ((s, d) => TextOps.dedupSimhash128(s, d)),
    "text_langid" -> ((s, d) => TextOps.langId(s, d)),
    "text_quality" -> ((s, d) => TextOps.quality(s, d)),
    "text_tokens" -> ((s, d) => TextOps.tokenCounts(s, d)),
    "text_fingerprint" -> ((s, d) => TextOps.fingerprint(s, d)),
    "text_rollhash" -> ((s, d) => TextOps.rollingFingerprint(s, d)),
    "text_winnow" -> ((s, d) => TextOps.winnow(s, d)),
    "dedup_winnow" -> ((s, d) => TextOps.dedupWinnow(s, d)),
    "text_redact" -> ((s, d) => TextOps.redactPii(s, d)),
    "text_ngram_freq" -> ((s, d) => TextOps.ngramFreq(s, d)),
    "text_c4_filter" -> ((s, d) => TextOps.c4Filter(s, d)),
    // Corpus preparation (graft.text.CorpusOps)
    "text_chunk" -> ((s, d) => graft.text.CorpusOps.chunkDocs(s, d)),
    "seq_pack" -> ((s, d) => graft.text.CorpusOps.seqPack(s, d)),
    "sample_stratified" -> ((s, d) => graft.text.CorpusOps.sampleStratified(s, d)),
    "text_contamination" -> ((s, d) => graft.text.CorpusOps.contamination(s, d)),
    "text_salience" -> ((s, d) => graft.text.CorpusOps.termSalience(s, d)),
    "text_oov" -> ((s, d) => graft.text.CorpusOps.oovRate(s, d)),
    "text_repetition" -> ((s, d) => graft.text.CorpusOps.repetition(s, d)),
    "corpus_mix" -> ((s, d) => graft.text.CorpusOps.corpusMix(s, d)),
    "text_bpe_pairs" -> ((s, d) => graft.text.CorpusOps.bpePairs(s, d)),
    "text_bpe_encode" -> ((s, d) => graft.text.CorpusOps.bpeEncode(s, d)),
    "sample_weighted" -> ((s, d) => graft.text.CorpusOps.sampleWeighted(s, d)),
    "q_global_rank" -> ((s, d) => Analytics.globalRank(s, d)),
    "text_bm25" -> ((s, d) => graft.text.CorpusOps.bm25(s, d)),
    "text_pmi" -> ((s, d) => graft.text.CorpusOps.pmiCollocations(s, d)),
    "text_diversity" -> ((s, d) => graft.text.CorpusOps.lexicalDiversity(s, d)),
    "text_zipf" -> ((s, d) => graft.text.CorpusOps.zipfProfile(s, d)),
    "dedup_incremental" -> ((s, d) => TextOps.dedupIncremental(s, d)),
    "dedup_keep_best" -> ((s, d) => graft.text.Curation.dedupKeepBest(s, d)),
    "dedup_eval" -> ((s, d) => TextOps.dedupEval(s, d)),
    "dedup_truth_guard" -> ((s, d) => TextOps.dedupTruthGuard(s, d)),
    "dedup_eval_sampled" -> ((s, d) => TextOps.dedupEvalSampled(s, d)),
    "corpus_split" -> ((s, d) => graft.text.Curation.leakageSafeSplit(s, d)),
    "corpus_curate" -> ((s, d) => graft.text.Curation.curate(s, d)),
    "corpus_shard" -> ((s, d) => graft.text.Curation.globalShuffleShards(s, d)),
    // Similarity search / vector stats (graft.vector)
    "ann_bruteforce" -> ((s, d) => VectorOps.annBruteForce(s, d)),
    "ann_lsh" -> ((s, d) => VectorOps.annLsh(s, d)),
    "ann_ivf" -> ((s, d) => VectorOps.annIvf(s, d)),
    "ann_ivf_probe" -> ((s, d) => VectorOps.annIvfProbe(s, d)),
    "ann_pq" -> ((s, d) => VectorOps.annPq(s, d)),
    "ann_ivfpq" -> ((s, d) => VectorOps.annIvfPq(s, d)),
    "ann_eval" -> ((s, d) => VectorOps.annEval(s, d)),
    "ann_graph" -> ((s, d) => VectorOps.annGraphNsw(s, d)),
    "ann_graph_prebuilt" -> ((s, d) => VectorOps.annGraphNswPrebuilt(s, d)),
    "q_rfm" -> ((s, d) => Analytics.rfmSegmentation(s, d)),
    "vec_stats" -> ((s, d) => VectorOps.vecStats(s, d)),
    "vec_quantize" -> ((s, d) => VectorOps.vecQuantize(s, d)),
    "vec_rp" -> ((s, d) => VectorOps.randomProjection(s, d)),
    "vec_rp_eval" -> ((s, d) => VectorOps.rpRetrievalEval(s, d)),
    "vec_centroid" -> ((s, d) => VectorOps.vecCentroid(s, d)),
    "vec_gram" -> ((s, d) => VectorOps.vecGram(s, d)),
    "vec_knn_graph" -> ((s, d) => VectorOps.vecKnnGraph(s, d)),
    "vec_knn_graph_ann" -> ((s, d) => VectorOps.vecKnnGraphAnn(s, d)),
    "vec_knn_graph_ann_auto" -> ((s, d) => VectorOps.vecKnnGraphAnnAuto(s, d)),
    "vec_mrl_eval" -> ((s, d) => VectorOps.mrlEval(s, d)),
    "sample_diverse" -> ((s, d) => VectorOps.sampleDiverse(s, d)),
    "dedup_embedding" -> ((s, d) => VectorOps.dedupEmbedding(s, d)),
    // Multimodal binary-column plumbing (graft.multimodal)
    "mm_meta" -> ((s, d) => Multimodal.mediaMeta(s, d)),
    "mm_dedup" -> ((s, d) => Multimodal.mediaDedup(s, d)),
    "mm_decode" -> ((s, d) => Multimodal.decodeFeatures(s, d)),
    "mm_resize" -> ((s, d) => Multimodal.resizePlan(s, d)),
    "mm_frames" -> ((s, d) => Multimodal.sampleFrames(s, d)),
    "mm_scene_change" -> ((s, d) => Multimodal.sceneChanges(s, d)),
    "mm_batch_infer" -> ((s, d) => Multimodal.batchInfer(s, d)),
    "mm_retrieval" -> ((s, d) => Multimodal.crossModalSearch(s, d)),
    // Fuzzy-key record linkage (graft.ops.RecordLinkage)
    "dedup_editdist" -> ((s, d) => graft.ops.RecordLinkage.editDistancePairs(s, d)),
    "text_containment" -> ((s, d) => TextOps.containmentPairs(s, d)),
    "text_containment_capped" -> ((s, d) => TextOps.containmentPairsCapped(s, d, 64L)),
    "text_span_dedup" -> ((s, d) => TextOps.spanDedup(s, d)),
    "text_classifier" -> ((s, d) => TextOps.qualityClassifier(s, d)),
    "text_novelty" -> ((s, d) => TextOps.noveltyCurve(s, d)),
    "q_interpolate" -> ((s, d) => graft.analytics.TemporalOps.interpolate(s, d)),
    "q_benford" -> ((s, d) => Analytics.benfordAudit(s, d)),
    "q_disjunctive" -> ((s, d) => Analytics.disjunctiveJoin(s, d)),
    "q_weighted_median" -> ((s, d) => Analytics.weightedMedian(s, d)),
    "text_tfidf" -> ((s, d) => TextOps.tfidfPairs(s, d)),
    "text_tfidf_capped" -> ((s, d) => TextOps.tfidfPairsCapped(s, d, 64L)),
    "vec_pca" -> ((s, d) => VectorOps.vecPca(s, d)),
    "vec_pca_check" -> ((s, d) => VectorOps.vecPcaCheck(s, d)),
    "text_top_quality" -> ((s, d) => TextOps.topQualityPerLang(s, d)),
    "q_funnel_time" -> ((s, d) => Analytics.funnelTime(s, d)),
    "text_lm_score" -> ((s, d) => TextOps.lmScore(s, d)),
    "vec_kmeans" -> ((s, d) => VectorOps.vecKmeans(s, d)),
    "etl_variant" -> ((s, d) => EventsEtl.variantProps(s, d)),
    "ann_mips" -> ((s, d) => VectorOps.annMips(s, d)),
    "ann_bq" -> ((s, d) => VectorOps.annBq(s, d)),
    "dedup_semantic" -> ((s, d) => VectorOps.semanticDedup(s, d)),
    "q_sketch_quantiles" -> ((s, d) => Analytics.sketchQuantiles(s, d)),
    "q_theta_sketch" -> ((s, d) => Analytics.thetaSetAlgebra(s, d)),
    "q_theta_retention" -> ((s, d) => Analytics.thetaRetention(s, d)),
    "dedup_bloom" -> ((s, d) => TextOps.dedupBloom(s, d)),
    "text_gopher" -> ((s, d) => TextOps.gopherRules(s, d)),
    "corpus_dsir" -> ((s, d) => graft.text.CorpusOps.dsirWeights(s, d)),
    "q_trip_summary" -> ((s, d) => Analytics.tripSummary(s, d)),
    // Model-eval / data-monitoring (graft.analytics.MlEval)
    "q_auc" -> ((s, d) => graft.analytics.MlEval.aucScore(s, d)),
    "q_calibration" -> ((s, d) => graft.analytics.MlEval.calibration(s, d)),
    "q_drift" -> ((s, d) => graft.analytics.MlEval.drift(s, d)),
    "vec_knn_classify" -> ((s, d) => VectorOps.knnClassify(s, d)),
    "vec_outliers" -> ((s, d) => VectorOps.vecOutliers(s, d)),
    "text_readability" -> ((s, d) => TextOps.readability(s, d)),
    "dedup_sweep" -> ((s, d) => TextOps.dedupSweep(s, d)),
    "q_spatial_join" -> ((s, d) => graft.ops.SpatialJoin.spatialNeighbors(s, d)),
    "q_spatial_auto" -> ((s, d) => graft.ops.SpatialJoin.spatialNeighborsAuto(s, d)),
    "text_filter_cascade" -> ((s, d) => TextOps.filterCascade(s, d)),
    "text_textrank" -> ((s, d) => graft.text.TextRank.keywords(s, d)),
    "q_pr_auc" -> ((s, d) => graft.analytics.MlEval.prAuc(s, d)),
    "q_ks_stat" -> ((s, d) => graft.analytics.MlEval.ksStat(s, d)),
    "q_gains" -> ((s, d) => graft.analytics.MlEval.gains(s, d)),
    "q_confusion" -> ((s, d) => graft.analytics.MlEval.confusion(s, d)),
    "q_link_predict" -> ((s, d) => graft.ops.LinkPredict.linkPredict(s, d)),
    "vec_cluster_eval" -> ((s, d) => VectorOps.clusterEval(s, d)),
    "q_clamped_balance" -> ((s, d) => Analytics.clampedBalance(s, d)),
    "q_bootstrap" -> ((s, d) => Analytics.bootstrap(s, d)),
    "q_ts_cv_folds" -> ((s, d) => Analytics.tsCvFolds(s, d)),
    "q_value_share" -> ((s, d) => Analytics.valueShare(s, d)),
    "q_late_blame" -> ((s, d) => Analytics.lateBlame(s, d)),
    "q_dormant_rich" -> ((s, d) => Analytics.dormantRich(s, d)),
    "ann_rrf" -> ((s, d) => VectorOps.annRrf(s, d)),
    "corpus_interleave" -> ((s, d) => graft.text.Curation.interleave(s, d)),
    "q_overlap_join" -> ((s, d) => Analytics.overlapJoin(s, d)),
    "q_twap" -> ((s, d) => Analytics.twap(s, d)),
    "q_hhi" -> ((s, d) => Analytics.hhi(s, d)),
    "corpus_budget" -> ((s, d) => graft.text.CorpusOps.tokenBudget(s, d)),
    "text_langid_eval" -> ((s, d) => TextOps.langidEval(s, d)),
    "q_cohort_ltv" -> ((s, d) => Analytics.cohortLtv(s, d)),
    "dedup_cross_source" -> ((s, d) => TextOps.crossSourceDup(s, d)),
    "mm_dedup_cluster" -> ((s, d) => graft.multimodal.Multimodal.dedupCluster(s, d)),
    "q_min_cost" -> ((s, d) => Analytics.minCostSupplier(s, d)),
    "q_top_supplier" -> ((s, d) => Analytics.topSupplier(s, d)),
    "q_parts_supp" -> ((s, d) => Analytics.partsSuppCount(s, d)),
    "q_active_users" -> ((s, d) => Analytics.activeUsers(s, d)),
    "dedup_banding_eval" -> ((s, d) => TextOps.bandingEval(s, d)),
    "q_shortest_path" -> ((s, d) => graft.ops.PageRank.shortestPath(s, d)),
    "q_f1_sweep" -> ((s, d) => graft.analytics.MlEval.f1Sweep(s, d)),
    "vec_drift" -> ((s, d) => graft.vector.VectorOps.vecDrift(s, d)),
    "q_order_priority" -> ((s, d) => Analytics.orderPriority(s, d)),
    "q_new_returning" -> ((s, d) => Analytics.newVsReturning(s, d)),
    "q_top_percent" -> ((s, d) => Analytics.topPercentPerGroup(s, d)),
    // rows-only by design: DBSCAN cluster identity is a transitive
    // closure; on the percolated sf0.1 plane the closure relation is
    // ~10⁷ pairs — unbounded for the oracle engine's recursive CTE,
    // exactly the regime the distributed CC loop exists for. Spec-gated
    // (MlEvalSpec: sequential DBSCAN equality at sf0.001, R=200).
    // The entry runs R=60: density scales with SF, and R=200 at sf0.1
    // merges the whole plane into one near-giant component — a
    // degenerate single-cluster answer, not a clustering; R=60 keeps
    // components bounded (~10³ nodes) at the bench SF, which is the
    // regime the operator is FOR.
    "q_dbscan" -> ((s, d) => graft.ops.SpatialJoin.dbscan(s, d, rCents = 60L)),
    // the SAME code path on a mod-8-thinned plane: small enough for the
    // DuckDB recursive-CTE closure, so cluster identity is oracled
    "q_dbscan_small" -> ((s, d) =>
      graft.ops.SpatialJoin.dbscan(s, d, rCents = 200L, minPts = 4L, sampleMod = 8L)),
    // density-ADAPTIVE radius (the fixed-R scale-killer's answer): R
    // derived from one profiling aggregate so per-cell occupancy — and
    // emitted pairs per point — stay constant at every density. Same
    // mod-8 plane as the small twin; the oracle replays the derivation.
    "q_dbscan_auto" -> ((s, d) =>
      graft.ops.SpatialJoin.dbscanAuto(s, d, targetOcc = 2L, minPts = 4L, sampleMod = 8L)),
    "q14_promo" -> ((s, d) => Analytics.promoShare(s, d)),
    "q10_returns" -> ((s, d) => Analytics.returnedRevenue(s, d)),
    "q7_volume" -> ((s, d) => Analytics.nationVolume(s, d)),
    "q6_forecast" -> ((s, d) => Analytics.forecastRevenue(s, d)),
    "q8_mktshare" -> ((s, d) => Analytics.marketShare(s, d)),
    "q9_profit" -> ((s, d) => Analytics.productProfit(s, d)),
    "q12_latesplit" -> ((s, d) => Analytics.lateShipmentSplit(s, d)),
    "q19_brand_ranges" -> ((s, d) => Analytics.brandRangeRevenue(s, d)),
    "corpus_epochs" -> ((s, d) => graft.text.CorpusOps.epochAssign(s, d)),
    "q_skyline" -> ((s, d) => Analytics.skyline(s, d)),
    "q_quintile_shift" -> ((s, d) => Analytics.quintileShift(s, d)),
    "q_allocation" -> ((s, d) => Analytics.allocation(s, d)),
    "q_sql_topk" -> ((s, d) => Analytics.sqlTopK(s, d)),
    "q_lead_time" -> ((s, d) => Analytics.leadTime(s, d)),
    "text_heaps" -> ((s, d) => graft.text.CorpusOps.heapsCurve(s, d)),
    "dedup_length_profile" -> ((s, d) => TextOps.dedupLengthProfile(s, d)),
    "q_week_profile" -> ((s, d) => Analytics.weekProfile(s, d)),
    "q_pareto" -> ((s, d) => Analytics.pareto8020(s, d)),
    "linkage_cluster" -> ((s, d) => graft.ops.RecordLinkage.linkageCluster(s, d)),
    "q_user_features" -> ((s, d) => Analytics.userFeatures(s, d)),
  )

  /** DuckDB oracle SQL per query (same parquet tables registered under
    * their bare names). Column aliases MUST match the Spark output. */
  /** Morton interleave written out as portable SQL bit arithmetic
    * (bit b of zx → curve bit 2b, bit b of zy → curve bit 2b+1) —
    * the oracle twin of the codegen'd `zorder2` expression. */
  private val zInterleaveSql: String = (0 until 16).map { b =>
    s"(((zx >> $b) & 1) * ${1L << (2 * b)}) + (((zy >> $b) & 1) * ${1L << (2 * b + 1)})"
  }.mkString(" + ")

  /** k-core peeling unrolled to the SAME 40-round cap the Spark loop
    * enforces (Triangles.kCore throws past 40, so whenever the Spark
    * side succeeds this fixed unroll has provably reached the
    * fixpoint — extra rounds past convergence are idempotent).
    * MATERIALIZED stops DuckDB from inlining the chain exponentially. */
  private val kCoreOracleSql: String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |und AS MATERIALIZED (SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING count(*) >= 2),
        |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und)""".stripMargin
    val rounds = (0 until 40).map { r =>
      s"""k$r AS MATERIALIZED (SELECT src FROM e$r GROUP BY src HAVING count(*) >= 3),
         |e${r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$r e JOIN k$r x ON e.src = x.src JOIN k$r y ON e.dst = y.src)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      "\nSELECT src AS node, count(*) AS core_degree FROM e40 GROUP BY src ORDER BY node"
  }

  /** The distributed k-means trainer replayed exactly: per-iteration
    * cell sums are INTEGER micros (floor(v·1e6+0.5) — order-free, so
    * SQL SUM reproduces them bit-exactly), centroids re-derive through
    * the same s/n/1e6 double division chain, and the argmin assignment
    * uses the same left-to-right (e[i]−c[i])² fold with ties to the
    * lowest cell index (row_number ASC,c ASC == NearestCell's strict
    * `<`). Eight unrolled Lloyd iterations, init = first 8 vectors by
    * vec_id — the whole iterative FP pipeline, DuckDB-verified. */
  /** argmin cell assignment against centroid relation `centRel` —
    * row_number(dist ASC, c ASC) == NearestCell's strict-`<` lowest-
    * index tie rule; the dist fold is the same left-to-right
    * (e[i]−c[i])² accumulation as the codegen'd kernel. */
  private def kmeansArgminSql(centRel: String): String =
    s"""    SELECT ev.vec_id, $centRel.c,
       |      row_number() OVER (PARTITION BY ev.vec_id ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, $centRel.c ASC) AS rn
       |    FROM ev, $centRel""".stripMargin

  /** The distributed k-means trainer ([[graft.vector.VectorOps]]
    * kmeansFit) replayed exactly in SQL: per-iteration cell sums are
    * INTEGER micros (floor(v·1e6+0.5) — order-free, so SQL SUM
    * reproduces them bit-exactly), centroids re-derive through the
    * same s/n/1e6 double division chain, and assignments reuse
    * [[kmeansArgminSql]]. Produces CTEs ev/mvp/c0..c{iters}; the
    * caller appends its consumer stages against c{iters}. */
  private def kmeansCtesSql(iters: Int, k: Int): String = {
    val head =
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |mvp AS MATERIALIZED (
         |  SELECT vec_id, unnest(generate_series(1, len(e))) AS pos,
         |    CAST(floor(unnest(e)*1000000.0 + 0.5) AS BIGINT) AS mm FROM ev),
         |c0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, e AS cl FROM (SELECT * FROM ev ORDER BY vec_id LIMIT $k))""".stripMargin
    val rounds = (0 until iters).map { it =>
      s"""a$it AS MATERIALIZED (
         |  SELECT vec_id, c FROM (
         |${kmeansArgminSql(s"c$it")}) WHERE rn = 1),
         |cn$it AS MATERIALIZED (
         |  SELECT c, list(CAST(s AS DOUBLE)/CAST(n AS DOUBLE)/1000000.0 ORDER BY pos) AS cl FROM (
         |    SELECT a.c, t.pos, sum(t.mm) AS s, count(*) AS n
         |    FROM mvp t JOIN a$it a ON a.vec_id = t.vec_id GROUP BY a.c, t.pos) GROUP BY c),
         |c${it + 1} AS MATERIALIZED (
         |  SELECT ci.c, COALESCE(cn.cl, ci.cl) AS cl FROM c$it ci LEFT JOIN cn$it cn ON ci.c = cn.c)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private val vecKmeansOracleSql: String =
    kmeansCtesSql(iters = 8, k = 8) +
      s""",
         |fin AS (
         |  SELECT vec_id, CAST(c AS INTEGER) AS cluster FROM (
         |${kmeansArgminSql("c8")}) WHERE rn = 1),
         |sz AS (SELECT cluster, count(*) AS cluster_n FROM fin GROUP BY cluster)
         |SELECT f.vec_id, f.cluster, sz.cluster_n FROM fin f JOIN sz USING (cluster) ORDER BY f.vec_id""".stripMargin

  /** sampleDiverse replayed: 6-round trainer, then the same
    * ‖x‖²−2x·c+‖c‖² sequential-fold distance in integer micros and the
    * (dist ASC, vec_id ASC) per-cell top-4 the heap operator selects. */
  private val sampleDiverseOracleSql: String =
    kmeansCtesSql(iters = 6, k = 8) +
      s""",
         |cc AS MATERIALIZED (
         |  SELECT c, cl,
         |    list_reduce(list_prepend(0.0, list_transform(cl, x -> x*x)), (x,y) -> x+y) AS c2
         |  FROM c6),
         |asg AS (
         |  SELECT vec_id, c AS cell, cl, c2 FROM (
         |    SELECT ev.vec_id, cc.c, cc.cl, cc.c2,
         |      row_number() OVER (PARTITION BY ev.vec_id ORDER BY
         |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, cc.c ASC) AS rn
         |    FROM ev, cc) WHERE rn = 1),
         |dst AS (
         |  SELECT a.vec_id, a.cell,
         |    CAST(floor((
         |      list_reduce(list_prepend(0.0, list_transform(ev.e, x -> x*x)), (x,y) -> x+y)
         |      - 2 * list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(a.cl)), ix -> ev.e[ix]*a.cl[ix])), (x,y) -> x+y)
         |      + a.c2) * 1000000.0 + 0.5) AS BIGINT) AS dist_micro
         |  FROM asg a JOIN ev ON ev.vec_id = a.vec_id),
         |rk AS (
         |  SELECT vec_id, cell, dist_micro,
         |    row_number() OVER (PARTITION BY cell ORDER BY dist_micro ASC, vec_id ASC) AS cell_rank
         |  FROM dst)
         |SELECT vec_id, cell, dist_micro, cell_rank FROM rk WHERE cell_rank <= 4 ORDER BY cell, cell_rank""".stripMargin

  /** semanticDedup replayed: 4-round trainer, every same-cluster pair
    * scored directly (the block partitioning only schedules WHERE pairs
    * meet, never WHICH pairs exist, so the oracle skips it), min-id
    * dup_of verdicts. */
  private val dedupSemanticOracleSql: String =
    kmeansCtesSql(iters = 4, k = 8) +
      s""",
         |asg AS MATERIALIZED (
         |  SELECT vec_id, CAST(c AS INTEGER) AS cluster FROM (
         |${kmeansArgminSql("c4")}) WHERE rn = 1),
         |nv AS MATERIALIZED (
         |  SELECT a.vec_id, a.cluster, ev.e,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(ev.e, x -> x*x)), (x,y) -> x+y)) AS nrm
         |  FROM asg a JOIN ev ON ev.vec_id = a.vec_id),
         |pr AS (
         |  SELECT least(a.vec_id, b.vec_id) AS lo_id, greatest(a.vec_id, b.vec_id) AS hi_id
         |  FROM nv a JOIN nv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE a.nrm > 0 AND b.nrm > 0
         |    AND round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) >= 0.45),
         |dup AS (SELECT hi_id AS vec_id, min(lo_id) AS dup_of FROM pr GROUP BY hi_id)
         |SELECT a.vec_id, a.cluster,
         |  CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep, d.dup_of
         |FROM asg a LEFT JOIN dup d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin

  /** The IVF coarse-quantizer trainer (VectorOps.trainCentroids →
    * lloyd) replayed exactly: the bounded sample is the first 4096
    * vectors by vec_id, init picks rows (j·n)/k, and — the part that
    * looks impossible but isn't — the PLAIN DOUBLE centroid sums
    * replay bit-exactly because lloyd accumulates them in sample-row
    * order, which `list(val ORDER BY rn0)` + a left fold reproduces
    * term for term (IEEE determinism: same values, same order, same
    * result). Assignment ties to the lowest index like NearestCell.
    * Emits CTEs ev/smp/sp/t0..t{iters}. */
  private def lloydCtesSql(iters: Int, k: Int): String = {
    val head =
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |smp AS MATERIALIZED (
         |  SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) - 1 AS rn0,
         |    count(*) OVER () AS n
         |  FROM (SELECT * FROM ev ORDER BY vec_id LIMIT 4096)),
         |sp AS MATERIALIZED (
         |  SELECT vec_id, rn0, unnest(generate_series(1, len(e))) AS pos, unnest(e) AS val FROM smp),
         |t0 AS MATERIALIZED (
         |  SELECT g.j AS c, smp.e AS cl FROM generate_series(0, ${k - 1}) g(j)
         |  JOIN smp ON smp.rn0 = (g.j * smp.n) // $k)""".stripMargin
    (head +: lloydRoundsSql(iters)).mkString(",\n")
  }

  /** The VARIABLE-k trainer replay (VectorOps.vecKnnGraphAnnAuto):
    * identical Lloyd rounds, but the cell count derives IN SQL from
    * the norm-filtered corpus count — integer-ceiling division clamped
    * to [1, 4096], the exact `deriveNlist` arithmetic — and the init
    * CTE draws k rows by filtering a constant 4096-row series against
    * the derived value. Emits the extra CTE `kk(k)` for the final
    * select to surface as the oracle-checked `nlist` column. */
  private def lloydCtesVarKSql(iters: Int, targetOcc: Long): String = {
    val head =
      s"""WITH ev AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |kk AS MATERIALIZED (
         |  SELECT CAST(greatest(1, least(4096, (count(*) + ${targetOcc - 1}) // $targetOcc)) AS BIGINT) AS k
         |  FROM ev
         |  WHERE list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x,y) -> x+y) > 0),
         |smp AS MATERIALIZED (
         |  SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) - 1 AS rn0,
         |    count(*) OVER () AS n
         |  FROM (SELECT * FROM ev ORDER BY vec_id LIMIT 4096)),
         |sp AS MATERIALIZED (
         |  SELECT vec_id, rn0, unnest(generate_series(1, len(e))) AS pos, unnest(e) AS val FROM smp),
         |t0 AS MATERIALIZED (
         |  SELECT g.j AS c, smp.e AS cl FROM generate_series(0, 4095) g(j)
         |  JOIN kk ON g.j < kk.k
         |  JOIN smp ON smp.rn0 = (g.j * smp.n) // kk.k)""".stripMargin
    (head +: lloydRoundsSql(iters)).mkString(",\n")
  }

  /** One Lloyd round as CTE text (assign → per-cell ordered-fold mean
    * → carry-forward for empty cells) — k-independent: the round
    * operates on however many rows t{it} holds. */
  private def lloydRoundsSql(iters: Int): Seq[String] =
    (0 until iters).map { it =>
      s"""sa$it AS MATERIALIZED (
         |  SELECT vec_id, rn0, c FROM (
         |    SELECT smp.vec_id, smp.rn0, t$it.c,
         |      row_number() OVER (PARTITION BY smp.vec_id ORDER BY
         |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t$it.c ASC) AS rn
         |    FROM smp, t$it) WHERE rn = 1),
         |sn$it AS MATERIALIZED (
         |  SELECT c, list(m ORDER BY pos) AS cl FROM (
         |    SELECT a.c, sp.pos,
         |      list_reduce(list_prepend(0.0, list(sp.val ORDER BY sp.rn0)), (x,y) -> x+y) / CAST(count(*) AS DOUBLE) AS m
         |    FROM sp JOIN sa$it a ON a.vec_id = sp.vec_id GROUP BY a.c, sp.pos) GROUP BY c),
         |t${it + 1} AS MATERIALIZED (
         |  SELECT ti.c, COALESCE(sn.cl, ti.cl) AS cl FROM t$it ti LEFT JOIN sn$it sn ON ti.c = sn.c)""".stripMargin
    }

  /** norm-filtered corpus assignment against the final IVF centroids
    * (shared tail of the two IVF oracles) */
  private val ivfAssignSql: String =
    """nv AS MATERIALIZED (
      |  SELECT vec_id, e, sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x,y) -> x+y)) AS nrm
      |  FROM ev),
      |asg AS MATERIALIZED (
      |  SELECT vec_id, e, nrm, c AS cell FROM (
      |    SELECT nv.vec_id, nv.e, nv.nrm, t10.c,
      |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
      |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
      |    FROM nv, t10 WHERE nv.nrm > 0) WHERE rn = 1)""".stripMargin

  private val annIvfOracleSql: String =
    lloydCtesSql(iters = 10, k = 16) + ",\n" + ivfAssignSql +
      """,
        |pr AS (
        |  SELECT q.vec_id AS query_id, CAST(q.cell AS INTEGER) AS cell, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |  FROM asg q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT pr.*, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM pr)
        |SELECT query_id, cell, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  private val annIvfProbeOracleSql: String =
    lloydCtesSql(iters = 10, k = 16) + ",\n" + ivfAssignSql +
      """,
        |qp AS MATERIALIZED (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, c AS cell FROM (
        |    SELECT nv.vec_id, nv.e, nv.nrm, t10.c,
        |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM nv, t10 WHERE nv.vec_id < 10 AND nv.nrm > 0) WHERE rn <= 3),
        |pr AS (
        |  SELECT DISTINCT q.query_id, q.qe, q.qn, c.vec_id AS neighbor_id, c.e AS ce, c.nrm AS cn
        |  FROM qp q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.query_id),
        |sc AS (
        |  SELECT query_id, neighbor_id, round(list_dot_product(qe, ce) / (qn * cn), 6) AS cos FROM pr),
        |r AS (SELECT sc.*, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sc)
        |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** the approximate k-NN graph replayed end to end: same trainer and
    * probe machinery as the IVF oracles, but EVERY vector queries its
    * 3 probed cells; ranking/mutual tail identical to the exact graph */
  private val vecKnnGraphAnnOracleSql: String =
    lloydCtesSql(iters = 10, k = 16) + ",\n" + ivfAssignSql +
      """,
        |qp AS MATERIALIZED (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, c AS cell FROM (
        |    SELECT nv.vec_id, nv.e, nv.nrm, t10.c,
        |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM nv, t10 WHERE nv.nrm > 0) WHERE rn <= 3),
        |sc AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, round(list_dot_product(qe, ce) / (qn * cn), 6) AS cos FROM (
        |    SELECT DISTINCT q.query_id, q.qe, q.qn, c.vec_id AS neighbor_id, c.e AS ce, c.nrm AS cn
        |    FROM qp q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.query_id)),
        |tk AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc QUALIFY rank <= 5)
        |SELECT a.query_id, a.rank, a.neighbor_id, a.cos,
        |  (b.query_id IS NOT NULL) AS mutual
        |FROM tk a LEFT JOIN tk b
        |  ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id
        |ORDER BY a.query_id, a.rank""".stripMargin

  /** The TWO-LEVEL assignment replay (graft.functions.TwoLevel): the
    * g = ⌈√k⌉ super slots pick centroids by integer stride ⌊i·k/g⌋,
    * every centroid joins its nearest super's group (its own slot if
    * it IS a super — COALESCE order), and each vector ranks only the
    * members of its min(4, g) nearest groups. Same (distance, index)
    * orderings and IEEE left-fold sums as the engine's tight loops, so
    * the routed assignment — not just the flat argmin it replaces —
    * is hash-checked. Emits asg (home cell) and qp (3 probes). */
  private val ivfAssignTlSql: String =
    """nv AS MATERIALIZED (
      |  SELECT vec_id, e, sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x,y) -> x+y)) AS nrm
      |  FROM ev),
      |gg AS MATERIALIZED (
      |  SELECT CAST(greatest(1, ceil(sqrt(CAST(k AS DOUBLE)))) AS BIGINT) AS g, k FROM kk),
      |sup AS MATERIALIZED (
      |  SELECT gs.i AS si, t10.c AS sc, t10.cl AS scl
      |  FROM generate_series(0, 4095) gs(i) JOIN gg ON gs.i < gg.g
      |  JOIN t10 ON t10.c = (gs.i * gg.k) // gg.g),
      |cnear AS MATERIALIZED (
      |  SELECT c, si FROM (
      |    SELECT t10.c, sup.si,
      |      row_number() OVER (PARTITION BY t10.c ORDER BY
      |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(scl)), ix -> (cl[ix]-scl[ix])*(cl[ix]-scl[ix]))), (x,y) -> x+y) ASC, sup.si ASC) AS rn
      |    FROM t10, sup) WHERE rn = 1),
      |cgrp AS MATERIALIZED (
      |  SELECT t10.c, COALESCE(own.si, cnear.si) AS grp
      |  FROM t10 LEFT JOIN (SELECT min(si) AS si, sc FROM sup GROUP BY sc) own ON own.sc = t10.c
      |  LEFT JOIN cnear ON cnear.c = t10.c),
      |pc AS MATERIALIZED (
      |  SELECT z.vec_id, z.si FROM (
      |    SELECT nv.vec_id, sup.si,
      |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
      |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(scl)), ix -> (e[ix]-scl[ix])*(e[ix]-scl[ix]))), (x,y) -> x+y) ASC, sup.si ASC) AS rn
      |    FROM nv, sup WHERE nv.nrm > 0) z JOIN gg ON z.rn <= least(4, gg.g)),
      |cand AS MATERIALIZED (
      |  SELECT pc.vec_id, cgrp.c FROM pc JOIN cgrp ON cgrp.grp = pc.si),
      |fine AS MATERIALIZED (
      |  SELECT nv.vec_id, nv.e, nv.nrm, t10.c,
      |    row_number() OVER (PARTITION BY nv.vec_id ORDER BY
      |      list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
      |  FROM nv JOIN cand ON cand.vec_id = nv.vec_id JOIN t10 ON t10.c = cand.c
      |  WHERE nv.nrm > 0),
      |asg AS MATERIALIZED (
      |  SELECT vec_id, e, nrm, c AS cell FROM fine WHERE rn = 1),
      |qp AS MATERIALIZED (
      |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, c AS cell
      |  FROM fine WHERE rn <= 3)""".stripMargin

  /** `vec_knn_graph_ann_auto` replayed end to end: the variable-k
    * trainer CTEs (k derived from the corpus count inside SQL), the
    * TWO-LEVEL routed assignment (`ivfAssignTlSql`), the same
    * rank/mutual tail as the fixed-nlist oracle, and the derived k
    * surfaced as the `nlist` column so the DERIVATION is hash-checked
    * alongside the graph built from it. */
  private val vecKnnGraphAnnAutoOracleSql: String =
    lloydCtesVarKSql(iters = 10, targetOcc = 128L) + ",\n" + ivfAssignTlSql +
      """,
        |sc AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, round(list_dot_product(qe, ce) / (qn * cn), 6) AS cos FROM (
        |    SELECT DISTINCT q.query_id, q.qe, q.qn, c.vec_id AS neighbor_id, c.e AS ce, c.nrm AS cn
        |    FROM qp q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.query_id)),
        |tk AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM sc QUALIFY rank <= 5)
        |SELECT a.query_id, a.rank, a.neighbor_id, a.cos,
        |  (b.query_id IS NOT NULL) AS mutual, kk.k AS nlist
        |FROM tk a LEFT JOIN tk b
        |  ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id, kk
        |ORDER BY a.query_id, a.rank""".stripMargin

  /** The NSW-lite graph traversal replayed end to end, parameterized
    * exactly like the engine walk (r11 — the (probes, beam, hops, k)
    * default moved to the measured sweep knee): MULTI-probe IVF
    * seeding when `probes` > 1 (the annIvfProbe CTEs — each query's
    * top-3 over its `probes` nearest cells), then each bounded-beam
    * hop as a CTE pair — `ed{h}` derives the exact top-`k` neighbor
    * rows for the nodes the walk touched (vec_knn_graph's rows for
    * those sources, computed on demand: the touched set is ≤
    * queries·beam, so this is a bounded scan, never the n² graph),
    * `beam{h}` reranks beam ∪ neighbors by exact cosine and prunes to
    * `beam`. Deterministic rounding/tie-breaks make the whole walk —
    * not just its output shape — hash-checked. */
  private def annGraphOracleSqlFor(probes: Int, beam: Int, hops: Int,
      k: Int, edgesFrom: Option[String] = None, pre: String = ""): String = {
    val seed =
      if (probes <= 1)
        """qrs AS MATERIALIZED (
          |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM nv
          |  WHERE vec_id < 10 AND nrm > 0),
          |ent AS MATERIALIZED (
          |  SELECT query_id, neighbor_id AS node FROM (
          |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
          |        round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC, c.vec_id) AS rk
          |    FROM asg q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.vec_id
          |    WHERE q.vec_id < 10) WHERE rk <= 3)""".stripMargin
      else
        s"""qrs AS MATERIALIZED (
           |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM nv
           |  WHERE vec_id < 10 AND nrm > 0),
           |gqp AS MATERIALIZED (
           |  SELECT vec_id AS query_id, e AS qe, nrm AS qn, c AS cell FROM (
           |    SELECT nv.vec_id, nv.e, nv.nrm, t10.c,
           |      row_number() OVER (PARTITION BY nv.vec_id ORDER BY
           |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
           |    FROM nv, t10 WHERE nv.vec_id < 10 AND nv.nrm > 0) WHERE rn <= $probes),
           |ent AS MATERIALIZED (
           |  SELECT query_id, neighbor_id AS node FROM (
           |    SELECT query_id, neighbor_id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
           |    FROM (SELECT query_id, neighbor_id,
           |            round(list_dot_product(qe, ce) / (qn * cn), 6) AS cos
           |          FROM (SELECT DISTINCT q.query_id, q.qe, q.qn, c.vec_id AS neighbor_id,
           |                  c.e AS ce, c.nrm AS cn
           |                FROM gqp q JOIN asg c ON q.cell = c.cell AND c.vec_id <> q.query_id)))
           |  WHERE rk <= 3)""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      val src = if (h == 1) "ent" else s"beam${h - 1}"
      // ed{h}: the touched nodes' neighbor lists — derived on demand
      // (exact top-k over nv, the self-contained entry) or read from a
      // caller-supplied prebuilt edge CTE (the serving shape), exactly
      // mirroring annGraphNsw's prebuiltEdges branch
      val edgeCte = edgesFrom match {
        case Some(e) =>
          s"""ed$h AS MATERIALIZED (
             |  SELECT g.src, g.dst FROM $e g
             |  JOIN (SELECT DISTINCT node FROM $src) t ON g.src = t.node),""".stripMargin
        case None =>
          s"""ed$h AS MATERIALIZED (
             |  SELECT node AS src, vid AS dst FROM (
             |    SELECT t.node, v.vec_id AS vid,
             |      row_number() OVER (PARTITION BY t.node ORDER BY
             |        round(list_dot_product(u.e, v.e) / (u.nrm * v.nrm), 6) DESC, v.vec_id) AS rk
             |    FROM (SELECT DISTINCT node FROM $src) t
             |    JOIN nv u ON u.vec_id = t.node AND u.nrm > 0
             |    JOIN nv v ON v.vec_id <> t.node AND v.nrm > 0)
             |  WHERE rk <= $k),""".stripMargin
      }
      s"""$edgeCte
         |cand$h AS (
         |  SELECT DISTINCT query_id, node FROM (
         |    SELECT query_id, node FROM $src
         |    UNION ALL
         |    SELECT e.query_id, d.dst AS node FROM $src e JOIN ed$h d ON d.src = e.node)
         |  WHERE node <> query_id),
         |beam$h AS MATERIALIZED (
         |  SELECT query_id, node, cos FROM (
         |    SELECT c.query_id, c.node,
         |      round(list_dot_product(q.qe, v.e) / (q.qn * v.nrm), 6) AS cos,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY
         |        round(list_dot_product(q.qe, v.e) / (q.qn * v.nrm), 6) DESC, c.node) AS rk
         |    FROM cand$h c JOIN qrs q ON q.query_id = c.query_id
         |    JOIN nv v ON v.vec_id = c.node)
         |  WHERE rk <= $beam)""".stripMargin
    }
    // `pre` (prebuilt mode): a self-contained CTE chain — e.g. the
    // pb-prefixed ann-auto graph build — spliced in FRONT of the walk's
    // own chain, directly after WITH (its names are prefixed to avoid
    // colliding with the trainer/seed CTEs here)
    val walkChain =
      (Seq(lloydCtesSql(iters = 10, k = 16) + ",\n" + ivfAssignSql, seed) ++ hopCtes)
        .mkString(",\n")
    val chain =
      if (pre.isEmpty) walkChain
      else "WITH " + pre + ",\n" + walkChain.stripPrefix("WITH ")
    chain +
      s"""
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, node AS neighbor_id, cos FROM (
         |  SELECT query_id, node, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rank
         |  FROM beam$hops)
         |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  private val annGraphOracleSql: String =
    annGraphOracleSqlFor(probes = 3, beam = 24, hops = 3, k = 12)

  /** Prefix every CTE name of the variable-k trainer + two-level
    * assignment chain so it can be spliced next to the walk's own
    * (fixed-k) trainer chain without name collisions. The rename list
    * is every `<name> AS MATERIALIZED` the fragment defines; \b keeps
    * t1/t10 and sa1/sa10 distinct, and no column name in the fragments
    * collides with a CTE name. */
  private def prefixCtes(sql: String, prefix: String): String =
    """(\w+) AS MATERIALIZED""".r.findAllMatchIn(sql).map(_.group(1))
      .foldLeft(sql)((s, n) => s.replaceAll("\\b" + n + "\\b", prefix + n))

  /** `ann_graph_prebuilt` replayed end to end: the ann-auto k = 12
    * graph build (variable-k trainer + two-level routed assignment +
    * every-vector 3-probe scoring, exactly `vecKnnGraphAnnAutoOracleSql`
    * with rank ≤ 12 and only (src, dst) kept), pb-prefixed so it
    * coexists with the walk's own fixed-k seeding chain, then the
    * identical NSW walk whose per-hop `ed{h}` reads the prebuilt edge
    * table instead of deriving exact neighbors — mirroring
    * VectorOps.annGraphNswPrebuilt operator for operator. */
  private val annGraphPrebuiltOracleSql: String = {
    val graphChain = prefixCtes(
      lloydCtesVarKSql(iters = 10, targetOcc = 128L).stripPrefix("WITH ") +
        ",\n" + ivfAssignTlSql, "pb")
    val edgeTail =
      """pbsc AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, round(list_dot_product(qe, ce) / (qn * cn), 6) AS cos FROM (
        |    SELECT DISTINCT q.query_id, q.qe, q.qn, c.vec_id AS neighbor_id, c.e AS ce, c.nrm AS cn
        |    FROM pbqp q JOIN pbasg c ON q.cell = c.cell AND c.vec_id <> q.query_id)),
        |pbedges AS MATERIALIZED (
        |  SELECT query_id AS src, neighbor_id AS dst FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |    FROM pbsc) WHERE rank <= 12)""".stripMargin
    annGraphOracleSqlFor(probes = 3, beam = 24, hops = 3, k = 12,
      edgesFrom = Some("pbedges"), pre = graphChain + ",\n" + edgeTail)
  }

  /** The PQ codebook trainer (8 subspaces × 16 Lloyd centroids over
    * the unit-normalized sample) replayed as ONE 10-round chain keyed
    * by subspace j — same ordered-fold trick as [[lloydCtesSql]], the
    * float cast after unit normalization included (CAST twice: to
    * FLOAT then back — IEEE rounding is engine-independent). Emits
    * un/smp/sv/sp/t0..t10 (t rows keyed (j, c)). */
  private val pqCtesSql: String = {
    val head =
      """WITH ev AS MATERIALIZED (SELECT vec_id, embedding AS ef, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nv AS MATERIALIZED (
        |  SELECT vec_id, ef, e, sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x,y) -> x+y)) AS nrm FROM ev),
        |un AS MATERIALIZED (
        |  SELECT vec_id, ef, e, nrm,
        |    CASE WHEN nrm = 0 THEN ef
        |         ELSE list_transform(e, x -> CAST(x / nrm AS FLOAT)) END AS usn
        |  FROM nv),
        |smp AS MATERIALIZED (
        |  SELECT vec_id, usn, row_number() OVER (ORDER BY vec_id) - 1 AS rn0, count(*) OVER () AS n
        |  FROM (SELECT * FROM un ORDER BY vec_id LIMIT 4096)),
        |sv AS MATERIALIZED (
        |  SELECT vec_id, rn0, j, list_transform(generate_series(1, 8), i -> CAST(usn[j*8+i] AS DOUBLE)) AS sl
        |  FROM smp, generate_series(0, 7) g(j)),
        |sp AS MATERIALIZED (
        |  SELECT vec_id, rn0, j, unnest(generate_series(1, 8)) AS pos, unnest(sl) AS val FROM sv),
        |t0 AS MATERIALIZED (
        |  SELECT g.j, h.c, list_transform(generate_series(1, 8), i -> CAST(smp.usn[g.j*8+i] AS DOUBLE)) AS cl
        |  FROM generate_series(0, 7) g(j), generate_series(0, 15) h(c)
        |  JOIN smp ON smp.rn0 = (h.c * smp.n) // 16)""".stripMargin
    val rounds = (0 until 10).map { it =>
      s"""sa$it AS MATERIALIZED (
         |  SELECT vec_id, rn0, j, c FROM (
         |    SELECT sv.vec_id, sv.rn0, sv.j, t$it.c,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY
         |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), ix -> (sl[ix]-cl[ix])*(sl[ix]-cl[ix]))), (x,y) -> x+y) ASC, t$it.c ASC) AS rn
         |    FROM sv JOIN t$it ON sv.j = t$it.j) WHERE rn = 1),
         |sn$it AS MATERIALIZED (
         |  SELECT j, c, list(m ORDER BY pos) AS cl FROM (
         |    SELECT a.j, a.c, sp.pos,
         |      list_reduce(list_prepend(0.0, list(sp.val ORDER BY sp.rn0)), (x,y) -> x+y) / CAST(count(*) AS DOUBLE) AS m
         |    FROM sp JOIN sa$it a ON a.vec_id = sp.vec_id AND a.j = sp.j GROUP BY a.j, a.c, sp.pos) GROUP BY j, c),
         |t${it + 1} AS MATERIALIZED (
         |  SELECT ti.j, ti.c, COALESCE(sn.cl, ti.cl) AS cl FROM t$it ti LEFT JOIN sn$it sn ON ti.j = sn.j AND ti.c = sn.c)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private val annPqOracleSql: String =
    pqCtesSql +
      """,
        |cvs AS MATERIALIZED (
        |  SELECT vec_id, ef, e, nrm,
        |    j, list_transform(generate_series(1, 8), i -> CAST(CAST(e[j*8+i] / greatest(nrm, 1e-30) AS FLOAT) AS DOUBLE)) AS sl
        |  FROM un, generate_series(0, 7) g(j) WHERE nrm > 0),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT cvs.vec_id, cvs.j, t10.c,
        |      row_number() OVER (PARTITION BY cvs.vec_id, cvs.j ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), ix -> (sl[ix]-cl[ix])*(sl[ix]-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM cvs JOIN t10 ON cvs.j = t10.j) WHERE rn = 1),
        |qt AS MATERIALIZED (
        |  SELECT u.vec_id AS query_id, t.j, t.c,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), ix -> (CAST(u.usn[t.j*8+ix] AS DOUBLE)-cl[ix])*(CAST(u.usn[t.j*8+ix] AS DOUBLE)-cl[ix]))), (x,y) -> x+y) AS dist
        |  FROM un u, t10 t WHERE u.vec_id < 10 AND u.nrm > 0),
        |adc AS MATERIALIZED (
        |  SELECT q.query_id, cd.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(0.0, list(q.dist ORDER BY q.j)), (x,y) -> x+y) AS adc_dist
        |  FROM qt q JOIN codes cd ON cd.j = q.j AND cd.code = q.c
        |  WHERE cd.vec_id <> q.query_id
        |  GROUP BY q.query_id, cd.vec_id HAVING count(*) = 8),
        |sl32 AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        |  FROM adc QUALIFY adc_rank <= 32),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id, round(s.adc_dist, 6) AS adc_dist,
        |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |  FROM sl32 s JOIN nv q ON q.vec_id = s.query_id JOIN nv c ON c.vec_id = s.neighbor_id
        |  WHERE q.nrm > 0),
        |fin AS (
        |  SELECT query_id, neighbor_id, cos, adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM rr QUALIFY rank <= 3)
        |SELECT query_id, rank, neighbor_id, cos, adc_dist FROM fin ORDER BY query_id, rank""".stripMargin

  /** IVF+PQ replayed in full: the coarse 16-cell Lloyd over the RAW
    * sample, residual encoding (unit-norm − cell centroid, float-cast
    * like the Spark side), the 8×16 residual codebooks as a second
    * subspace-keyed Lloyd chain, per-(query, probed-cell) ADC tables
    * with the exact ((q−c)−b)² parenthesization, ordered ADC folds,
    * and the two-stage shortlist→rerank tail. */
  private val annIvfPqOracleSql: String = {
    val coarseHead =
      """WITH ev AS MATERIALIZED (SELECT vec_id, embedding AS ef, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nv AS MATERIALIZED (
        |  SELECT vec_id, ef, e, sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x,y) -> x+y)) AS nrm FROM ev),
        |un AS MATERIALIZED (
        |  SELECT vec_id, ef, e, nrm,
        |    CASE WHEN nrm = 0 THEN ef ELSE list_transform(e, x -> CAST(x / nrm AS FLOAT)) END AS usn
        |  FROM nv),
        |smp AS MATERIALIZED (
        |  SELECT vec_id, e, usn, row_number() OVER (ORDER BY vec_id) - 1 AS rn0, count(*) OVER () AS n
        |  FROM (SELECT * FROM un ORDER BY vec_id LIMIT 4096)),
        |sp AS MATERIALIZED (
        |  SELECT vec_id, rn0, unnest(generate_series(1, len(e))) AS pos, unnest(e) AS val FROM smp),
        |t0 AS MATERIALIZED (
        |  SELECT g.j AS c, smp.e AS cl FROM generate_series(0, 15) g(j)
        |  JOIN smp ON smp.rn0 = (g.j * smp.n) // 16)""".stripMargin
    val coarseRounds = (0 until 10).map { it =>
      s"""sa$it AS MATERIALIZED (
         |  SELECT vec_id, rn0, c FROM (
         |    SELECT smp.vec_id, smp.rn0, t$it.c,
         |      row_number() OVER (PARTITION BY smp.vec_id ORDER BY
         |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (e[ix]-cl[ix])*(e[ix]-cl[ix]))), (x,y) -> x+y) ASC, t$it.c ASC) AS rn
         |    FROM smp, t$it) WHERE rn = 1),
         |sn$it AS MATERIALIZED (
         |  SELECT c, list(m ORDER BY pos) AS cl FROM (
         |    SELECT a.c, sp.pos,
         |      list_reduce(list_prepend(0.0, list(sp.val ORDER BY sp.rn0)), (x,y) -> x+y) / CAST(count(*) AS DOUBLE) AS m
         |    FROM sp JOIN sa$it a ON a.vec_id = sp.vec_id GROUP BY a.c, sp.pos) GROUP BY c),
         |t${it + 1} AS MATERIALIZED (
         |  SELECT ti.c, COALESCE(sn.cl, ti.cl) AS cl FROM t$it ti LEFT JOIN sn$it sn ON ti.c = sn.c)""".stripMargin
    }
    val residualHead =
      """rsm AS MATERIALIZED (
        |  SELECT s.vec_id, s.rn0, s.n,
        |    list_transform(generate_series(1, len(s.usn)), i -> CAST(CAST(s.usn[i] AS DOUBLE) - tc.cl[i] AS FLOAT)) AS res
        |  FROM (
        |    SELECT smp.*, t10.c AS cell,
        |      row_number() OVER (PARTITION BY smp.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (CAST(usn[ix] AS DOUBLE)-cl[ix])*(CAST(usn[ix] AS DOUBLE)-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM smp, t10) s
        |  JOIN t10 tc ON tc.c = s.cell WHERE s.rn = 1),
        |rsv AS MATERIALIZED (
        |  SELECT vec_id, rn0, j, list_transform(generate_series(1, 8), i -> CAST(res[j*8+i] AS DOUBLE)) AS sl
        |  FROM rsm, generate_series(0, 7) g(j)),
        |rsp AS MATERIALIZED (
        |  SELECT vec_id, rn0, j, unnest(generate_series(1, 8)) AS pos, unnest(sl) AS val FROM rsv),
        |rt0 AS MATERIALIZED (
        |  SELECT g.j, h.c, list_transform(generate_series(1, 8), i -> CAST(rsm.res[g.j*8+i] AS DOUBLE)) AS cl
        |  FROM generate_series(0, 7) g(j), generate_series(0, 15) h(c)
        |  JOIN rsm ON rsm.rn0 = (h.c * rsm.n) // 16)""".stripMargin
    val residualRounds = (0 until 10).map { it =>
      s"""ra$it AS MATERIALIZED (
         |  SELECT vec_id, rn0, j, c FROM (
         |    SELECT rsv.vec_id, rsv.rn0, rsv.j, rt$it.c,
         |      row_number() OVER (PARTITION BY rsv.vec_id, rsv.j ORDER BY
         |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), ix -> (sl[ix]-cl[ix])*(sl[ix]-cl[ix]))), (x,y) -> x+y) ASC, rt$it.c ASC) AS rn
         |    FROM rsv JOIN rt$it ON rsv.j = rt$it.j) WHERE rn = 1),
         |rn$it AS MATERIALIZED (
         |  SELECT j, c, list(m ORDER BY pos) AS cl FROM (
         |    SELECT a.j, a.c, rsp.pos,
         |      list_reduce(list_prepend(0.0, list(rsp.val ORDER BY rsp.rn0)), (x,y) -> x+y) / CAST(count(*) AS DOUBLE) AS m
         |    FROM rsp JOIN ra$it a ON a.vec_id = rsp.vec_id AND a.j = rsp.j GROUP BY a.j, a.c, rsp.pos) GROUP BY j, c),
         |rt${it + 1} AS MATERIALIZED (
         |  SELECT ti.j, ti.c, COALESCE(rn.cl, ti.cl) AS cl FROM rt$it ti LEFT JOIN rn$it rn ON ti.j = rn.j AND ti.c = rn.c)""".stripMargin
    }
    val tail =
      """cvv AS MATERIALIZED (
        |  SELECT u.vec_id, u.e, u.nrm, s.cell,
        |    list_transform(generate_series(1, len(u.usn)), i -> CAST(CAST(u.usn[i] AS DOUBLE) - tc.cl[i] AS FLOAT)) AS res
        |  FROM un u
        |  JOIN (
        |    SELECT un.vec_id, t10.c AS cell,
        |      row_number() OVER (PARTITION BY un.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (CAST(usn[ix] AS DOUBLE)-cl[ix])*(CAST(usn[ix] AS DOUBLE)-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM un, t10 WHERE un.nrm > 0) s ON s.vec_id = u.vec_id AND s.rn = 1
        |  JOIN t10 tc ON tc.c = s.cell),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, cell, j, c AS code FROM (
        |    SELECT cv.vec_id, cv.cell, g.j, rt10.c,
        |      row_number() OVER (PARTITION BY cv.vec_id, g.j ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8), ix -> (CAST(cv.res[g.j*8+ix] AS DOUBLE)-cl[ix])*(CAST(cv.res[g.j*8+ix] AS DOUBLE)-cl[ix]))), (x,y) -> x+y) ASC, rt10.c ASC) AS rn
        |    FROM cvv cv, generate_series(0, 7) g(j) JOIN rt10 ON rt10.j = g.j) WHERE rn = 1),
        |qcells AS MATERIALIZED (
        |  SELECT vec_id AS query_id, usn, cell FROM (
        |    SELECT un.vec_id, un.usn, t10.c AS cell,
        |      row_number() OVER (PARTITION BY un.vec_id ORDER BY
        |        list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(cl)), ix -> (CAST(usn[ix] AS DOUBLE)-cl[ix])*(CAST(usn[ix] AS DOUBLE)-cl[ix]))), (x,y) -> x+y) ASC, t10.c ASC) AS rn
        |    FROM un, t10 WHERE un.vec_id < 10 AND un.nrm > 0) WHERE rn <= 3),
        |qtab AS MATERIALIZED (
        |  SELECT q.query_id, q.cell, rc.j, rc.c,
        |    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 8),
        |      ix -> ((CAST(q.usn[rc.j*8+ix] AS DOUBLE) - tc.cl[rc.j*8+ix]) - rc.cl[ix])*((CAST(q.usn[rc.j*8+ix] AS DOUBLE) - tc.cl[rc.j*8+ix]) - rc.cl[ix]))), (x,y) -> x+y) AS dist
        |  FROM qcells q JOIN t10 tc ON tc.c = q.cell, rt10 rc),
        |adc AS MATERIALIZED (
        |  SELECT q.query_id, cd.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(0.0, list(q.dist ORDER BY q.j)), (x,y) -> x+y) AS adc_dist
        |  FROM qtab q JOIN codes cd ON cd.cell = q.cell AND cd.j = q.j AND cd.code = q.c
        |  WHERE cd.vec_id <> q.query_id
        |  GROUP BY q.query_id, cd.vec_id HAVING count(*) = 8),
        |sl32 AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS adc_rank
        |  FROM adc QUALIFY adc_rank <= 32),
        |rr AS (
        |  SELECT s.query_id, s.neighbor_id, round(s.adc_dist, 6) AS adc_dist,
        |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |  FROM sl32 s JOIN nv q ON q.vec_id = s.query_id JOIN nv c ON c.vec_id = s.neighbor_id
        |  WHERE q.nrm > 0),
        |fin AS (
        |  SELECT query_id, neighbor_id, cos, adc_dist,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        |  FROM rr QUALIFY rank <= 3)
        |SELECT query_id, rank, neighbor_id, cos, adc_dist FROM fin ORDER BY query_id, rank""".stripMargin
    ((coarseHead +: coarseRounds) ++ (residualHead +: residualRounds)).mkString(",\n") + ",\n" + tail
  }

  /** the PRODUCTION MinHash pipeline hash-oracled end to end: DuckDB
    * recomputes Spark's xxhash64 per distinct shingle
    * ([[OracleSqlGen.xxh64Sql]]), replays the LCG permutation stream
    * (seed 42) in HUGEINT, rebuilds all 128 signature slots, buckets
    * by the SAME Murmur3 band hash (`hash()` over 4 slots,
    * [[OracleSqlGen.murmurLongStep]]), and verifies candidates with
    * the exact hashed-shingle Jaccard. */
  /** shared prefix of the xxhash-MinHash oracles: shingles, xxh64
    * shingle hashes, the replayed LCG permutation stream, and the 128
    * signature slots (CTEs w/s/hx/shx/lcg/perms/sigs) */
  private def minhashSigsCtesSql(docsRel: String = "documents"): String = {
    val hsh = OracleSqlGen.xxh64Sql("(SELECT DISTINCT unnest(shingles) AS sh FROM s)", "sh", 42L)
    s"""WITH w AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
       |    x -> x <> '') AS words FROM $docsRel),
       |s AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
       |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
       |  FROM w WHERE len(words) >= 3),
       |hx AS MATERIALIZED ($hsh),
       |shx AS MATERIALIZED (
       |  SELECT sd.doc_id, hx.h AS xh, ((hx.h % 2147483647) + 2147483647) % 2147483647 AS x
       |  FROM (SELECT doc_id, unnest(shingles) AS sh FROM s) sd JOIN hx ON hx.s = sd.sh),
       |lcg AS (
       |  WITH RECURSIVE l(k, st) AS (
       |    SELECT 0, 42::HUGEINT
       |    UNION ALL
       |    SELECT k+1, (st * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT
       |    FROM l WHERE k < 256)
       |  SELECT k, (st // 8589934592::HUGEINT)::BIGINT AS v FROM l WHERE k >= 1),
       |perms AS MATERIALIZED (
       |  SELECT (a.k - 1) // 2 AS i,
       |    a.v % 2147483646 + 1 AS pa, b.v % 2147483647 AS pb
       |  FROM lcg a JOIN lcg b ON b.k = a.k + 1 WHERE a.k % 2 = 1),
       |sigs AS MATERIALIZED (
       |  SELECT doc_id, i, min((pa * x + pb) % 2147483647) AS v
       |  FROM shx, perms GROUP BY doc_id, i)""".stripMargin
  }


  /** The PRODUCTION near-dup pair set replayed end to end — the shared
    * oracle for every operator that consumes `TextOps.jaccardPairsFrom`
    * (cluster labels, keep-best, splits, curation, source matrix,
    * length profile, sweep, the eval truths). Candidates are the same
    * three saturating arms as the engine: pairs sharing a df≤64
    * shingle hash, verbatim-identical sorted shingle lists, and
    * MinHash-LSH 32×4 banded pairs over the replayed 128-perm
    * signatures (r10 — the arm that closes the 394/4590 sf1 residual);
    * the exact hashed-shingle verify at `thrSql` makes looser
    * candidates value-neutral. Emits (after [[minhashSigsCtesSql]]'s
    * w/s/hx/shx/lcg/perms/sigs and the staged band-fold CTEs)
    * `ppairs(a_id, b_id, jaccard, j_ppm)`. Callers needing recursion
    * downstream prefix the whole text with WITH RECURSIVE. */
  private def prodPairsCtesSql(docsRel: String = "documents",
      thrSql: String = "0.5"): String =
    minhashSigsCtesSql(docsRel) + ",\n" +
    OracleSqlGen.murmurBandCtesSql("pb_", "sigs", 4) +
    s""",
       |pb_cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pb_bands a JOIN pb_bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |pp_ns AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM s),
       |pp_dftab AS MATERIALIZED (SELECT xh, count(*) AS df FROM shx GROUP BY xh),
       |pp_cap AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM shx a JOIN shx b ON a.xh = b.xh AND a.doc_id < b.doc_id
       |  JOIN pp_dftab d ON d.xh = a.xh WHERE d.df <= 64),
       |pp_dlst AS MATERIALIZED (SELECT doc_id, list(xh ORDER BY xh) AS lx FROM shx GROUP BY doc_id),
       |pp_v AS MATERIALIZED (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM pp_dlst a JOIN pp_dlst b ON a.lx = b.lx AND a.doc_id < b.doc_id),
       |pp_candu AS MATERIALIZED (
       |  SELECT a_id, b_id FROM pp_cap UNION SELECT a_id, b_id FROM pp_v
       |  UNION SELECT a_id, b_id FROM pb_cand),
       |ppairs AS MATERIALIZED (
       |  SELECT a_id, b_id,
       |    round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) AS jaccard,
       |    inter * 1000000 // (a_n + b_n - inter) AS j_ppm
       |  FROM (
       |    SELECT c.a_id, c.b_id, na.n_sh AS a_n, nb.n_sh AS b_n,
       |      len(list_intersect(la.lx, lb.lx)) AS inter
       |    FROM pp_candu c
       |    JOIN pp_dlst la ON la.doc_id = c.a_id JOIN pp_dlst lb ON lb.doc_id = c.b_id
       |    JOIN pp_ns na ON na.doc_id = c.a_id JOIN pp_ns nb ON nb.doc_id = c.b_id)
       |  WHERE round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) >= $thrSql)""".stripMargin

  private val dedupMinhashOracleSql: String = {
    minhashSigsCtesSql() + ",\n" +
    OracleSqlGen.murmurBandCtesSql("mh_", "sigs", 4) +
    s""",
       |bands AS (SELECT * FROM mh_bands),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |ns AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM s),
       |iv AS (
       |  SELECT c.a_id AS ia, c.b_id AS ib, count(*) AS inter
       |  FROM cand c JOIN shx ea ON ea.doc_id = c.a_id JOIN shx eb ON eb.doc_id = c.b_id AND eb.xh = ea.xh
       |  GROUP BY c.a_id, c.b_id)
       |SELECT c.a_id, c.b_id,
       |  round(COALESCE(iv.inter,0) / CAST(na.n_sh + nb.n_sh - COALESCE(iv.inter,0) AS DOUBLE), 6) AS jaccard
       |FROM cand c
       |JOIN ns na ON na.doc_id = c.a_id JOIN ns nb ON nb.doc_id = c.b_id
       |LEFT JOIN iv ON iv.ia = c.a_id AND iv.ib = c.b_id
       |WHERE round(COALESCE(iv.inter,0) / CAST(na.n_sh + nb.n_sh - COALESCE(iv.inter,0) AS DOUBLE), 6) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** the banding S-curve report replayed: four (bands × rows) configs
    * banded over the SAME replayed signatures with the same Murmur3
    * bucket hash, scored against the exact hashed-shingle Jaccard
    * truth in integer ppm */
  private val dedupBandingEvalOracleSql: String = {
    val cfgCtes = Seq((32, 4), (16, 8), (8, 16), (4, 32)).map { case (b, r) =>
      OracleSqlGen.murmurBandCtesSql(s"bb${r}_", "sigs", r) +
      s""",
         |cand_$r AS MATERIALIZED (
         |  SELECT DISTINCT $b AS n_bands, $r AS rows_per_band, a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bb${r}_bands a JOIN bb${r}_bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)""".stripMargin
    }.mkString(",\n")
    minhashSigsCtesSql() +
    s""",
       |$cfgCtes,
       |allc AS (SELECT * FROM cand_4 UNION ALL SELECT * FROM cand_8 UNION ALL SELECT * FROM cand_16 UNION ALL SELECT * FROM cand_32),
       |ns AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM s),
       |-- truth from the PRODUCTION union (df<=64 candidates + verbatim
       |-- cliques, exact list-intersect verify) — the SAME construction
       |-- the engine's jaccardPairs truth uses and dedupEvalOracleSql
       |-- replays. r10: this oracle had been left on the fully UNCAPPED
       |-- join while the engine moved to the production path in r9 — a
       |-- derivation mismatch invisible at sf0.01/0.1 (the cap residual
       |-- is 0 there) that surfaced as an sf1 hash divergence the moment
       |-- MakeSf's reworded replica families pushed shared shingles past
       |-- the cap (394 of 4590 exact pairs; measured, as designed, by
       |-- dedup_truth_guard's own hash-oracled row).
       |dftab AS MATERIALIZED (SELECT xh, count(*) AS df FROM shx GROUP BY xh),
       |cap64 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM shx a JOIN shx b ON a.xh = b.xh AND a.doc_id < b.doc_id
       |  JOIN dftab d ON d.xh = a.xh WHERE d.df <= 64),
       |dlst AS MATERIALIZED (SELECT doc_id, list(xh ORDER BY xh) AS lx FROM shx GROUP BY doc_id),
       |vcand AS MATERIALIZED (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM dlst a JOIN dlst b ON a.lx = b.lx AND a.doc_id < b.doc_id),
       |bcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bb4_bands a JOIN bb4_bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |candu AS MATERIALIZED (
       |  SELECT a_id, b_id FROM cap64 UNION SELECT a_id, b_id FROM vcand
       |  UNION SELECT a_id, b_id FROM bcand),
       |tpair AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT c.a_id, c.b_id, na.n_sh, nb.n_sh AS nb_sh,
       |      len(list_intersect(la.lx, lb.lx)) AS inter
       |    FROM candu c
       |    JOIN dlst la ON la.doc_id = c.a_id JOIN dlst lb ON lb.doc_id = c.b_id
       |    JOIN ns na ON na.doc_id = c.a_id JOIN ns nb ON nb.doc_id = c.b_id)
       |  WHERE round(inter / CAST(n_sh + nb_sh - inter AS DOUBLE), 6) >= 0.5),
       |nt AS (SELECT count(*) AS n_truth FROM tpair),
       |scored AS (
       |  SELECT c.n_bands, c.rows_per_band, count(*) AS n_candidates,
       |    count(t.a_id) AS n_true_pairs
       |  FROM allc c LEFT JOIN tpair t ON t.a_id = c.a_id AND t.b_id = c.b_id
       |  GROUP BY c.n_bands, c.rows_per_band),
       |spine AS (SELECT * FROM (VALUES (32,4),(16,8),(8,16),(4,32)) v(n_bands, rows_per_band))
       |SELECT sp.n_bands, sp.rows_per_band,
       |  COALESCE(sc.n_candidates, 0) AS n_candidates,
       |  COALESCE(sc.n_true_pairs, 0) AS n_true_pairs,
       |  COALESCE(sc.n_true_pairs, 0) * 1000000 // nullif(nt.n_truth, 0) AS recall_ppm,
       |  COALESCE(sc.n_true_pairs, 0) * 1000000 // nullif(COALESCE(sc.n_candidates, 0), 0) AS precision_ppm
       |FROM spine sp LEFT JOIN scored sc ON sc.n_bands = sp.n_bands AND sc.rows_per_band = sp.rows_per_band, nt
       |ORDER BY sp.rows_per_band""".stripMargin
  }

  /** the six-method dedup quality report replayed in ONE statement:
    * the four exact-verified strategies (minhash banding, two df-caps,
    * prefix filter) reduce to |candidates ∩ truth| because the verify
    * stage IS the truth predicate; simhash and winnow pair sets are
    * re-derived in full (prefixed CTE names — DuckDB scopes nested
    * WITHs but rejects shadowing, so the fragments inline instead).
    *
    * r8: the TRUTH set derives from the df≤64 candidate pairs with an
    * exact per-pair list intersection, replacing the full inverted
    * self-join whose Σdf² cost was one of the four sf1 oracle
    * timeouts. r9: the candidate side additionally unions the
    * VERBATIM-duplicate cliques (identical sorted shingle lists), so a
    * document duplicated more than 64 times — whose every shingle has
    * df > 64 and which the capped index therefore drops entirely — is
    * structurally covered rather than lemma-assumed. The remaining
    * residual (NON-verbatim J≥0.5 pairs with no df≤64 shared shingle)
    * is cross-checked against the fully UNCAPPED join by the
    * `dedup_truth_guard` oracle at every hash-checked SF, replacing
    * the empirical-only completeness pin. */
  private val dedupEvalOracleSql: String = {
    val hw = OracleSqlGen.xxh64Sql("(SELECT DISTINCT unnest(words) AS w_ FROM w)", "w_", 42L)
    minhashSigsCtesSql() + ",\n" +
    // the staged band fold: the list_reduce form was 723 of this
    // statement's 871 s at sf1 (r9 verdict item 1's real residual —
    // profiled, not the winnow md5 the verdict guessed)
    OracleSqlGen.murmurBandCtesSql("be_", "sigs", 4) +
    s""",
       |bands AS (SELECT * FROM be_bands),
       |ns AS MATERIALIZED (SELECT doc_id, len(shingles) AS n_sh FROM s),
       |dftab AS MATERIALIZED (SELECT xh, count(*) AS df FROM shx GROUP BY xh),
       |cap64 AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM shx a JOIN shx b ON a.xh = b.xh AND a.doc_id < b.doc_id
       |  JOIN dftab d ON d.xh = a.xh WHERE d.df <= 64),
       |dlst AS MATERIALIZED (SELECT doc_id, list(xh ORDER BY xh) AS lx FROM shx GROUP BY doc_id),
       |vcand AS MATERIALIZED (
       |  -- verbatim-duplicate cliques: identical sorted shingle lists.
       |  -- Replays TextOps.verbatimCandidates (which groups on a 64-bit
       |  -- signature of the same array; the exact verify downstream
       |  -- makes the two formulations emit identical pairs).
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM dlst a JOIN dlst b ON a.lx = b.lx AND a.doc_id < b.doc_id),
       |bcand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM be_bands a JOIN be_bands b
       |    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |candu AS MATERIALIZED (
       |  SELECT a_id, b_id FROM cap64 UNION SELECT a_id, b_id FROM vcand
       |  UNION SELECT a_id, b_id FROM bcand),
       |tpair AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |    SELECT c.a_id, c.b_id, na.n_sh, nb.n_sh AS nb_sh,
       |      len(list_intersect(la.lx, lb.lx)) AS inter
       |    FROM candu c
       |    JOIN dlst la ON la.doc_id = c.a_id JOIN dlst lb ON lb.doc_id = c.b_id
       |    JOIN ns na ON na.doc_id = c.a_id JOIN ns nb ON nb.doc_id = c.b_id)
       |  WHERE round(inter / CAST(n_sh + nb_sh - inter AS DOUBLE), 6) >= 0.5),
       |nt AS (SELECT count(*) AS n_truth FROM tpair),
       |pfx AS MATERIALIZED (
       |  SELECT doc_id, xh FROM (
       |    SELECT e.doc_id, e.xh, ns.n_sh,
       |      row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.xh) AS rk
       |    FROM shx e JOIN dftab d ON d.xh = e.xh JOIN ns ON ns.doc_id = e.doc_id)
       |  WHERE rk <= n_sh // 2 + 1),
       |sim_hw AS MATERIALIZED ($hw),
       |sim_v AS MATERIALIZED (
       |  -- per-(doc, DISTINCT word) counts before the 64-way bit
       |  -- explode: sum(cnt * ±1) ≡ sum(±1 per occurrence), so the
       |  -- signatures (and hashes) are unchanged while the explode
       |  -- base shrinks by the corpus's word-repetition factor — the
       |  -- sf1-budget margin for the full-eval replay
       |  SELECT o.doc_id, g.b,
       |    sum(o.cnt * CASE WHEN (sim_hw.h >> CAST(g.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS sv
       |  FROM (SELECT doc_id, w_, count(*) AS cnt
       |        FROM (SELECT doc_id, unnest(words) AS w_ FROM w) GROUP BY doc_id, w_) o
       |  JOIN sim_hw ON sim_hw.s = o.w_, generate_series(0,63) g(b)
       |  GROUP BY o.doc_id, g.b),
       |sim_sigs AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN COALESCE(sg.sigu, 0) >= 9223372036854775808::HUGEINT
       |         THEN (COALESCE(sg.sigu, 0) - 18446744073709551616::HUGEINT)::BIGINT
       |         ELSE COALESCE(sg.sigu, 0)::BIGINT END AS simhash
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, sum(CASE WHEN sv > 0 THEN (1::HUGEINT << CAST(b AS INTEGER)) ELSE 0::HUGEINT END) AS sigu
       |    FROM sim_v GROUP BY doc_id) sg ON d.doc_id = sg.doc_id),
       |simp AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM (SELECT doc_id, simhash, j AS chunk_id, (simhash >> CAST(16*j AS INTEGER)) & 65535 AS chunk
       |        FROM sim_sigs, generate_series(0,3) g(j)) a
       |  JOIN (SELECT doc_id, simhash, j AS chunk_id, (simhash >> CAST(16*j AS INTEGER)) & 65535 AS chunk
       |        FROM sim_sigs, generate_series(0,3) g(j)) b
       |    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |wn_k AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS m,
       |   list_transform(generate_series(1, len(words) - 2),
       |     i -> md5(array_to_string(words[i:i+2], ' '))) AS kg
       |  FROM w WHERE len(words) >= 6),
       |wn_f AS MATERIALIZED (
       |  SELECT doc_id,
       |   list_distinct(list_transform(generate_series(1, CAST(m - 3 AS INTEGER)),
       |     j -> list_aggregate(keys[j:j+3], 'min'))) AS fps
       |  FROM (SELECT doc_id, m,
       |     list_transform(generate_series(1, CAST(m AS INTEGER)),
       |       i -> kg[i] || '#' || lpad(CAST(9999999 - i AS VARCHAR), 7, '0')) AS keys
       |    FROM wn_k)),
       |wn_e AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, split_part(fpk, '#', 1) AS h
       |  FROM (SELECT doc_id, unnest(fps) AS fpk FROM wn_f)),
       |wn_keep AS MATERIALIZED (
       |  SELECT doc_id, h FROM wn_e JOIN (SELECT h FROM wn_e GROUP BY h HAVING COUNT(*) <= 50) r USING (h)),
       |winp AS MATERIALIZED (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM wn_keep a JOIN wn_keep b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |sc AS (
       |  -- the four exact-verified strategies reduce to |cand ∩ truth|
       |  -- (n_pairs = n_hit — the verify stage IS the truth predicate),
       |  -- and the intersection is computed ANCHORED ON tpair: for each
       |  -- of the ~1.4k truth pairs, does THIS generator connect its two
       |  -- docs? That replaces the raw candidate materializations — the
       |  -- prefix self-join alone was ~600M pre-distinct rows / 48M
       |  -- pairs at sf1 and none of that cardinality ever reached the
       |  -- output (873 s and 48 GB of spill for counts a 1.4k-row
       |  -- anchored probe computes exactly). cap64 ⊇ tpair is a
       |  -- construction identity (tpair derives FROM the df≤64
       |  -- candidates), so its count is count(tpair) itself.
       |  -- simhash/winnow DO report their raw pair cardinalities, so
       |  -- they keep their full derivations (one left-join pass each).
       |  SELECT 'minhash_lsh_32x4' AS method, n AS n_pairs, n AS n_hit FROM (
       |    SELECT count(*) AS n FROM (
       |      SELECT DISTINCT t.a_id, t.b_id FROM tpair t
       |      JOIN bands ba ON ba.doc_id = t.a_id
       |      JOIN bands bb ON bb.doc_id = t.b_id
       |        AND bb.band_id = ba.band_id AND bb.band_hash = ba.band_hash))
       |  UNION ALL SELECT 'jaccard_dfcap_64', n, n FROM (
       |    -- no longer count(tpair): truth now unions the verbatim
       |    -- cliques, so cap64 ⊇ tpair stopped being a construction
       |    -- identity — probe which truth pairs share a df≤64 shingle
       |    SELECT count(*) AS n FROM (
       |      SELECT DISTINCT t.a_id, t.b_id FROM tpair t
       |      JOIN shx ea ON ea.doc_id = t.a_id
       |      JOIN shx eb ON eb.doc_id = t.b_id AND eb.xh = ea.xh
       |      JOIN dftab d ON d.xh = ea.xh WHERE d.df <= 64))
       |  UNION ALL SELECT 'jaccard_dfcap_8', n, n FROM (
       |    SELECT count(*) AS n FROM (
       |      SELECT DISTINCT t.a_id, t.b_id FROM tpair t
       |      JOIN shx ea ON ea.doc_id = t.a_id
       |      JOIN shx eb ON eb.doc_id = t.b_id AND eb.xh = ea.xh
       |      JOIN dftab d ON d.xh = ea.xh WHERE d.df <= 8))
       |  UNION ALL SELECT 'jaccard_prefix', n, n FROM (
       |    SELECT count(*) AS n FROM (
       |      SELECT DISTINCT t.a_id, t.b_id FROM tpair t
       |      JOIN pfx pa ON pa.doc_id = t.a_id
       |      JOIN pfx pb ON pb.doc_id = t.b_id AND pb.xh = pa.xh))
       |  UNION ALL SELECT 'simhash64_h3', np, nh FROM (
       |    SELECT count(*) AS np, count(t.a_id) AS nh
       |    FROM simp c LEFT JOIN tpair t ON t.a_id=c.a_id AND t.b_id=c.b_id)
       |  UNION ALL SELECT 'winnow_k3w4', np, nh FROM (
       |    SELECT count(*) AS np, count(t.a_id) AS nh
       |    FROM winp c LEFT JOIN tpair t ON t.a_id=c.a_id AND t.b_id=c.b_id))
       |SELECT sc.method, sc.n_pairs, nt.n_truth, sc.n_hit,
       |  CASE WHEN sc.n_pairs = 0 THEN 0 ELSE sc.n_hit * 1000000 // sc.n_pairs END AS precision_ppm,
       |  CASE WHEN nt.n_truth = 0 THEN 0 ELSE sc.n_hit * 1000000 // nt.n_truth END AS recall_ppm
       |FROM sc, nt ORDER BY sc.method""".stripMargin
  }

  /** the budgeted eval twin: the IDENTICAL six-method replay over the
    * deterministic Knuth-hash document sample — `sdocs` shadows the
    * corpus for every downstream CTE (both `FROM documents` readers
    * rewrite to it), while the admission threshold's count(*) subquery
    * deliberately reads the FULL table, exactly like the Spark side's
    * budget/n computation. Below the budget the filter admits all docs
    * and this statement degenerates to `dedupEvalOracleSql`. */
  private val dedupEvalSampledOracleSql: String = {
    val thr = "CAST(floor(1048576 * least(1.0, 5000.0 / " +
      "(SELECT count(*) FROM documents))) AS BIGINT)"
    s"""WITH sdocs AS MATERIALIZED (
       |  SELECT * FROM documents
       |  WHERE ((doc_id % 1048576) * 2654435761) % 1048576 < $thr),
       |""".stripMargin +
      dedupEvalOracleSql.stripPrefix("WITH ")
        .replace("FROM documents", "FROM sdocs")
  }

  /** full-plane DBSCAN oracled at last: the point-level closure is
    * ~10⁷ pairs (which is why this sat rows-only for five rounds), but
    * the oracle only needs recursion on the CLIQUE-COLLAPSED super
    * graph — the same resolution-bounded cells the Spark plan uses —
    * where components measure ≤ a few hundred nodes (sf0.1: 20k
    * supers, 28k edges, largest component 175 / diameter 110). The
    * point stages (grid pairs, degree cores, border min-attach) are
    * plain joins; `div` is truncating in Spark vs flooring in DuckDB,
    * hence the sign-adjusted cell arithmetic. */
  private val qDbscanOracleSql: String = dbscanGridOracleSql(R = 60L, planeMod = 1L)

  /** The GRID oracle construction, parameterized (r8): neighbor pairs
    * via 3×3 cell probes instead of the all-pairs product, recursion
    * only on the clique-collapsed super graph — the shape that let
    * q_dbscan certify at sf1 where an all-pairs twin times out. Used
    * by both the full-plane R=60 entry and (r8, closing the r7
    * oracle-infeasible list) the mod-8 R=200 `q_dbscan_small` twin,
    * whose previous brute-force oracle was one of the four sf1
    * 900 s timeouts. */
  private def dbscanGridOracleSql(R: Long, planeMod: Long): String = {
    val S = (R.toDouble / math.sqrt(2.0)).toLong; val r2 = R * R
    val planeCond = if (planeMod == 1L) "" else s" AND event_id % $planeMod = 0"
    def tdiv(x: String, d: Long) =
      s"(CASE WHEN ($x) >= 0 THEN ($x) // $d ELSE -((-($x)) // $d) END)"
    s"""WITH RECURSIVE p AS MATERIALIZED (
       |  SELECT event_id, xc, yc FROM (
       |    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS xc,
       |     TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) * 100 AS yc
       |    FROM events WHERE value IS NOT NULL) WHERE yc IS NOT NULL$planeCond),
       |pc AS MATERIALIZED (
       |  SELECT event_id, xc, yc, ${tdiv("xc", R)} AS cx, ${tdiv("yc", R)} AS cy FROM p),
       |pairs AS MATERIALIZED (
       |  SELECT a0.event_id AS a_id, b.event_id AS b_id
       |  FROM (SELECT t1.event_id, t1.xc, t1.yc, unnest([t1.cx-1, t1.cx, t1.cx+1]) AS jx, t1.cy AS cy0 FROM pc t1) a1,
       |  LATERAL (SELECT a1.event_id, a1.xc, a1.yc, a1.jx, unnest([a1.cy0-1, a1.cy0, a1.cy0+1]) AS jy) a0,
       |  pc b
       |  WHERE b.cx = a0.jx AND b.cy = a0.jy AND a0.event_id <> b.event_id
       |    AND (a0.xc - b.xc)*(a0.xc - b.xc) + (a0.yc - b.yc)*(a0.yc - b.yc) <= $r2),
       |core AS MATERIALIZED (SELECT a_id AS id FROM pairs GROUP BY a_id HAVING COUNT(*) >= 4),
       |csup AS MATERIALIZED (
       |  SELECT c.id, ${tdiv("p.xc", S)} AS sx, ${tdiv("p.yc", S)} AS sy
       |  FROM core c JOIN p ON p.event_id = c.id),
       |supof AS MATERIALIZED (
       |  SELECT cs.id, m.sup FROM csup cs JOIN (
       |    SELECT sx, sy, min(id) AS sup FROM csup GROUP BY sx, sy) m ON m.sx = cs.sx AND m.sy = cs.sy),
       |sedge AS MATERIALIZED (
       |  SELECT DISTINCT least(sa.sup, sb.sup) AS a, greatest(sa.sup, sb.sup) AS b
       |  FROM pairs pr JOIN supof sa ON sa.id = pr.a_id JOIN supof sb ON sb.id = pr.b_id
       |  WHERE sa.sup <> sb.sup),
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM sedge UNION ALL SELECT b, a FROM sedge),
       |closure(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT c.u, e.v FROM closure c JOIN sym e ON e.u = c.v WHERE e.v <> c.u),
       |suplbl AS MATERIALIZED (
       |  SELECT s0.sup AS v, least(s0.sup, coalesce(min(c.v), s0.sup)) AS lbl
       |  FROM (SELECT DISTINCT sup FROM supof) s0 LEFT JOIN closure c ON c.u = s0.sup
       |  GROUP BY s0.sup),
       |corelbl AS MATERIALIZED (
       |  SELECT so.id, coalesce(l.lbl, so.sup) AS cluster_id
       |  FROM supof so LEFT JOIN suplbl l ON l.v = so.sup),
       |border AS MATERIALIZED (
       |  SELECT pr.a_id AS id, MIN(cl.cluster_id) AS cluster_id
       |  FROM pairs pr JOIN corelbl cl ON cl.id = pr.b_id
       |  WHERE pr.a_id NOT IN (SELECT id FROM core)
       |  GROUP BY pr.a_id)
       |SELECT p.event_id,
       | CASE WHEN cl.id IS NOT NULL THEN 'core'
       |      WHEN bd.id IS NOT NULL THEN 'border' ELSE 'noise' END AS kind,
       | COALESCE(cl.cluster_id, bd.cluster_id) AS cluster_id
       |FROM p LEFT JOIN corelbl cl ON cl.id = p.event_id
       |LEFT JOIN border bd ON bd.id = p.event_id
       |ORDER BY p.event_id""".stripMargin
  }

  /** the density-ADAPTIVE DBSCAN twin, oracled end to end INCLUDING
    * the radius derivation: the bbox seed R₀ = ⌊√(τ·area/n)⌋ and both
    * Σocc²-second-moment fixed-point refinements are replayed in SQL
    * from the same profiling aggregates (FP sqrt + the same one-step
    * integer fixup), then the whole grid/clique-collapse/closure
    * pipeline runs against the derived scalar — so the hash pins the
    * POLICY, not a constant. Mod-8 plane (like q_dbscan_small) keeps
    * the oracle's recursive closure bounded at every SF. */
  /** Truncate-toward-zero division (Spark's `div`) over DuckDB's
    * flooring `//` — shared by the auto-R derivation replays. */
  private def tdivSql(x: String, d: String) =
    s"(CASE WHEN ($x) >= 0 THEN ($x) // $d ELSE -((-($x)) // $d) END)"

  /** The [[graft.ops.SpatialJoin.autoR]] derivation replayed over a
    * points CTE `ptsCte(event_id, xc, yc)` with a 1-row count CTE
    * `nn(n)` already emitted: bbox seed + two Σocc² fixed-point
    * refinements, integer sqrt via FP sqrt + one-step fixup. Emits
    * CTEs q_rr0/rr0/…/rr2; the caller reads the final radius from
    * rr2.r. (isq: its own CTE because aggregates inside a FROM-less
    * scalar subquery get evaluated on one synthetic row by DuckDB,
    * silently corrupting count(*).) */
  private def autoRCtesSql(ptsCte: String, targetOcc: Long): String = {
    def isqCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT GREATEST(1, CASE WHEN (t+1)*(t+1) <= q THEN t+1 WHEN t*t > q THEN t-1 ELSE t END) AS r
         |  FROM (SELECT q, CAST(floor(sqrt(CAST(q AS DOUBLE))) AS BIGINT) AS t FROM $src))""".stripMargin
    def refine(prev: String, next: String) =
      s"""v_$next AS MATERIALIZED (
         |  SELECT sum(occ*occ) AS s2 FROM (
         |    SELECT count(*) AS occ FROM $ptsCte, $prev
         |    GROUP BY ${tdivSql("xc", s"$prev.r")}, ${tdivSql("yc", s"$prev.r")})),
         |q_$next AS MATERIALIZED (
         |  SELECT GREATEST(1, ($targetOcc * nn.n * $prev.r * $prev.r) // v_$next.s2) AS q
         |  FROM $prev, v_$next, nn),
         |${isqCte(next, s"q_$next")}""".stripMargin
    s"""q_rr0 AS MATERIALIZED (
       |  SELECT GREATEST(1, ($targetOcc * (max(xc)-min(xc)) * (max(yc)-min(yc))) // count(*)) AS q FROM $ptsCte),
       |${isqCte("rr0", "q_rr0")},
       |${refine("rr0", "rr1")},
       |${refine("rr1", "rr2")}""".stripMargin
  }

  /** `q_spatial_auto` replayed: the full-plane neighbor report with
    * the radius DERIVED in SQL (`autoRCtesSql` — the same bbox-seed +
    * Σocc² fixed point the engine's autoR runs), then the fixed
    * oracle's 3×3 grid join at the derived radius; `r_cents` rides
    * along so the hash pins the derivation. */
  private val qSpatialAutoOracleSql: String = {
    val targetOcc = 2L
    s"""WITH p2 AS MATERIALIZED (
       |  SELECT event_id, xc, yc FROM (
       |    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS xc,
       |     TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) * 100 AS yc
       |    FROM events WHERE value IS NOT NULL) WHERE yc IS NOT NULL),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM p2),
       |${autoRCtesSql("p2", targetOcc)},
       |rr AS MATERIALIZED (SELECT r, r * r AS r2 FROM rr2),
       |h AS MATERIALIZED (
       |  SELECT p2.event_id, p2.xc, p2.yc,
       |    ${tdivSql("xc", "rr.r")} AS cx, ${tdivSql("yc", "rr.r")} AS cy
       |  FROM p2, rr),
       |probe AS (SELECT event_id AS a_id, xc AS ax, yc AS ay,
       |           cx + dx.i AS ncx, cy + dy.i AS ncy
       |          FROM h, generate_series(-1, 1) AS dx(i), generate_series(-1, 1) AS dy(i)),
       |cand AS (SELECT a_id, COUNT(*) AS n_neighbors,
       |          MIN((ax - bx) * (ax - bx) + (ay - byc) * (ay - byc)) AS d2_min
       |         FROM probe JOIN (SELECT event_id AS b_id, xc AS bx, yc AS byc,
       |                cx AS ncx, cy AS ncy FROM h) b USING (ncx, ncy)
       |         WHERE a_id <> b_id
       |          AND (ax - bx) * (ax - bx) + (ay - byc) * (ay - byc) <= (SELECT r2 FROM rr)
       |         GROUP BY a_id)
       |SELECT p2.event_id, CAST(COALESCE(n_neighbors, 0) AS BIGINT) AS n_neighbors,
       | CAST(d2_min AS BIGINT) AS d2_min, (SELECT r FROM rr) AS r_cents
       |FROM p2 LEFT JOIN cand ON p2.event_id = cand.a_id
       |ORDER BY event_id""".stripMargin
  }

  private val qDbscanAutoOracleSql: String = {
    val targetOcc = 2L
    def tdiv(x: String, d: String) = tdivSql(x, d)
    s"""WITH RECURSIVE p AS MATERIALIZED (
       |  SELECT event_id, xc, yc FROM (
       |    SELECT event_id, CAST(round(value * 100) AS BIGINT) AS xc,
       |     TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) * 100 AS yc
       |    FROM events WHERE value IS NOT NULL) WHERE yc IS NOT NULL AND event_id % 8 = 0),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM p),
       |${autoRCtesSql("p", targetOcc)},
       |rr AS MATERIALIZED (
       |  SELECT r, r * r AS r2, GREATEST(1, CAST(floor(r / sqrt(2.0)) AS BIGINT)) AS s FROM rr2),
       |pc AS MATERIALIZED (
       |  SELECT event_id, xc, yc, ${tdiv("xc", "rr.r")} AS cx, ${tdiv("yc", "rr.r")} AS cy FROM p, rr),
       |pairs AS MATERIALIZED (
       |  SELECT a0.event_id AS a_id, b.event_id AS b_id
       |  FROM (SELECT t1.event_id, t1.xc, t1.yc, unnest([t1.cx-1, t1.cx, t1.cx+1]) AS jx, t1.cy AS cy0 FROM pc t1) a1,
       |  LATERAL (SELECT a1.event_id, a1.xc, a1.yc, a1.jx, unnest([a1.cy0-1, a1.cy0, a1.cy0+1]) AS jy) a0,
       |  pc b
       |  WHERE b.cx = a0.jx AND b.cy = a0.jy AND a0.event_id <> b.event_id
       |    AND (a0.xc - b.xc)*(a0.xc - b.xc) + (a0.yc - b.yc)*(a0.yc - b.yc) <= (SELECT r2 FROM rr)),
       |core AS MATERIALIZED (SELECT a_id AS id FROM pairs GROUP BY a_id HAVING COUNT(*) >= 4),
       |csup AS MATERIALIZED (
       |  SELECT c.id, ${tdiv("p.xc", "rr.s")} AS sx, ${tdiv("p.yc", "rr.s")} AS sy
       |  FROM core c JOIN p ON p.event_id = c.id, rr),
       |supof AS MATERIALIZED (
       |  SELECT cs.id, m.sup FROM csup cs JOIN (
       |    SELECT sx, sy, min(id) AS sup FROM csup GROUP BY sx, sy) m ON m.sx = cs.sx AND m.sy = cs.sy),
       |sedge AS MATERIALIZED (
       |  SELECT DISTINCT least(sa.sup, sb.sup) AS a, greatest(sa.sup, sb.sup) AS b
       |  FROM pairs pr JOIN supof sa ON sa.id = pr.a_id JOIN supof sb ON sb.id = pr.b_id
       |  WHERE sa.sup <> sb.sup),
       |sym AS MATERIALIZED (SELECT a AS u, b AS v FROM sedge UNION ALL SELECT b, a FROM sedge),
       |closure(u, v) AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT c.u, e.v FROM closure c JOIN sym e ON e.u = c.v WHERE e.v <> c.u),
       |suplbl AS MATERIALIZED (
       |  SELECT s0.sup AS v, least(s0.sup, coalesce(min(c.v), s0.sup)) AS lbl
       |  FROM (SELECT DISTINCT sup FROM supof) s0 LEFT JOIN closure c ON c.u = s0.sup
       |  GROUP BY s0.sup),
       |corelbl AS MATERIALIZED (
       |  SELECT so.id, coalesce(l.lbl, so.sup) AS cluster_id
       |  FROM supof so LEFT JOIN suplbl l ON l.v = so.sup),
       |border AS MATERIALIZED (
       |  SELECT pr.a_id AS id, MIN(cl.cluster_id) AS cluster_id
       |  FROM pairs pr JOIN corelbl cl ON cl.id = pr.b_id
       |  WHERE pr.a_id NOT IN (SELECT id FROM core)
       |  GROUP BY pr.a_id)
       |SELECT p.event_id,
       | CASE WHEN cl.id IS NOT NULL THEN 'core'
       |      WHEN bd.id IS NOT NULL THEN 'border' ELSE 'noise' END AS kind,
       | COALESCE(cl.cluster_id, bd.cluster_id) AS cluster_id,
       | (SELECT r FROM rr) AS r_cents
       |FROM p LEFT JOIN corelbl cl ON cl.id = p.event_id
       |LEFT JOIN border bd ON bd.id = p.event_id
       |ORDER BY p.event_id""".stripMargin
  }

  /** the BPE learner+encoder replayed: 8 unrolled merge rounds, each
    * an adjacent-pair count over the running symbol table, the argmax
    * with (count desc, a, b) lexical tie-break, and greedy
    * left-to-right application as a list fold (incremental application
    * of the newest merge == the from-scratch foldLeft, since BPE
    * applies merges one-at-a-time in learn order). DuckDB slice
    * semantics are INCLUSIVE, so drop-last is [:-2], not [:-1]. */
  private val textBpeEncodeOracleSql: String = {
    val applyOne =
      """CASE WHEN m.a IS NULL THEN ws.syms ELSE
        |    list_reduce(list_prepend([]::VARCHAR[], list_transform(ws.syms, s_ -> [s_])),
        |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.a AND x[1] = m.b
        |                  THEN acc[:-2] || [m.a || m.b] ELSE acc || x END) END""".stripMargin
    val head =
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT word, count(*)::BIGINT AS freq FROM (SELECT unnest(words) AS word FROM w) GROUP BY word),
        |ws0 AS MATERIALIZED (
        |  SELECT word, freq, list_filter(string_split(word, ''), c -> c <> '') AS syms FROM vocab)""".stripMargin
    val rounds = (0 until 8).map { r =>
      s"""m$r AS MATERIALIZED (
         |  SELECT p.a, p.b FROM (
         |    SELECT s.a, s.b, sum(freq) AS n FROM (
         |      SELECT freq, unnest(list_transform(generate_series(1, len(syms)-1),
         |        i -> struct_pack(a := syms[i], b := syms[i+1]))) AS s
         |      FROM ws$r WHERE len(syms) >= 2)
         |    GROUP BY s.a, s.b) p
         |  ORDER BY p.n DESC, p.a, p.b LIMIT 1),
         |ws${r + 1} AS MATERIALIZED (
         |  SELECT ws.word, ws.freq, $applyOne AS syms
         |  FROM ws$r ws LEFT JOIN m$r m ON TRUE)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      """
        |SELECT word, freq, len(syms)::BIGINT AS n_tokens, array_to_string(syms, ' ') AS encoding
        |FROM ws8 ORDER BY freq DESC, word LIMIT 200""".stripMargin
  }

  /** the production SimHash pipeline with the REAL xxhash64 token hash
    * re-derived per distinct token */
  private val dedupSimhashOracleSql: String = {
    val hw = OracleSqlGen.xxh64Sql("(SELECT DISTINCT unnest(words) AS w FROM wd)", "w", 42L)
    s"""WITH wd AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
       |    x -> x <> '') AS words FROM documents),
       |hw AS MATERIALIZED ($hw),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, unnest(words) AS w FROM wd),
       |v AS MATERIALIZED (
       |  SELECT o.doc_id, g.b,
       |    sum(CASE WHEN (hw.h >> CAST(g.b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM occ o JOIN hw ON hw.s = o.w, generate_series(0,63) g(b)
       |  GROUP BY o.doc_id, g.b),
       |sg AS (
       |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::HUGEINT << CAST(b AS INTEGER)) ELSE 0::HUGEINT END) AS sigu
       |  FROM v GROUP BY doc_id),
       |sigs AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN COALESCE(sg.sigu, 0) >= 9223372036854775808::HUGEINT
       |         THEN (COALESCE(sg.sigu, 0) - 18446744073709551616::HUGEINT)::BIGINT
       |         ELSE COALESCE(sg.sigu, 0)::BIGINT END AS simhash
       |  FROM documents d LEFT JOIN sg ON d.doc_id = sg.doc_id),
       |ch AS (
       |  SELECT doc_id, simhash, j AS chunk_id, (simhash >> CAST(16*j AS INTEGER)) & 65535 AS chunk
       |  FROM sigs, generate_series(0,3) g(j)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simhash AS a_sim, b.simhash AS b_sim
       |  FROM ch a JOIN ch b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, bit_count(xor(a_sim, b_sim))::BIGINT AS hamming
       |FROM p WHERE bit_count(xor(a_sim, b_sim)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** the 128-bit SimHash pipeline: both token hashes (seeds 42 and
    * 1371) re-derived, 4×32-bit chunk LSH, summed popcount verify */
  private val dedupSimhash128OracleSql: String = {
    val h0 = OracleSqlGen.xxh64Sql("(SELECT DISTINCT unnest(words) AS w FROM wd)", "w", 42L)
    val h1 = OracleSqlGen.xxh64Sql("(SELECT DISTINCT unnest(words) AS w FROM wd)", "w", 1371L)
    s"""WITH wd AS MATERIALIZED (
       |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
       |    x -> x <> '') AS words FROM documents),
       |hw0 AS MATERIALIZED ($h0),
       |hw1 AS MATERIALIZED ($h1),
       |hw AS MATERIALIZED (SELECT hw0.s, hw0.h AS h0, hw1.h AS h1 FROM hw0 JOIN hw1 ON hw0.s = hw1.s),
       |occ AS MATERIALIZED (SELECT doc_id, unnest(words) AS w FROM wd),
       |v AS MATERIALIZED (
       |  SELECT o.doc_id, g.b,
       |    sum(CASE WHEN (CASE WHEN g.b < 64 THEN hw.h0 ELSE hw.h1 END >> CAST(g.b % 64 AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM occ o JOIN hw ON hw.s = o.w, generate_series(0,127) g(b)
       |  GROUP BY o.doc_id, g.b),
       |sg AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN s > 0 AND b < 64 THEN (1::HUGEINT << CAST(b AS INTEGER)) ELSE 0::HUGEINT END) AS w0u,
       |    sum(CASE WHEN s > 0 AND b >= 64 THEN (1::HUGEINT << CAST(b - 64 AS INTEGER)) ELSE 0::HUGEINT END) AS w1u
       |  FROM v GROUP BY doc_id),
       |sigs AS MATERIALIZED (
       |  SELECT d.doc_id,
       |    CASE WHEN COALESCE(sg.w0u,0) >= 9223372036854775808::HUGEINT THEN (COALESCE(sg.w0u,0) - 18446744073709551616::HUGEINT)::BIGINT ELSE COALESCE(sg.w0u,0)::BIGINT END AS s0,
       |    CASE WHEN COALESCE(sg.w1u,0) >= 9223372036854775808::HUGEINT THEN (COALESCE(sg.w1u,0) - 18446744073709551616::HUGEINT)::BIGINT ELSE COALESCE(sg.w1u,0)::BIGINT END AS s1
       |  FROM documents d LEFT JOIN sg ON d.doc_id = sg.doc_id),
       |ch AS (
       |  SELECT doc_id, s0, s1, j AS chunk_id,
       |    (CASE WHEN j < 2 THEN s0 ELSE s1 END >> CAST((j % 2) * 32 AS INTEGER)) & 4294967295 AS chunk
       |  FROM sigs, generate_series(0,3) g(j)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.s0 AS a0, a.s1 AS a1x, b.s0 AS b0, b.s1 AS b1x
       |  FROM ch a JOIN ch b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, (bit_count(xor(a0, b0)) + bit_count(xor(a1x, b1x)))::BIGINT AS hamming
       |FROM p WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1x, b1x)) <= 3
       |ORDER BY a_id, b_id""".stripMargin
  }

  private val annBqOracleSql: String =
     """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |m AS (SELECT vec_id, e, nrm,
        |  CAST(list_sum(list_transform(generate_series(0, 31),
        |    j -> CASE WHEN e[j+1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS m0,
        |  CAST(list_sum(list_transform(generate_series(0, 31),
        |    j -> CASE WHEN e[j+33] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS m1
        | FROM n),
        |h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |       CAST(bit_count(xor(q.m0, c.m0)) + bit_count(xor(q.m1, c.m1)) AS BIGINT) AS hamming
        |      FROM m q, m c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |s AS (SELECT * FROM (SELECT h.*, row_number() OVER (PARTITION BY query_id
        |       ORDER BY hamming, neighbor_id) AS hr FROM h) WHERE hr <= 32),
        |r AS (SELECT s.query_id, s.neighbor_id, s.hamming,
        |       round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |      FROM s JOIN m q ON s.query_id = q.vec_id JOIN m c ON s.neighbor_id = c.vec_id),
        |k AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos DESC, neighbor_id) AS rank FROM r)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos, hamming
        |FROM k WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  private val annBruteforceOracleSql: String =
     """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |       round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |      FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (SELECT p.*, row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos DESC, neighbor_id) AS rank FROM p)
        |SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin

  /** the ANN quality report composed from the six independently-
    * validated method oracles — each full pipeline SQL embeds as a
    * nested-WITH subquery (its CTE names stay scoped, so the six
    * trainers coexist without renaming), scored against the rank≤3
    * brute-force truth in integer ppm */
  private lazy val annEvalOracleSql: String = {
    val methods = Seq(
      "lsh_hyperplane" -> annLshOracleSql,
      "ivf_1probe" -> annIvfOracleSql,
      "ivf_3probe" -> annIvfProbeOracleSql,
      "ivfpq_adc" -> annIvfPqOracleSql,
      "bq_hamming" -> annBqOracleSql,
      "pq_adc" -> annPqOracleSql,
      "graph_nsw" -> annGraphOracleSql)
    val mctes = methods.zipWithIndex.map { case ((m, q), i) =>
      s"m_$i AS MATERIALIZED (SELECT '$m' AS method, query_id, neighbor_id FROM ($q))"
    }.mkString(",\n")
    val union = methods.indices.map(i => s"SELECT * FROM m_$i").mkString(" UNION ALL ")
    s"""WITH truth AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM ($annBruteforceOracleSql) WHERE rank <= 3),
       |$mctes,
       |allm AS ($union),
       |nt AS (SELECT count(*) AS n_truth FROM truth)
       |SELECT m.method, count(*) AS n_returned, nt.n_truth,
       |  count(t.query_id) AS n_hits,
       |  CASE WHEN nt.n_truth = 0 THEN 0 ELSE count(t.query_id) * 1000000 // nt.n_truth END AS recall_ppm
       |FROM allm m LEFT JOIN truth t ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id, nt
       |GROUP BY m.method, nt.n_truth
       |ORDER BY m.method""".stripMargin
  }

  private val annLshOracleSql: String =
     """WITH RECURSIVE lcg(k, s) AS (
        |  SELECT 0, 7::HUGEINT
        |  UNION ALL
        |  SELECT k+1, (s * 6364136223846793005::HUGEINT + 1442695040888963407::HUGEINT) % 18446744073709551616::HUGEINT
        |  FROM lcg WHERE k < 384),
        |pl AS (
        |  SELECT (k-1) // 64 AS p, (k-1) % 64 AS d,
        |    (CAST(s // 2048 AS DOUBLE) / 9007199254740992.0) * 2.0 - 1.0 AS w
        |  FROM lcg WHERE k >= 1),
        |plv AS (SELECT p, list(w ORDER BY d) AS pw FROM pl GROUP BY p),
        |v AS (
        |  SELECT * FROM (
        |    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
        |      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |    FROM embeddings) WHERE nrm > 0),
        |sb AS (
        |  SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << CAST(p AS INTEGER)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM (
        |    SELECT v.vec_id, plv.p,
        |      list_reduce(list_prepend(0.0, list_transform(generate_series(1, len(e)), i -> e[i]*pw[i])), (a,b) -> a+b) AS dot
        |    FROM v, plv) GROUP BY vec_id),
        |vb AS (SELECT v.vec_id, v.e, v.nrm, sb.bucket FROM v JOIN sb USING (vec_id)),
        |pr AS (
        |  SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |  FROM vb q JOIN vb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |r AS (SELECT pr.*, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM pr)
        |SELECT query_id, bucket, CAST(rank AS INTEGER) AS rank, neighbor_id, cos
        |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "ann_eval" -> annEvalOracleSql,
    "dedup_minhash" -> dedupMinhashOracleSql,
    "dedup_eval" -> dedupEvalOracleSql,
    "dedup_eval_sampled" -> dedupEvalSampledOracleSql,
    "text_bpe_encode" -> textBpeEncodeOracleSql,
    "q_dbscan" -> qDbscanOracleSql,
    "q_dbscan_auto" -> qDbscanAutoOracleSql,
    "q_spatial_auto" -> qSpatialAutoOracleSql,
    "dedup_banding_eval" -> dedupBandingEvalOracleSql,
    "dedup_simhash" -> dedupSimhashOracleSql,
    "dedup_simhash128" -> dedupSimhash128OracleSql,
    "ann_pq" -> annPqOracleSql,
    "ann_ivfpq" -> annIvfPqOracleSql,
    "ann_graph" -> annGraphOracleSql,
    "ann_graph_prebuilt" -> annGraphPrebuiltOracleSql,
    "ann_ivf" -> annIvfOracleSql,
    "ann_ivf_probe" -> annIvfProbeOracleSql,
    "vec_knn_graph_ann" -> vecKnnGraphAnnOracleSql,
    "vec_knn_graph_ann_auto" -> vecKnnGraphAnnAutoOracleSql,
    "vec_kmeans" -> vecKmeansOracleSql,
    "sample_diverse" -> sampleDiverseOracleSql,
    "dedup_semantic" -> dedupSemanticOracleSql,

    // the LSH hyperplanes are an LCG stream (seed 7) — plain integer
    // arithmetic, so the oracle replays the generator in HUGEINT,
    // rebuilds the planes, and re-derives every bucket bit with the
    // same left-to-right double fold the Spark side uses (bit-identical
    // signs; only the displayed cosine is rounded)
    "ann_lsh" -> annLshOracleSql,

    "q_kcore" -> kCoreOracleSql,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
        | CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "etl_clean_events" ->
      """SELECT event_id, user_id, event_type, value,
        | CAST(ts AS DATE) AS event_date,
        | CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_hour,
        | CASE WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 6 THEN 'Saturday'
        |      WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 0 THEN 'Sunday'
        |      ELSE 'Weekday' END AS service_key
        |FROM events
        |WHERE ts IS NOT NULL AND user_id >= 0 AND value >= 0 AND value <= 300
        |  AND event_type IN ('click','view','signup','purchase','error')
        |ORDER BY event_id""".stripMargin,

    "etl_quarantine" ->
      """SELECT event_id, user_id, event_type, value,
        | CASE WHEN ts IS NULL THEN 'null_ts'
        |      WHEN user_id IS NULL THEN 'null_user'
        |      WHEN user_id < 0 THEN 'bad_user'
        |      WHEN value IS NULL THEN 'null_value'
        |      WHEN value < 0 THEN 'neg_value'
        |      WHEN value > 300 THEN 'over_max'
        |      ELSE 'bad_type' END AS reason
        |FROM events
        |WHERE NOT coalesce(ts IS NOT NULL AND user_id >= 0 AND value >= 0 AND value <= 300
        |  AND event_type IN ('click','view','signup','purchase','error'), FALSE)
        |ORDER BY event_id""".stripMargin,

    "etl_derive_speed" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |d AS (
        |  SELECT e.*, value - lag(value) OVER w AS dv, ts_us - lag(ts_us) OVER w AS dt_us,
        |   lag(ts_us) OVER w AS prev_ts
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |s AS (
        |  SELECT d.*, CASE WHEN dt_us > 0 THEN dv / (dt_us / 1000000.0) END AS speed_raw FROM d),
        |f AS (
        |  SELECT s.*, CASE WHEN speed_raw IS NOT NULL THEN speed_raw
        |    WHEN prev_ts IS NULL THEN lead(speed_raw) OVER (PARTITION BY user_id ORDER BY ts_us)
        |  END AS speed_fill FROM s)
        |SELECT event_id, user_id, ts_us, value,
        | round(CASE WHEN speed_fill < 0 THEN 0.0 ELSE speed_fill END, 6) AS speed
        |FROM f ORDER BY event_id""".stripMargin,

    "etl_dedup_keyfirst" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CASE WHEN ts IS NULL THEN NULL
        |        WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 6 THEN 'Saturday'
        |        WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 0 THEN 'Sunday'
        |        ELSE 'Weekday' END AS service_key,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) ASC NULLS LAST, event_id) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS first_event_id, event_type AS first_event_type,
        | service_key, 'Out' AS direction
        |FROM e WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "etl_service_key" ->
      """SELECT CASE WHEN ts IS NULL THEN NULL
        |      WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 6 THEN 'Saturday'
        |      WHEN dayofweek(CAST(ts AS TIMESTAMP)) = 0 THEN 'Sunday'
        |      ELSE 'Weekday' END AS service_key,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY service_key ASC NULLS LAST""".stripMargin,

    "etl_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | round(AVG(TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS DOUBLE)), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q13_custdist" ->
      """WITH pc AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, COUNT(*) AS custdist
        |FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 150)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | CAST(round(o_totalprice*100) AS BIGINT) AS total_cents, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,

    "q_typed_agg" ->
      """SELECT user_id, COUNT(*) AS n,
        | MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        | MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "etl_cross_validate" ->
      """SELECT COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS BIGINT) AS n_ship_before_order,
        | CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discount_range,
        | CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_quantity_range,
        | CAST(SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative_tax
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "q_trip_view" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_orderstatus,
        | CAST(o_orderdate AS DATE) AS order_date, l_linenumber, l_quantity,
        | CAST(round(l_extendedprice*100) AS BIGINT) AS price_cents
        |FROM orders
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber ASC NULLS FIRST""".stripMargin,

    "q_latest_trace" ->
      """SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
        |FROM events
        |WHERE user_id = (
        |  SELECT user_id FROM events
        |  WHERE value BETWEEN 200.0 AND 300.0
        |    AND TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) BETWEEN 25 AND 75
        |  ORDER BY ts DESC, event_id LIMIT 1)
        |ORDER BY event_id""".stripMargin,

    "q_time_window" ->
      """SELECT event_id, user_id, event_type,
        | CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_hour, value
        |FROM events
        |WHERE hour(CAST(ts AS TIMESTAMP)) BETWEEN 16 AND 18
        |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-21'
        |  AND dayofweek(CAST(ts AS TIMESTAMP)) = 0
        |ORDER BY event_id""".stripMargin,

    "q_threshold_scan" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE value > 250.0 AND CAST(ts AS DATE) = DATE '2024-01-15'
        |ORDER BY event_id""".stripMargin,

    "q_trip_trace" ->
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
        | CAST(row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS INT) AS seq
        |FROM events ORDER BY user_id, seq""".stripMargin,

    "q_heatmap" ->
      """SELECT CAST(floor(value) AS BIGINT) // 100 AS value_bucket,
        | CAST(hour(ts) AS BIGINT) AS hour_of_day,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE ts IS NOT NULL AND value IS NOT NULL AND value >= 0 AND value < 1000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_trace_downsample" ->
      """WITH t AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS seq,
        |   COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE ts IS NOT NULL),
        |k AS (SELECT * FROM t WHERE seq % 10 = 1 OR seq = n)
        |SELECT user_id,
        | CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS BIGINT) AS kept_rank,
        | event_id, ts_us, value
        |FROM k ORDER BY user_id, kept_rank""".stripMargin,

    "q3_shipping" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region" ->
      """SELECT n_name,
        | CAST(SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue_cents DESC, n_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,

    "q_topn_pergroup" ->
      """WITH r AS (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |   CAST(row_number() OVER (PARTITION BY p_brand
        |     ORDER BY p_retailprice DESC, p_partkey) AS INT) AS rn
        |  FROM part)
        |SELECT p_brand, rn, p_partkey,
        | CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
        |FROM r WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,

    "q_topk_custom" ->
      """WITH r AS (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |   row_number() OVER (PARTITION BY p_brand
        |     ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part)
        |SELECT p_brand, p_partkey,
        | CAST(round(p_retailprice*100) AS BIGINT) AS price_cents
        |FROM r WHERE rn <= 3 ORDER BY p_brand, p_partkey""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        | coalesce(o_orderstatus, 'ALL') AS status,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_running_agg" ->
      """SELECT event_id, user_id,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events ORDER BY event_id""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents FROM events),
        |f AS (
        |  SELECT e.*, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT f.*, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, CAST(SUM(value_cents) AS BIGINT) AS sum_cents
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_sessionize_scale" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents FROM events),
        |f AS (
        |  SELECT e.*, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT f.*, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(ts_us) AS start_us, MAX(ts_us) AS end_us, CAST(SUM(value_cents) AS BIGINT) AS sum_cents
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_windowed_agg" ->
      """SELECT epoch_us(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))) AS bucket_us,
        | event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY bucket_us, event_type""".stripMargin,

    "q_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents, event_id FROM events),
    |f AS (
        |  SELECT e.*, CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT f.*, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, MIN(ts_us) AS start_us, MAX(ts_us) + 1800000000 AS end_us,
        | COUNT(*) AS n_events, CAST(SUM(value_cents) AS BIGINT) AS sum_cents
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type IN ('click','error')),
        |c AS (SELECT user_id, ts_us FROM ev WHERE event_type = 'click'),
        |e AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error')
        |SELECT e.event_id, e.user_id, e.ts_us, c.ts_us AS last_click_us,
        | e.ts_us - c.ts_us AS gap_us
        |FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts_us >= c.ts_us
        |ORDER BY e.event_id""".stripMargin,

    "q_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.5), 6) AS p50,
        | round(quantile_cont(value, 0.9), 6) AS p90,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_forecast" ->
      """WITH hourly AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, CAST(hour(ts) AS BIGINT) AS h,
        |   CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS a
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |fc AS (SELECT event_type, CAST(d + INTERVAL 1 DAY AS DATE) AS d, h, a AS f FROM hourly)
        |SELECT hourly.event_type, COUNT(*) AS n_cells,
        | CAST(SUM(hourly.a) AS BIGINT) AS actual_cents,
        | CAST(SUM(abs(hourly.a - fc.f)) AS BIGINT) AS abs_err_cents,
        | CAST(SUM(abs(hourly.a - fc.f)) AS BIGINT) * 1000000
        |   // CAST(SUM(hourly.a) AS BIGINT) AS wape_ppm
        |FROM hourly JOIN fc ON hourly.event_type = fc.event_type
        |  AND hourly.d = fc.d AND hourly.h = fc.h
        |GROUP BY hourly.event_type ORDER BY hourly.event_type""".stripMargin,

    "q_anomaly" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(vc, 0.5) AS med FROM ev GROUP BY event_type),
        |dev AS (SELECT ev.*, med.med, abs(ev.vc - med.med) AS absdev
        |        FROM ev JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY event_type)
        |SELECT dev.event_id, dev.event_type, dev.vc, dev.med, mad.mad
        |FROM dev JOIN mad USING (event_type)
        |WHERE dev.absdev > 5.0 * mad.mad
        |ORDER BY dev.event_id""".stripMargin,

    "q_cube" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        | coalesce(o_orderstatus, 'ALL') AS status,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin,

    "q_unpivot" ->
      """WITH u AS (
        |  SELECT 'quantity' AS measure, CAST(l_quantity AS BIGINT) * 100 AS value_long FROM lineitem
        |  UNION ALL
        |  SELECT 'price_cents', CAST(round(l_extendedprice * 100) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'discount_bps', CAST(round(l_discount * 10000) AS BIGINT) FROM lineitem)
        |SELECT measure, COUNT(*) AS n, CAST(SUM(value_long) AS BIGINT) AS sum_value,
        | MIN(value_long) AS min_value, MAX(value_long) AS max_value
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin,

    "q_windowed_distinct" ->
      """SELECT epoch_us(time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))) AS bucket_us,
        | COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY bucket_us""".stripMargin,

    "q_moving_agg" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents FROM events)
        |SELECT event_id, user_id, ts_us,
        | count(*) OVER w AS win_n,
        | CAST(sum(value_cents) OVER w AS BIGINT) AS win_cents
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
        |  RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_arg_extremes" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents FROM events)
        |SELECT user_id,
        | first(event_type ORDER BY ts_us, event_id) AS first_type,
        | last(event_type ORDER BY ts_us, event_id) AS last_type,
        | last(event_id ORDER BY value_cents, event_id) AS peak_event_id,
        | MAX(value_cents) AS peak_cents,
        | COUNT(*) AS n
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(value/20) AS BIGINT) AS bin, COUNT(*) AS n,
        | MIN(CAST(round(value*100) AS BIGINT)) AS min_cents,
        | MAX(CAST(round(value*100) AS BIGINT)) AS max_cents
        |FROM events GROUP BY 1 ORDER BY bin""".stripMargin,

    "q_range_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents
        |  FROM events WHERE event_type IN ('click','error')),
        |e AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts_us AS c_ts, value_cents AS c_cents FROM ev WHERE event_type = 'click')
        |SELECT e.event_id, e.user_id, e.ts_us,
        | count(c.c_ts) AS n_clicks,
        | CAST(coalesce(sum(c.c_cents), 0) AS BIGINT) AS click_cents
        |FROM e LEFT JOIN c ON e.user_id = c.user_id
        |  AND c.c_ts BETWEEN e.ts_us - 300000000 AND e.ts_us
        |GROUP BY 1, 2, 3 ORDER BY e.event_id""".stripMargin,

    "q_skew_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        | CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_correlated_avg" ->
      """WITH pa AS (
        |  SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS part_sum_qty,
        |    COUNT(*) AS part_cnt
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand, COUNT(*) AS n_small_lots,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM lineitem JOIN pa USING (l_partkey) JOIN part ON p_partkey = l_partkey
        |WHERE 2 * CAST(l_quantity AS BIGINT) * part_cnt < part_sum_qty
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_nested_semi" ->
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_name LIKE '%widget%' AND l_suppkey = s_suppkey
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING SUM(CAST(l_quantity AS BIGINT)) > 80)
        |ORDER BY s_suppkey""".stripMargin,

    "layout_zorder" ->
      s"""WITH c AS (
        |  SELECT (least(greatest(CAST(round(value*100) AS BIGINT), 0), 30000) * 65535) // 30000 AS zx,
        |    (hour(ts) * 65536) // 24 AS zy
        |  FROM events WHERE ts IS NOT NULL),
        |z AS (SELECT zx, zy, $zInterleaveSql AS zval FROM c)
        |SELECT zval // 4194304 AS z_bucket, COUNT(*) AS n,
        | MIN(zx) AS min_zx, MAX(zx) AS max_zx, MIN(zy) AS min_zy, MAX(zy) AS max_zy
        |FROM z GROUP BY z_bucket ORDER BY z_bucket""".stripMargin,

    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL '24 hours'
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL '24 hours'
        |  GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT))
        |ORDER BY step""".stripMargin,

    "q_retention" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(d) AS cohort_date FROM active GROUP BY user_id)
        |SELECT cohort_date, CAST(d - cohort_date AS BIGINT) AS day_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM active JOIN cohort USING (user_id)
        |GROUP BY cohort_date, day_offset ORDER BY cohort_date, day_offset""".stripMargin,

    "q_markov" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, COUNT(*) AS cnt
        |  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "q_pagerank" ->
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |pr(iter, node, rank) AS (
        |  SELECT 0, src, CAST(1000000000000 // n_nodes AS BIGINT) FROM deg, n
        |  UNION ALL
        |  SELECT p.iter + 1, e.dst,
        |    CAST(150000000000 // n.n_nodes
        |         + SUM((p.rank * 85) // (100 * d.outdeg)) AS BIGINT)
        |  FROM pr p
        |  JOIN deg d ON d.src = p.node
        |  JOIN edges e ON e.src = p.node
        |  CROSS JOIN n
        |  WHERE p.iter < 10
        |  GROUP BY p.iter, e.dst, n.n_nodes
        |)
        |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr WHERE iter = 10
        |ORDER BY node""".stripMargin,
    "q_anomaly_mad" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS vc FROM events),
        |m AS (SELECT event_type, quantile_cont(vc, 0.5) AS med_cents
        |      FROM e GROUP BY event_type),
        |d AS (SELECT e.event_type, e.vc, m.med_cents,
        |       abs(e.vc - m.med_cents) AS dev
        |      FROM e JOIN m USING (event_type)),
        |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad_cents
        |       FROM d GROUP BY event_type)
        |SELECT d.event_type, d.med_cents, md.mad_cents, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN d.dev > md.mad_cents * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY d.event_type, d.med_cents, md.mad_cents
        |ORDER BY event_type""".stripMargin,
    "q_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE event_type IN ('click','error')),
        |w1 AS (
        |  SELECT ev.*,
        |   last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS) OVER
        |     (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click,
        |   first_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS) OVER
        |     (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click
        |  FROM ev)
        |SELECT event_id, user_id, ts_us,
        |  CASE WHEN prev_click IS NULL THEN next_click
        |       WHEN next_click IS NULL THEN prev_click
        |       WHEN ts_us - prev_click <= next_click - ts_us THEN prev_click
        |       ELSE next_click END AS nearest_click_us,
        |  ts_us - (CASE WHEN prev_click IS NULL THEN next_click
        |       WHEN next_click IS NULL THEN prev_click
        |       WHEN ts_us - prev_click <= next_click - ts_us THEN prev_click
        |       ELSE next_click END) AS gap_us
        |FROM w1 WHERE event_type = 'error' ORDER BY event_id""".stripMargin,
    "q_degree_dist" ->
      """WITH e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
        |SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
        |  CAST(degree AS BIGINT) AS degree, COUNT(*) AS n_nodes
        |FROM deg GROUP BY 1, 2 ORDER BY side, degree""".stripMargin,
    "q_bfs_hops" ->
      """WITH RECURSIVE
        |e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |seeds AS (SELECT DISTINCT c_custkey*2 AS node FROM customer WHERE c_nationkey = 0),
        |bfs(node, dist) AS (
        |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN edges e ON e.src = b.node
        |  WHERE b.dist < 6)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY node ORDER BY node""".stripMargin,
    "q_concurrency" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |f AS (
        |  SELECT e.*, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT f.*, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f),
        |s AS (
        |  SELECT user_id, session_id, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
        |  FROM g GROUP BY user_id, session_id),
        |b AS (
        |  SELECT start_us AS t_us, CAST(1 AS BIGINT) AS delta, user_id, session_id FROM s
        |  UNION ALL
        |  SELECT end_us + 1, CAST(-1 AS BIGINT), user_id, session_id FROM s),
        |b2 AS (SELECT b.*, t_us // 3600000000 AS hour FROM b),
        |loc AS (
        |  SELECT b2.*, SUM(delta) OVER (PARTITION BY hour
        |    ORDER BY t_us, delta, user_id, session_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS local_run FROM b2),
        |hp AS (
        |  SELECT hour, MAX(local_run) AS mlr, MIN(t_us) AS t0, COUNT(*) AS n_boundaries
        |  FROM loc GROUP BY hour),
        |off AS (
        |  SELECT hour, hour_total,
        |    COALESCE(SUM(hour_total) OVER (ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry_in,
        |    LEAD(hour) OVER (ORDER BY hour) AS next_hour
        |  FROM (SELECT hour, SUM(delta) AS hour_total FROM b2 GROUP BY hour)),
        |bh AS (
        |  SELECT hp.hour,
        |    o.carry_in + CASE WHEN hp.t0 > hp.hour * 3600000000
        |      THEN GREATEST(hp.mlr, 0) ELSE hp.mlr END AS max_concurrent,
        |    hp.n_boundaries
        |  FROM hp JOIN off o USING (hour)),
        |gaps AS (
        |  SELECT UNNEST(generate_series(hour + 1, next_hour - 1)) AS hour,
        |    carry_in + hour_total AS max_concurrent, CAST(0 AS BIGINT) AS n_boundaries
        |  FROM off WHERE next_hour > hour + 1 AND carry_in + hour_total > 0)
        |SELECT CAST(hour * 3600000000 AS BIGINT) AS hour_us,
        |  CAST(max_concurrent AS BIGINT) AS max_concurrent, n_boundaries
        |FROM (SELECT * FROM bh UNION ALL SELECT * FROM gaps)
        |ORDER BY hour_us""".stripMargin,
    "q_decay_score" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents FROM events),
        |r AS (
        |  SELECT e.*, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts_us DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, COUNT(*) AS n_recent,
        |  CAST(SUM((1 << (5 - rn)) * value_cents) AS BIGINT) AS decayed_cents
        |FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "etl_reconcile" ->
      """WITH o AS (SELECT o_orderkey AS ok FROM orders),
        |l AS (SELECT DISTINCT l_orderkey AS lk FROM lineitem)
        |SELECT CASE WHEN ok IS NOT NULL AND lk IS NOT NULL THEN 'matched'
        |            WHEN lk IS NULL THEN 'order_without_items'
        |            ELSE 'items_without_order' END AS category,
        |  COUNT(*) AS n,
        |  CAST(MIN(coalesce(ok, lk)) AS BIGINT) AS min_key,
        |  CAST(MAX(coalesce(ok, lk)) AS BIGINT) AS max_key
        |FROM o FULL OUTER JOIN l ON ok = lk
        |GROUP BY 1 ORDER BY category""".stripMargin,
    "etl_incremental_agg" ->
      """SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS first_us,
        |  CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
        |FROM events GROUP BY event_type, d
        |ORDER BY event_type, d""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 490000.0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    w -> w <> '')) AS word
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n_total FROM t)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM t, n GROUP BY word, n_total HAVING COUNT(*) * 30 > n_total
        |ORDER BY cnt DESC, word""".stripMargin,
    "q_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |anchored AS (
        |  SELECT user_id, d,
        |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INTEGER) AS island
        |  FROM days),
        |islands AS (
        |  SELECT user_id, island, COUNT(*) AS streak
        |  FROM anchored GROUP BY user_id, island)
        |SELECT user_id, CAST(MAX(streak) AS BIGINT) AS longest_streak,
        |  CAST(SUM(streak) AS BIGINT) AS n_active_days
        |FROM islands GROUP BY user_id ORDER BY user_id""".stripMargin,

    "etl_backfill_gaps" ->
      """WITH e AS (
        |  SELECT user_id, (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) * 3600000000 AS bucket_us,
        |   CAST(round(value*100) AS BIGINT) AS vc FROM events WHERE ts IS NOT NULL),
        |h AS (SELECT user_id, bucket_us, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS sc
        |      FROM e GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(bucket_us) AS b0, MAX(bucket_us) AS b1 FROM h GROUP BY 1),
        |sp AS (SELECT user_id, unnest(generate_series(b0, b1, 3600000000)) AS bucket_us FROM b),
        |j AS (SELECT sp.user_id, sp.bucket_us, coalesce(h.n, 0) AS n_events, h.sc
        |      FROM sp LEFT JOIN h ON sp.user_id = h.user_id AND sp.bucket_us = h.bucket_us)
        |SELECT user_id, bucket_us, n_events, n_events = 0 AS is_gap,
        | last_value(sc IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_us
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        |FROM j ORDER BY user_id, bucket_us""".stripMargin,

    "etl_scd2" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT e.*, CASE WHEN lag(event_type) OVER w IS NULL THEN 1
        |    WHEN lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS changed
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |v AS (
        |  SELECT m.*, CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version FROM m),
        |g AS (
        |  SELECT user_id, version, event_type, MIN(ts_us) AS valid_from, COUNT(*) AS n_events
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT user_id, version, event_type, valid_from,
        | lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        | n_events,
        | (lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)) IS NULL AS is_current
        |FROM g ORDER BY user_id, version""".stripMargin,

    "etl_scd2_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (
        |  SELECT e.*, CASE WHEN lag(event_type) OVER w IS NULL THEN 1
        |    WHEN lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS changed
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |v AS (
        |  SELECT m.*, CAST(SUM(changed) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version FROM m),
        |g AS (
        |  SELECT user_id, version, event_type, MIN(ts_us) AS valid_from
        |  FROM v GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT user_id, version, event_type AS version_type, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
        |  FROM g)
        |SELECT e.event_id, e.user_id, e.ts_us, j.version, j.version_type
        |FROM e JOIN j ON e.user_id = j.user_id
        |  AND e.ts_us >= j.valid_from
        |  AND (j.valid_to IS NULL OR e.ts_us < j.valid_to)
        |ORDER BY event_id""".stripMargin,

    "q_interval_merge" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |i AS (
        |  SELECT user_id, event_id, ts_us, ts_us + 600000000 AS iv_end,
        |   MAX(ts_us + 600000000) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM e),
        |f AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR ts_us > prev_max THEN 1 ELSE 0 END AS brk
        |  FROM i),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        |  FROM f)
        |SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
        | MIN(ts_us) AS start_us, MAX(iv_end) AS end_us, COUNT(*) AS n_events,
        | CAST((MAX(iv_end) - MIN(ts_us)) // 1000000 AS BIGINT) AS span_s
        |FROM g GROUP BY user_id, island_id
        |ORDER BY user_id, island_id""".stripMargin,

    "etl_debounce" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (
        |  SELECT *,
        |   CASE WHEN lag(ts_us) OVER w IS NULL
        |        OR ts_us - lag(ts_us) OVER w >= 7200000000 THEN 1 ELSE 0 END AS lead_flag
        |  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)),
        |b AS (
        |  SELECT *, SUM(lead_flag) OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst_id
        |  FROM g)
        |SELECT MIN(event_id) AS event_id, user_id, event_type, MIN(ts_us) AS ts_us,
        | COUNT(*) - 1 AS n_suppressed
        |FROM b GROUP BY user_id, event_type, burst_id
        |ORDER BY event_id""".stripMargin,

    "q_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events WHERE event_type IN ('click','view','purchase')),
        |t AS (
        |  SELECT *,
        |   last_value(CASE WHEN event_type <> 'purchase' THEN ts_us END IGNORE NULLS)
        |     OVER w AS t_us,
        |   last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |     OVER w AS t_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (
        |  SELECT CASE WHEN t_us IS NULL THEN 'none'
        |              WHEN ts_us - t_us > 86400000000 THEN 'none'
        |              ELSE t_type END AS touch_type, vc
        |  FROM t WHERE event_type = 'purchase')
        |SELECT touch_type, COUNT(*) AS n_purchases,
        | CAST(SUM(vc) AS BIGINT) AS attributed_cents
        |FROM p GROUP BY touch_type ORDER BY touch_type""".stripMargin,

    "q_winsorize" ->
      """WITH e AS (
        |  SELECT event_type, event_id, CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vc, event_id) AS rn,
        |   COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |b AS (
        |  SELECT event_type, MIN(vc) AS lo_cents, MAX(vc) AS hi_cents
        |  FROM r WHERE rn = (n-1)*5//100 + 1 OR rn = (n-1)*95//100 + 1
        |  GROUP BY event_type)
        |SELECT e.event_type, COUNT(*) AS n, MIN(lo_cents) AS lo_cents,
        | MIN(hi_cents) AS hi_cents,
        | CAST(SUM(vc) AS BIGINT) AS sum_raw_cents,
        | CAST(SUM(least(greatest(vc, lo_cents), hi_cents)) AS BIGINT) AS sum_winsorized_cents,
        | CAST(SUM(CASE WHEN vc < lo_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        | CAST(SUM(CASE WHEN vc > hi_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi
        |FROM e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_ab_test" ->
      """WITH u0 AS (
        |  SELECT user_id,
        |   MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us,
        |   MIN(CASE WHEN event_type = 'purchase'
        |     THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS first_purchase_us
        |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
        |u AS (
        |  SELECT user_id,
        |   CASE WHEN first_purchase_us IS NOT NULL
        |     AND first_purchase_us - first_us <= 86400000000 THEN 1 ELSE 0 END AS converted,
        |   user_id % 2 AS cohort
        |  FROM u0),
        |c AS (
        |  SELECT
        |   CAST(SUM(CASE WHEN cohort = 0 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_conv,
        |   CAST(SUM(CASE WHEN cohort = 0 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_not,
        |   CAST(SUM(CASE WHEN cohort = 1 AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b_conv,
        |   CAST(SUM(CASE WHEN cohort = 1 AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_not
        |  FROM u),
        |e AS (
        |  SELECT *, CAST(a_conv + a_not + b_conv + b_not AS DOUBLE) AS n_total,
        |   (a_conv+a_not)*(a_conv+b_conv)/CAST(a_conv+a_not+b_conv+b_not AS DOUBLE) AS e_ac,
        |   (a_conv+a_not)*(a_not+b_not)/CAST(a_conv+a_not+b_conv+b_not AS DOUBLE) AS e_an,
        |   (b_conv+b_not)*(a_conv+b_conv)/CAST(a_conv+a_not+b_conv+b_not AS DOUBLE) AS e_bc,
        |   (b_conv+b_not)*(a_not+b_not)/CAST(a_conv+a_not+b_conv+b_not AS DOUBLE) AS e_bn
        |  FROM c)
        |SELECT a_conv, a_not, b_conv, b_not,
        | round((a_conv-e_ac)*(a_conv-e_ac)/e_ac + (a_not-e_an)*(a_not-e_an)/e_an
        |  + (b_conv-e_bc)*(b_conv-e_bc)/e_bc + (b_not-e_bn)*(b_not-e_bn)/e_bn, 6) AS chi2
        |FROM e""".stripMargin,

    "q_rfm" ->
      """WITH u AS (
        |  SELECT user_id, MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS last_us,
        |   COUNT(*) AS freq,
        |   CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL GROUP BY user_id),
        |s AS (
        |  SELECT *,
        |   (MAX(last_us) OVER () - last_us) // 86400000000 AS recency_days
        |  FROM u),
        |t AS (
        |  SELECT *,
        |   CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r,
        |   CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f,
        |   CAST(ntile(5) OVER (ORDER BY cents, user_id) AS BIGINT) AS m
        |  FROM s)
        |SELECT r * 100 + f * 10 + m AS rfm_cell, COUNT(*) AS n_users,
        | CAST(SUM(freq) AS BIGINT) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM t GROUP BY 1 ORDER BY rfm_cell""".stripMargin,

    "q_burst_detect" ->
      """WITH h AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour_idx,
        |   COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (
        |  SELECT *, COUNT(*) OVER w AS base_n, round(AVG(n) OVER w, 6) AS base_mean
        |  FROM h WINDOW w AS (ORDER BY hour_idx RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT hour_idx * 3600000000 AS hour_us, n, base_mean,
        | round(base_mean + 3.0 * sqrt(base_mean), 6) AS threshold,
        | n > round(base_mean + 3.0 * sqrt(base_mean), 6) AS is_burst
        |FROM t WHERE base_n = 24
        |ORDER BY hour_us""".stripMargin,

    "q_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders GROUP BY o_custkey),
        |seg AS (
        |  SELECT rev.o_custkey, rev_cents, c_mktsegment
        |  FROM rev JOIN customer ON o_custkey = c_custkey),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY rev_cents, o_custkey) AS BIGINT) AS i
        |  FROM seg),
        |g AS (
        |  SELECT c_mktsegment, COUNT(*) AS n_customers,
        |   CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
        |   CAST(SUM(i * rev_cents) AS BIGINT) AS s1
        |  FROM r GROUP BY c_mktsegment)
        |SELECT c_mktsegment, n_customers, total_cents,
        | CAST((CAST(2 AS HUGEINT) * s1 - CAST(n_customers + 1 AS HUGEINT) * total_cents)
        |   * 1000000 // (CAST(n_customers AS HUGEINT) * total_cents) AS BIGINT) AS gini_ppm
        |FROM g ORDER BY c_mktsegment""".stripMargin,

    "etl_disorder" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 2) * 300000000 AS arrival_us
        |  FROM events WHERE ts IS NOT NULL),
        |h AS (
        |  SELECT *, MAX(ts_us) OVER (PARTITION BY user_id ORDER BY arrival_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm_us
        |  FROM e),
        |l AS (
        |  SELECT *, hwm_us IS NOT NULL AND ts_us < hwm_us AS late FROM h)
        |SELECT user_id, COUNT(*) AS n_events,
        | CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        | CAST(COALESCE(MAX(CASE WHEN late THEN hwm_us - ts_us END), 0) AS BIGINT) AS max_lateness_us,
        | CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS late_ppm
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_changepoint" ->
      """WITH e AS (
        |  SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL),
        |w AS (
        |  SELECT *,
        |   COUNT(*) OVER (PARTITION BY event_type) AS n,
        |   CAST(SUM(vc) OVER (PARTITION BY event_type) AS BIGINT) AS sx,
        |   CAST(row_number() OVER o AS BIGINT) AS i,
        |   CAST(SUM(vc) OVER (o ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s_i
        |  FROM e WINDOW o AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        |c AS (
        |  SELECT *, s_i * n - i * sx AS cusum, abs(s_i * n - i * sx) AS abs_cusum FROM w),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs_cusum DESC, ts_us, event_id) AS rn,
        |   MAX(abs_cusum) OVER (PARTITION BY event_type) AS max_abs_cusum
        |  FROM c)
        |SELECT event_type, n, ts_us AS peak_ts_us, i AS peak_pos,
        | CAST(cusum AS BIGINT) AS peak_cusum, CAST(max_abs_cusum AS BIGINT) AS max_abs_cusum
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "etl_kanon" ->
      """WITH c AS (
        |  SELECT event_type,
        |   CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS event_hour,
        |   CAST(floor(value / 30) AS BIGINT) AS value_band,
        |   COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |g AS (SELECT CAST(MIN(n) AS BIGINT) AS k_min, COUNT(*) AS n_classes FROM c)
        |SELECT event_type, event_hour, value_band, n, k_min, n_classes
        |FROM c CROSS JOIN g WHERE n < 25
        |ORDER BY event_type, event_hour, value_band""".stripMargin,

    "etl_dq_rules" ->
      """WITH e AS (SELECT * FROM events)
        |SELECT 'props_has_k' AS rule_name, COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN props LIKE '%"k"%' THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
        | CAST(SUM(CASE WHEN props LIKE '%"k"%' THEN 0 ELSE 1 END) * 1000000 // COUNT(*) AS BIGINT) AS violation_ppm
        |FROM e
        |UNION ALL
        |SELECT 'ts_not_null', COUNT(*),
        | CAST(SUM(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
        | CAST(SUM(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) * 1000000 // COUNT(*) AS BIGINT)
        |FROM e
        |UNION ALL
        |SELECT 'type_in_domain', COUNT(*),
        | CAST(SUM(CASE WHEN event_type IN ('click','view','signup','purchase','error') THEN 0 ELSE 1 END) AS BIGINT),
        | CAST(SUM(CASE WHEN event_type IN ('click','view','signup','purchase','error') THEN 0 ELSE 1 END) * 1000000 // COUNT(*) AS BIGINT)
        |FROM e
        |UNION ALL
        |SELECT 'user_nonneg', COUNT(*),
        | CAST(SUM(CASE WHEN user_id >= 0 THEN 0 ELSE 1 END) AS BIGINT),
        | CAST(SUM(CASE WHEN user_id >= 0 THEN 0 ELSE 1 END) * 1000000 // COUNT(*) AS BIGINT)
        |FROM e
        |UNION ALL
        |SELECT 'value_in_range', COUNT(*),
        | CAST(SUM(CASE WHEN value >= 0 AND value <= 300 THEN 0 ELSE 1 END) AS BIGINT),
        | CAST(SUM(CASE WHEN value >= 0 AND value <= 300 THEN 0 ELSE 1 END) * 1000000 // COUNT(*) AS BIGINT)
        |FROM e
        |ORDER BY rule_name""".stripMargin,

    "text_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
        |fs AS (SELECT sh, MIN(doc_id) AS first_doc FROM ex GROUP BY sh)
        |SELECT ex.doc_id, COUNT(*) AS n_shingles,
        | CAST(SUM(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | CAST(SUM(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
        |FROM ex JOIN fs USING (sh)
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "text_dup_coverage" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
        |df AS (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh)
        |SELECT ex.doc_id, COUNT(*) AS n_shingles,
        | CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
        | CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM ex JOIN df ON ex.sh = df.sh
        |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin,

    "q_wow_change" ->
      """WITH wk AS (
        |  SELECT event_type, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week_start,
        |   COUNT(*) AS n_events,
        |   CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM events WHERE ts IS NOT NULL
        |  GROUP BY event_type, 2),
        |l AS (
        |  SELECT *, lag(rev_cents) OVER (PARTITION BY event_type ORDER BY week_start) AS prev_cents
        |  FROM wk)
        |SELECT event_type, week_start, n_events, rev_cents, prev_cents,
        | CAST((rev_cents - prev_cents) * 1000000 // prev_cents AS BIGINT) AS wow_change_ppm
        |FROM l ORDER BY event_type, week_start""".stripMargin,

    "mm_phash" ->
      """WITH s AS (
        |  SELECT doc_id,
        |   xor(xor(xor(xor(
        |     ((doc_id // 25) * 2654435761) & ((CAST(1 AS BIGINT) << 60) - 1),
        |     CASE WHEN doc_id % 5 >= 1 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 1) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 2 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 2) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 3 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 3) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 4 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 4) % 60 AS INT)) ELSE 0 END) AS phash
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    "q_paths" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS d,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |t AS (
        |  SELECT event_type AS step1,
        |   lead(event_type, 1) OVER w AS step2,
        |   lead(event_type, 2) OVER w AS step3
        |  FROM e WINDOW w AS (PARTITION BY user_id, d ORDER BY ts_us, event_id))
        |SELECT step1, step2, step3, COUNT(*) AS n
        |FROM t WHERE step3 IS NOT NULL
        |GROUP BY step1, step2, step3
        |ORDER BY n DESC, step1, step2, step3 LIMIT 20""".stripMargin,

    "q_skew_profile" ->
      """WITH k AS (
        |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
        |t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_total_rows,
        |   COUNT(*) AS n_distinct_keys FROM k),
        |top AS (
        |  SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rank
        |  FROM k ORDER BY n DESC, user_id LIMIT 10)
        |SELECT CAST(rank AS BIGINT) AS rank, user_id, n,
        | CAST(n * 1000000 // n_total_rows AS BIGINT) AS share_ppm,
        | n_total_rows, n_distinct_keys
        |FROM top CROSS JOIN t
        |ORDER BY rank""".stripMargin,

    "q_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |o AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        |s AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY pk),
        |p AS (
        |  SELECT a.pk AS a, b.pk AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING COUNT(*) >= 3)
        |SELECT p.a, p.b, p.n_ab, sa.n AS n_a, sb.n AS n_b,
        | CAST(CAST(p.n_ab AS HUGEINT) * o.n_orders * 1000000 // (CAST(sa.n AS HUGEINT) * sb.n) AS BIGINT) AS lift_ppm
        |FROM p JOIN s sa ON p.a = sa.pk JOIN s sb ON p.b = sb.pk
        |CROSS JOIN o
        |ORDER BY lift_ppm DESC, p.a, p.b LIMIT 50""".stripMargin,

    "text_zipf" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS ws FROM documents),
        |tok AS (SELECT unnest(ws) AS word FROM w),
        |uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY word),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM uni),
        |top AS (
        |  SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank,
        |   SUM(n) OVER (ORDER BY n DESC, word
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |  FROM uni ORDER BY n DESC, word LIMIT 500)
        |SELECT CAST(rank AS BIGINT) AS rank, word, n,
        | CAST(rank * n AS BIGINT) AS rank_x_n,
        | CAST(cum_n * 1000000 // n_tot AS BIGINT) AS cum_share_ppm
        |FROM top CROSS JOIN tot
        |ORDER BY rank""".stripMargin,

    "q_mode" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
        |  FROM c),
        |t AS (
        |  SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_mode,
        |   CAST(SUM(n) AS BIGINT) AS n_events, COUNT(*) AS n_types
        |  FROM c GROUP BY user_id)
        |SELECT t.user_id, r.event_type AS mode_type, t.n_mode, t.n_events, t.n_types
        |FROM t JOIN r ON t.user_id = r.user_id AND r.rn = 1
        |ORDER BY t.user_id""".stripMargin,

    "q_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |v AS (SELECT COUNT(DISTINCT node) AS n_nodes FROM
        |  (SELECT x AS node FROM e UNION ALL SELECT y AS node FROM e)),
        |n AS (SELECT COUNT(*) AS n_edges FROM e),
        |t AS (SELECT COUNT(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.x = e1.x AND e2.y > e1.y
        |  JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y)
        |SELECT v.n_nodes, n.n_edges, t.n_triangles FROM v, n, t""".stripMargin,

    "etl_profile" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value*100) AS BIGINT) AS value_cents, event_type, props
        |  FROM events)
        |SELECT 'event_id' AS col_name, COUNT(*) AS n_rows,
        | CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        | COUNT(DISTINCT event_id) AS n_distinct,
        | CAST(MIN(event_id) AS BIGINT) AS min_val, CAST(MAX(event_id) AS BIGINT) AS max_val FROM e
        |UNION ALL
        |SELECT 'user_id', COUNT(*),
        | CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT user_id), CAST(MIN(user_id) AS BIGINT), CAST(MAX(user_id) AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'ts_us', COUNT(*),
        | CAST(SUM(CASE WHEN ts_us IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT ts_us), MIN(ts_us), MAX(ts_us) FROM e
        |UNION ALL
        |SELECT 'value_cents', COUNT(*),
        | CAST(SUM(CASE WHEN value_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT value_cents), MIN(value_cents), MAX(value_cents) FROM e
        |UNION ALL
        |SELECT 'event_type', COUNT(*),
        | CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT event_type),
        | CAST(MIN(length(event_type)) AS BIGINT), CAST(MAX(length(event_type)) AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'props', COUNT(*),
        | CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | COUNT(DISTINCT props),
        | CAST(MIN(length(props)) AS BIGINT), CAST(MAX(length(props)) AS BIGINT) FROM e
        |ORDER BY col_name""".stripMargin,

    "text_pmi" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS ws FROM documents),
        |tok AS (SELECT unnest(ws) AS word FROM w),
        |uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY word),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tot FROM tok),
        |bi0 AS (SELECT ws, unnest(range(1, len(ws))) AS i FROM w WHERE len(ws) > 1),
        |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM bi0),
        |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bi
        |  GROUP BY w1, w2 HAVING COUNT(*) >= 5)
        |SELECT bc.w1, bc.w2, bc.n_ab, u1.n AS n_a, u2.n AS n_b,
        | CAST(CAST(bc.n_ab AS HUGEINT) * t.n_tot * 1000000 // (CAST(u1.n AS HUGEINT) * u2.n) AS BIGINT) AS lift_ppm
        |FROM bc JOIN uni u1 ON bc.w1 = u1.word JOIN uni u2 ON bc.w2 = u2.word
        |CROSS JOIN tot t
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 100""".stripMargin,

    "text_diversity" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
        |c AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id, word),
        |d AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words, COUNT(*) AS n_types,
        |  CAST(SUM(n*n) AS BIGINT) AS sum_sq FROM c GROUP BY doc_id)
        |SELECT doc_id, n_words, n_types,
        | CAST(n_types * 1000000 // n_words AS BIGINT) AS ttr_ppm,
        | CAST(CAST(sum_sq AS HUGEINT) * 1000000 // (CAST(n_words AS HUGEINT) * n_words) AS BIGINT) AS simpson_ppm
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_ngram_freq" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-1),
        |    i -> array_to_string(words[i:i+1], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 2),
        |ex AS (SELECT unnest(shingles) AS bigram FROM s)
        |SELECT bigram, COUNT(*) AS n_docs FROM ex GROUP BY 1
        |ORDER BY n_docs DESC, bigram LIMIT 100""".stripMargin,

    "text_c4_filter" ->
      """WITH b AS (
        |  SELECT doc_id,
        |   CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> '')) AS BIGINT) AS n_words,
        |   CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |   CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (SELECT doc_id, n_words, n_stop,
        |       round(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 6) AS punct_ratio FROM b),
        |f AS (SELECT r.*, CASE WHEN n_words < 20 THEN 'too_few_words'
        |    WHEN n_stop = 0 THEN 'no_stopword'
        |    WHEN punct_ratio > 0.05 THEN 'high_symbol'
        |    ELSE 'keep' END AS reason FROM r)
        |SELECT doc_id, n_words, n_stop, punct_ratio, reason = 'keep' AS keep, reason
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_chunk" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |c AS (
        |  SELECT doc_id, words, len(words) AS n,
        |    CASE WHEN len(words) <= 64 THEN 1 ELSE ((len(words) - 17) // 48) + 1 END AS n_chunks
        |  FROM w WHERE len(words) > 0)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        | CAST(len(words[i*48+1 : i*48+64]) AS BIGINT) AS n_chunk_tokens,
        | md5(array_to_string(words[i*48+1 : i*48+64], ' ')) AS chunk_md5
        |FROM c, unnest(generate_series(0, n_chunks - 1)) AS t(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "seq_pack" ->
      """WITH w AS (
        |  SELECT doc_id, CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM w)
        |SELECT doc_id, n_tokens, cum_before,
        | CAST(cum_before // 2048 AS BIGINT) AS first_bin,
        | CAST(CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 2048
        |      ELSE cum_before // 2048 END AS BIGINT) AS last_bin,
        | CAST(CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 2048
        |      ELSE cum_before // 2048 END - cum_before // 2048 + 1 AS BIGINT) AS bins_spanned
        |FROM c ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      """WITH counts AS (
        |  SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        |t AS (SELECT MIN(cnt) AS target FROM counts)
        |SELECT d.doc_id, d.lang,
        | CAST(((d.doc_id % 1000003) * 2654435761) % 1000003 AS BIGINT) AS sample_key
        |FROM documents d JOIN counts USING (lang), t
        |WHERE (((d.doc_id % 1000003) * 2654435761) % 1000003) * counts.cnt < t.target * 1000003
        |ORDER BY doc_id""".stripMargin,

    "sample_weighted" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
        | CAST(((doc_id % 1000003) * 2654435761) % 1000003 + 1 AS BIGINT) AS u,
        | CAST((n_chars * 1000000000) // (((doc_id % 1000003) * 2654435761) % 1000003 + 1) AS BIGINT) AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,

    "q_global_rank" ->
      """SELECT o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents,
        | CAST(rank() OVER (ORDER BY CAST(round(o_totalprice*100) AS BIGINT) DESC) AS BIGINT) AS global_rank
        |FROM orders ORDER BY global_rank, o_orderkey""".stripMargin,

    "text_contamination" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
        |j AS (
        |  SELECT c.doc_id AS doc_id, c.sh AS sh, h.doc_id AS h_id
        |  FROM ex c JOIN ex h ON c.sh = h.sh
        |  WHERE c.doc_id % 100 <> 0 AND h.doc_id % 100 = 0)
        |SELECT doc_id,
        | CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_shared_shingles,
        | CAST(COUNT(DISTINCT h_id) AS BIGINT) AS n_heldout_docs,
        | COUNT(DISTINCT sh) >= 3 AS contaminated
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_salience" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |terms AS (SELECT doc_id, unnest(words) AS term FROM w),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM terms GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rank
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
        |FROM scored WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "q_set_ops" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'click' AND value > 150
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 250
        |ORDER BY user_id""".stripMargin,

    "q_corr_moments" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS x,
        |    TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS y
        |  FROM events),
        |m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(y*y) AS BIGINT) AS syy
        |  FROM e WHERE y IS NOT NULL AND x IS NOT NULL GROUP BY event_type)
        |SELECT event_type, n, sx, sy, sxy, sxx, syy,
        | (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |   (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |    sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS corr_xy
        |FROM m ORDER BY event_type""".stripMargin,

    "q_ntile" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS q
        |  FROM events)
        |SELECT event_type, CAST(q AS BIGINT) AS quartile, COUNT(*) AS n,
        | MIN(value) AS lo, MAX(value) AS hi
        |FROM t GROUP BY event_type, q ORDER BY event_type, quartile""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "corpus_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source, CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '')) AS BIGINT) AS n_tok FROM documents),
        |per AS (
        |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
        |  FROM w GROUP BY source),
        |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tot_w FROM per)
        |SELECT source, n_docs, n_tokens, w_micro,
        | CAST(w_micro AS DOUBLE) / tot_w AS share,
        | CAST(floor(CAST(w_micro AS DOUBLE) / tot_w * 100000) AS BIGINT) AS target_tokens,
        | CAST(floor(CAST(w_micro AS DOUBLE) / tot_w * 100000) AS DOUBLE) / n_tokens AS epochs
        |FROM per, t ORDER BY source""".stripMargin,

    "text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(words)-1),
        |    i -> words[i] || ' ' || words[i+1])) AS pair
        |  FROM w WHERE len(words) >= 2)
        |SELECT pair, COUNT(*) AS n_occurrences FROM p GROUP BY pair
        |ORDER BY n_occurrences DESC, pair LIMIT 100""".stripMargin,

    "text_bm25" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |dl AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM w),
        |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
        |t AS (SELECT doc_id, unnest(words) AS term FROM w),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t
        |  WHERE term IN ('scan', 'merge', 'window') GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT doc_id, term,
        |    ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      (CAST(tf AS DOUBLE) * 2.2) /
        |      (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), corpus)
        |SELECT doc_id, COUNT(*) AS n_terms_matched,
        | COALESCE(SUM(CASE WHEN term = 'scan' THEN score END), 0.0)
        |   + COALESCE(SUM(CASE WHEN term = 'merge' THEN score END), 0.0)
        |   + COALESCE(SUM(CASE WHEN term = 'window' THEN score END), 0.0) AS bm25
        |FROM scored GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,

    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents)
        |SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS n_windows,
        | CAST(len(list_distinct(list_transform(generate_series(1, len(words)-2),
        |   i -> array_to_string(words[i:i+2], ' ')))) AS BIGINT) AS n_distinct,
        | 1.0 - CAST(len(list_distinct(list_transform(generate_series(1, len(words)-2),
        |   i -> array_to_string(words[i:i+2], ' ')))) AS DOUBLE) / (len(words) - 2) AS rep_ratio
        |FROM w WHERE len(words) >= 3 ORDER BY doc_id""".stripMargin,

    "text_oov" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |terms AS (SELECT doc_id, unnest(words) AS term FROM w),
        |vocab AS (
        |  SELECT term FROM (
        |    SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term)
        |  ORDER BY df DESC, term LIMIT 1000)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        | CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
        |FROM terms t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM s),
        |p AS (
        |  SELECT b.doc_id AS b_id, e.doc_id AS e_id, b.n_sh AS b_n, e.n_sh AS e_n,
        |    COUNT(*) AS inter
        |  FROM ex b JOIN ex e ON b.sh = e.sh
        |  WHERE b.doc_id % 10 = 7 AND e.doc_id % 10 <> 7
        |  GROUP BY 1, 2, 3, 4),
        |d AS (
        |  SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_dup_candidates, MIN(e_id) AS dup_of
        |  FROM p WHERE round(inter / CAST(b_n + e_n - inter AS DOUBLE), 6) >= 0.5
        |  GROUP BY b_id)
        |SELECT s.doc_id, CAST(COALESCE(d.n_dup_candidates, 0) AS BIGINT) AS n_dup_candidates,
        | d.dup_of, d.dup_of IS NULL AS is_new
        |FROM s LEFT JOIN d ON s.doc_id = d.b_id
        |WHERE s.doc_id % 10 = 7 ORDER BY doc_id""".stripMargin,

    "vec_centroid" ->
      """SELECT label, CAST(i - 1 AS BIGINT) AS pos,
        | CAST(COUNT(*) AS BIGINT) AS n_vecs,
        | CAST(SUM(CAST(floor(embedding[i] * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "vec_gram" ->
      """WITH e AS (
        |  SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS m
        |  FROM embeddings),
        |idx AS (SELECT unnest(generate_series(1, 64)) AS k)
        |SELECT CAST(a.k - 1 AS BIGINT) AS i, CAST(b.k - 1 AS BIGINT) AS j,
        | CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_vecs,
        | CAST(SUM(m[a.k] * m[b.k]) AS BIGINT) AS sum_micro2
        |FROM e, idx a, idx b WHERE a.k <= b.k
        |GROUP BY i, j ORDER BY i, j""".stripMargin,

    "dedup_exact" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents),
        |m AS (SELECT h.*, MIN(doc_id) OVER (PARTITION BY text_hash) AS canonical_id FROM h)
        |SELECT doc_id, text_hash, canonical_id, doc_id <> canonical_id AS is_dup
        |FROM m ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, b.n_sh AS b_n,
        |       COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2,3,4)
        |SELECT a_id, b_id, round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) AS jaccard
        |FROM p WHERE round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // both sides re-derived INDEPENDENTLY of the production engine
    // path: the exact side is the uncapped inverted self-join, the
    // production side replays df≤64 candidates ∪ verbatim cliques +
    // list-intersect verify — so a completeness miss in the shipped
    // generator shows up as a nonzero n_missed AND a hash mismatch
    "dedup_truth_guard" ->
      (prodPairsCtesSql() + """,
        |tfull AS MATERIALIZED (
        |  SELECT a_id, b_id FROM (
        |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, na.n_sh AS a_n, nb.n_sh AS b_n, COUNT(*) AS inter
        |    FROM shx a JOIN shx b ON a.xh = b.xh AND a.doc_id < b.doc_id
        |    JOIN pp_ns na ON na.doc_id = a.doc_id JOIN pp_ns nb ON nb.doc_id = b.doc_id
        |    GROUP BY 1, 2, 3, 4)
        |  WHERE round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) >= 0.5)
        |SELECT
        |  (SELECT count(*) FROM tfull) AS n_exact,
        |  (SELECT count(*) FROM ppairs) AS n_production,
        |  (SELECT count(*) FROM tfull t LEFT JOIN ppairs p ON p.a_id = t.a_id AND p.b_id = t.b_id
        |   WHERE p.a_id IS NULL) AS n_missed""".stripMargin),

    // the arithmetic MinHash twin is the one LSH pipeline an external
    // SQL engine can replay end to end: polynomial shingle hash, the
    // closed-form affine permutation family, raw-tuple banding, and
    // the exact-Jaccard verify are all plain integer arithmetic
    "dedup_minhash_arith" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |hx AS (
        |  SELECT doc_id, unnest(list_transform(shingles, sh ->
        |    ((list_reduce(list_prepend(0::BIGINT, list_transform(string_split(sh,''), c -> ascii(c)::BIGINT)), (a,b) -> (a*131+b)%2147483647) << 32)
        |     | list_reduce(list_prepend(0::BIGINT, list_transform(string_split(sh,''), c -> ascii(c)::BIGINT)), (a,b) -> (a*137+b)%2147483629))
        |    % 2147483647)) AS x
        |  FROM s),
        |mh AS (
        |  SELECT doc_id, i, min(((2*i+3)*x + i*i+7) % 2147483647) AS v
        |  FROM hx, generate_series(0,127) t(i) GROUP BY doc_id, i),
        |bands AS (
        |  SELECT doc_id, i // 4 AS band_id, list(v ORDER BY i) AS key
        |  FROM mh GROUP BY doc_id, i // 4),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.key = b.key AND a.doc_id < b.doc_id),
        |ver AS (
        |  SELECT c.a_id, c.b_id,
        |    len(list_intersect(sa.shingles, sb.shingles)) AS inter,
        |    len(sa.shingles) AS a_n, len(sb.shingles) AS b_n
        |  FROM cand c JOIN s sa ON sa.doc_id = c.a_id JOIN s sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) AS jaccard
        |FROM ver WHERE round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // the SimHash counterpart: every signature bit, every 16-bit LSH
    // chunk, and every Hamming pair re-derived from the rolling
    // polynomial token hash (62 effective bits; bits 31/63 are
    // structurally zero on both sides)
    "dedup_simhash_arith" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    (list_reduce(list_prepend(0::BIGINT, list_transform(string_split(unnest(words),''), c -> ascii(c)::BIGINT)), (a,b) -> (a*131+b)%2147483647) << 32)
        |    | list_reduce(list_prepend(0::BIGINT, list_transform(string_split(unnest(words),''), c -> ascii(c)::BIGINT)), (a,b) -> (a*137+b)%2147483629) AS h
        |  FROM w),
        |v AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM t, generate_series(0,63) g(b) GROUP BY doc_id, b),
        |sg AS (
        |  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INTEGER)) ELSE 0 END) AS simhash
        |  FROM v GROUP BY doc_id),
        |sigs AS (
        |  SELECT d.doc_id, COALESCE(sg.simhash, 0) AS simhash
        |  FROM documents d LEFT JOIN sg ON d.doc_id = sg.doc_id),
        |ch AS (
        |  SELECT doc_id, simhash, j AS chunk_id, (simhash >> CAST(16*j AS INTEGER)) & 65535 AS chunk
        |  FROM sigs, generate_series(0,3) g(j)),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.simhash AS a_sim, b.simhash AS b_sim
        |  FROM ch a JOIN ch b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, bit_count(xor(a_sim, b_sim))::BIGINT AS hamming
        |FROM p WHERE bit_count(xor(a_sim, b_sim)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // prefix filtering is EXACT by the prefix-filter lemma, so its
    // oracle is the same ground-truth pair set as the full inverted
    // index — the strongest possible check of the pruning's recall
    "dedup_prefix_join" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, b.n_sh AS b_n,
        |       COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1,2,3,4)
        |SELECT a_id, b_id, round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) AS jaccard
        |FROM p WHERE round(inter / CAST(a_n + b_n - inter AS DOUBLE), 6) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_cluster" ->
      ("WITH RECURSIVE " + prodPairsCtesSql().stripPrefix("WITH ") + """,
        |p2 AS (SELECT a_id, b_id FROM ppairs),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM p2
        |          UNION ALL SELECT b_id AS src, a_id AS dst FROM p2),
        |closure(a, b) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
        |lbl AS (SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
        |        FROM documents d LEFT JOIN closure c ON c.a = d.doc_id GROUP BY d.doc_id)
        |SELECT doc_id, cluster_id,
        | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        | doc_id = cluster_id AS is_canonical
        |FROM lbl ORDER BY doc_id""".stripMargin),

    "dedup_keep_best" ->
      ("WITH RECURSIVE " + prodPairsCtesSql().stripPrefix("WITH ") + """,
        |p2 AS (SELECT a_id, b_id FROM ppairs),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM p2
        |          UNION ALL SELECT b_id AS src, a_id AS dst FROM p2),
        |closure(a, b) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
        |lbl AS (SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
        |        FROM documents d LEFT JOIN closure c ON c.a = d.doc_id GROUP BY d.doc_id),
        |nw AS (SELECT doc_id,
        |        CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |          x -> x <> '')) AS BIGINT) AS n_words FROM documents)
        |SELECT doc_id, cluster_id, n_words, canonical_id,
        |  doc_id = canonical_id AS kept
        |FROM (
        |  SELECT l.doc_id, l.cluster_id, nw.n_words,
        |    FIRST_VALUE(l.doc_id) OVER (PARTITION BY l.cluster_id
        |      ORDER BY nw.n_words DESC, l.doc_id) AS canonical_id
        |  FROM lbl l JOIN nw USING (doc_id))
        |ORDER BY doc_id""".stripMargin),
    "corpus_curate" ->
      ("""WITH RECURSIVE base AS (
        |  SELECT doc_id, text, lang,
        |   list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> '') AS words
        |  FROM documents),
        |g AS (SELECT *, CAST(len(words) AS BIGINT) AS n_words,
        |       CASE WHEN len(words) < 15 THEN 'filtered_short'
        |            WHEN lang <> 'en' THEN 'filtered_lang' END AS gstatus
        |      FROM base),
        |pass AS (SELECT * FROM g WHERE gstatus IS NULL),
        |exm AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS exact_canonical
        |        FROM pass),
        |canon AS (SELECT * FROM exm WHERE doc_id = exact_canonical),
        |""".stripMargin +
      prodPairsCtesSql(docsRel = "(SELECT doc_id, text FROM canon)")
        .stripPrefix("WITH ") + """,
        |p2 AS (SELECT a_id, b_id FROM ppairs),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM p2
        |          UNION ALL SELECT b_id AS src, a_id AS dst FROM p2),
        |closure(a, b) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
        |lbl AS (SELECT cn.doc_id, cn.n_words,
        |         least(cn.doc_id, coalesce(min(cl.b), cn.doc_id)) AS cluster_id
        |        FROM canon cn LEFT JOIN closure cl ON cl.a = cn.doc_id
        |        GROUP BY cn.doc_id, cn.n_words),
        |best AS (SELECT *, FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
        |          ORDER BY n_words DESC, doc_id) AS best_id FROM lbl)
        |SELECT doc_id, gstatus AS status, CAST(NULL AS BIGINT) AS cluster_id,
        |       CAST(NULL AS VARCHAR) AS split
        |FROM g WHERE gstatus IS NOT NULL
        |UNION ALL
        |SELECT doc_id, 'dup_exact', CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |FROM exm WHERE doc_id <> exact_canonical
        |UNION ALL
        |SELECT doc_id, 'dup_near', cluster_id, CAST(NULL AS VARCHAR)
        |FROM best WHERE doc_id <> best_id
        |UNION ALL
        |SELECT doc_id, 'kept', cluster_id,
        |  CASE WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) * 10 < 8 * 1000003 THEN 'train'
        |       WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) * 10 < 9 * 1000003 THEN 'val'
        |       ELSE 'test' END
        |FROM best WHERE doc_id = best_id
        |ORDER BY doc_id""".stripMargin),

    "corpus_split" ->
      ("WITH RECURSIVE " + prodPairsCtesSql().stripPrefix("WITH ") + """,
        |p2 AS (SELECT a_id, b_id FROM ppairs),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM p2
        |          UNION ALL SELECT b_id AS src, a_id AS dst FROM p2),
        |closure(a, b) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
        |lbl AS (SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
        |        FROM documents d LEFT JOIN closure c ON c.a = d.doc_id GROUP BY d.doc_id)
        |SELECT doc_id, cluster_id,
        |  CAST(((cluster_id % 1000003) * 2654435761) % 1000003 AS BIGINT) AS split_key,
        |  CASE WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) * 10 < 8 * 1000003 THEN 'train'
        |       WHEN (((cluster_id % 1000003) * 2654435761) % 1000003) * 10 < 9 * 1000003 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM lbl ORDER BY doc_id""".stripMargin),
    "corpus_shard" ->
      """WITH k AS (SELECT doc_id,
        |  CAST(((doc_id % 1000003) * 2654435761) % 1000003 AS BIGINT) AS shard_key FROM documents)
        |SELECT doc_id, CAST(shard_key % 8 AS BIGINT) AS shard, shard_key,
        |  CAST(row_number() OVER (PARTITION BY shard_key % 8
        |    ORDER BY shard_key, doc_id) AS BIGINT) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH c AS (
        |  SELECT doc_id, lang AS actual_lang,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS c_en,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' le ', ''))) / 4 AS BIGINT) AS c_fr,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' el ', ''))) / 4 AS BIGINT) AS c_es,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' der ', ''))) / 5 AS BIGINT) AS c_de,
        |   CAST((length(lower(text)) - length(replace(lower(text), '的', ''))) / 1 AS BIGINT) AS c_zh
        |  FROM documents),
        |g AS (SELECT c.*, greatest(c_en, c_fr, c_es, c_de, c_zh) AS best FROM c)
        |SELECT doc_id, actual_lang, c_en, c_fr, c_es, c_de, c_zh,
        | CASE WHEN best = 0 THEN 'und'
        |      WHEN c_en = best THEN 'en' WHEN c_fr = best THEN 'fr'
        |      WHEN c_es = best THEN 'es' WHEN c_de = best THEN 'de'
        |      ELSE 'zh' END AS pred_lang
        |FROM g ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> '')) AS BIGINT) AS n_words,
        |   CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT b.*,
        |   round((n_chars - n_words + 1) / CAST(NULLIF(n_words, 0) AS DOUBLE), 6) AS avg_word_len,
        |   round(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 6) AS punct_ratio,
        |   round(n_stop / CAST(NULLIF(n_words, 0) AS DOUBLE), 6) AS stop_ratio
        |  FROM b)
        |SELECT doc_id, n_chars, n_words, n_punct, n_stop, avg_word_len, punct_ratio, stop_ratio,
        | round(least(1.0, n_words / 100.0) * 0.5 + (1.0 - punct_ratio) * 0.3 +
        |   least(1.0, stop_ratio * 5.0) * 0.2, 6) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        | CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
        |    list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |      x -> x <> ''))), ' ')) AS fingerprint
        |  FROM documents)
        |SELECT doc_id, fingerprint,
        | COUNT(*) OVER (PARTITION BY fingerprint) AS n_same_key
        |FROM f ORDER BY doc_id""".stripMargin,

    // rolling_hash is pure arithmetic (two 31-bit polynomial rolls over
    // the normalized a-z/space stream, packed (a1<<32)|a2), so DuckDB
    // reproduces the codegen'd expression bit-exactly with a char fold.
    "text_rollhash" ->
      """WITH codes AS (
        |  SELECT doc_id, list_transform(
        |    string_split(ltrim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ''),
        |    c -> ascii(c)::BIGINT) AS cs
        |  FROM documents),
        |rolled AS (
        |  SELECT doc_id,
        |   list_reduce(list_prepend(0::BIGINT, cs), (a,b) -> (a*131+b) % 2147483647) AS h1,
        |   list_reduce(list_prepend(0::BIGINT, cs), (a,b) -> (a*137+b) % 2147483629) AS h2
        |  FROM codes)
        |SELECT doc_id, ((h1 << 32) | h2) AS roll_fp,
        | COUNT(*) OVER (PARTITION BY ((h1 << 32) | h2)) AS n_same_key
        |FROM rolled ORDER BY doc_id""".stripMargin,

    "text_winnow" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |k AS (
        |  SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS m,
        |   list_transform(generate_series(1, len(words) - 2),
        |     i -> md5(array_to_string(words[i:i+2], ' '))) AS kg
        |  FROM w WHERE len(words) >= 6),
        |ky AS (
        |  SELECT doc_id, m,
        |   list_transform(generate_series(1, CAST(m AS INTEGER)),
        |     i -> kg[i] || '#' || lpad(CAST(9999999 - i AS VARCHAR), 7, '0')) AS keys
        |  FROM k),
        |f AS (
        |  SELECT doc_id, m,
        |   list_sort(list_distinct(list_transform(generate_series(1, CAST(m - 3 AS INTEGER)),
        |     j -> list_aggregate(keys[j:j+3], 'min')))) AS fps
        |  FROM ky)
        |SELECT doc_id, m AS n_kgrams,
        | CAST(len(fps) AS BIGINT) AS n_fingerprints,
        | md5(array_to_string(fps, ',')) AS fp_digest
        |FROM f ORDER BY doc_id""".stripMargin,

    "dedup_winnow" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |k AS (
        |  SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS m,
        |   list_transform(generate_series(1, len(words) - 2),
        |     i -> md5(array_to_string(words[i:i+2], ' '))) AS kg
        |  FROM w WHERE len(words) >= 6),
        |ky AS (
        |  SELECT doc_id, m,
        |   list_transform(generate_series(1, CAST(m AS INTEGER)),
        |     i -> kg[i] || '#' || lpad(CAST(9999999 - i AS VARCHAR), 7, '0')) AS keys
        |  FROM k),
        |f AS (
        |  SELECT doc_id,
        |   list_distinct(list_transform(generate_series(1, CAST(m - 3 AS INTEGER)),
        |     j -> list_aggregate(keys[j:j+3], 'min'))) AS fps
        |  FROM ky),
        |e AS (
        |  SELECT DISTINCT doc_id, split_part(fpk, '#', 1) AS h
        |  FROM (SELECT doc_id, unnest(fps) AS fpk FROM f)),
        |rare AS (SELECT h FROM e GROUP BY h HAVING COUNT(*) <= 50),
        |keep AS (SELECT doc_id, h FROM e JOIN rare USING (h))
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY a_id, b_id""".stripMargin,

    "text_redact" ->
      """WITH r AS (
        |  SELECT doc_id, text,
        |   regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(t1, '\d{7,}')) AS BIGINT) AS n_longnums,
        | md5(regexp_replace(t1, '\d{7,}', '<NUM>', 'g')) AS redacted_md5
        |FROM r ORDER BY doc_id""".stripMargin,

    "ann_bq" -> annBqOracleSql,

    "vec_mrl_eval" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
        |p AS (SELECT d.dim, q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |       round(list_dot_product(q.e[1:d.dim], c.e[1:d.dim]) /
        |         (sqrt(list_sum(list_transform(q.e[1:d.dim], x -> x*x))) *
        |          sqrt(list_sum(list_transform(c.e[1:d.dim], x -> x*x)))), 6) AS cos
        |      FROM n q, n c, dims d WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |p2 AS (SELECT * FROM p WHERE NOT isnan(cos)),
        |r AS (SELECT p2.*, row_number() OVER (PARTITION BY dim, query_id
        |       ORDER BY cos DESC, neighbor_id) AS rnk FROM p2),
        |k AS (SELECT * FROM r WHERE rnk <= 5),
        |truth AS (SELECT query_id, neighbor_id FROM k WHERE dim = 64),
        |j AS (SELECT k.dim, k.query_id, k.neighbor_id,
        |       CASE WHEN t.query_id IS NULL THEN 0 ELSE 1 END AS hit
        |      FROM k LEFT JOIN truth t
        |        ON k.query_id = t.query_id AND k.neighbor_id = t.neighbor_id)
        |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n_returned,
        | (SELECT COUNT(*) FROM truth) AS n_truth,
        | CAST(SUM(hit) AS BIGINT) AS n_hits,
        | CAST(SUM(hit) AS BIGINT) * 1000000 // (SELECT COUNT(*) FROM truth) AS recall_ppm
        |FROM j GROUP BY dim ORDER BY dim""".stripMargin,

    "vec_knn_graph" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |       round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |      FROM n q, n c WHERE c.vec_id <> q.vec_id),
        |r AS (SELECT p.*, row_number() OVER (PARTITION BY query_id
        |       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
        |k AS (SELECT * FROM r WHERE rank <= 5)
        |SELECT k.query_id, CAST(k.rank AS BIGINT) AS rank, k.neighbor_id, k.cos,
        | COALESCE(m.mutual, FALSE) AS mutual
        |FROM k LEFT JOIN (SELECT query_id AS neighbor_id, neighbor_id AS query_id,
        |       TRUE AS mutual FROM k) m USING (query_id, neighbor_id)
        |ORDER BY query_id, rank""".stripMargin,

    "ann_bruteforce" -> annBruteforceOracleSql,

    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) AS cos
        |      FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, cos FROM p WHERE cos >= 0.45 ORDER BY a_id, b_id""".stripMargin,

    // vec_pca's cross-engine anchor (the eigensolve itself has no SQL
    // replay): full-rank Parseval — the engine sums squared
    // projections THROUGH the solved basis, the oracle computes the
    // centered squared norm straight from parquet with the identical
    // micro-exact mean derivation. Agreement to the 4-decimal grid
    // requires the basis orthonormal and the projection/centering
    // arithmetic right.
    "vec_pca_check" ->
      """WITH ev AS MATERIALIZED (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ev),
        |mu AS MATERIALIZED (
        |  SELECT pos, CAST(sum(CAST(floor(v * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / nn.n / 1e6 AS m
        |  FROM (SELECT unnest(generate_series(1, len(e))) AS pos, unnest(e) AS v FROM ev), nn
        |  GROUP BY pos, nn.n),
        |muv AS (SELECT list(m ORDER BY pos) AS mv FROM mu)
        |SELECT vec_id, CAST(len(e) AS BIGINT) AS dim,
        |  round(list_reduce(list_prepend(0.0,
        |    list_transform(generate_series(1, len(e)),
        |      ix -> (e[ix] - mv[ix]) * (e[ix] - mv[ix]))), (x, y) -> x + y), 4) AS recon_norm2
        |FROM ev, muv ORDER BY vec_id""".stripMargin,

    "vec_stats" ->
      """WITH v AS (
        |  SELECT label, vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |   CAST(round(sqrt(list_sum(list_transform(embedding,
        |     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1000000.0) AS BIGINT) AS norm_micro
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n, MAX(dim) AS dim,
        | round(SUM(norm_micro) / COUNT(*) / 1000000.0, 3) AS avg_norm,
        | MIN(norm_micro) AS min_norm_micro, MAX(norm_micro) AS max_norm_micro
        |FROM v GROUP BY label ORDER BY label""".stripMargin,

    "vec_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |s AS (
        |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS scale FROM v),
        |q AS (
        |  SELECT vec_id, scale,
        |   list_transform(e, x -> CAST(floor(x / scale * 127 + 0.5) AS INT)) AS qv
        |  FROM s)
        |SELECT vec_id, CAST(len(qv) AS BIGINT) AS dim,
        | CAST(floor(scale * 1e6) AS BIGINT) AS scale_micro,
        | CAST(list_sum(qv) AS BIGINT) AS q_sum,
        | list_min(qv) AS q_min, list_max(qv) AS q_max,
        | CAST(list_sum(list_transform(generate_series(1, len(qv)),
        |   i -> CAST(qv[i] AS BIGINT) * i)) AS BIGINT) AS q_wsum
        |FROM q ORDER BY vec_id""".stripMargin,

    // the ±1 sign matrix is a pure function of (dim j, output i) via
    // md5 hex parity, so the oracle derives the SAME matrix inline
    "vec_rp" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |grid AS (
        |  SELECT q.vec_id, i.i, q.qv[j.j+1] *
        |    (CASE WHEN substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)),1,1)
        |      IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS term
        |  FROM q
        |  CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) i
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) AS j) j),
        |comps AS (SELECT vec_id, i, SUM(term) AS comp FROM grid GROUP BY vec_id, i),
        |agg AS (
        |  SELECT vec_id,
        |    MIN(CASE WHEN i = 0 THEN comp END) AS c0_micro,
        |    md5(string_agg(CAST(comp AS VARCHAR), ',' ORDER BY i)) AS rp_digest,
        |    SUM(comp*comp) AS rp_sq
        |  FROM comps GROUP BY vec_id),
        |src AS (SELECT vec_id, SUM(v*v) AS src_sq
        |  FROM (SELECT vec_id, unnest(qv) AS v FROM q) GROUP BY vec_id)
        |SELECT a.vec_id, CAST(a.c0_micro AS BIGINT) AS c0_micro, a.rp_digest,
        |  CAST(CAST(a.rp_sq AS HUGEINT) * 1000000 // nullif(16 * s.src_sq, 0) AS BIGINT) AS norm_ratio_ppm
        |FROM agg a JOIN src s USING (vec_id)
        |ORDER BY a.vec_id""".stripMargin,

    // integer L2² rankings on both sides (micro units / signed
    // projected sums), deterministic neighbor_id tie-break — the
    // overlap table reproduces bit-for-bit
    "vec_rp_eval" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE)*1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |grid AS (
        |  SELECT q.vec_id, i.i,
        |    SUM(q.qv[j.j+1] * (CASE WHEN substr(md5(CAST(j.j AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)),1,1)
        |      IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END)) AS comp
        |  FROM q
        |  CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) i
        |  CROSS JOIN (SELECT unnest(generate_series(0,63)) AS j) j
        |  GROUP BY q.vec_id, i.i),
        |rp AS (SELECT vec_id, list(comp ORDER BY i) AS rp FROM grid GROUP BY vec_id),
        |base AS (SELECT q.vec_id, q.qv, rp.rp FROM q JOIN rp USING (vec_id)),
        |pairs AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1,64), t -> (a.qv[t]-b.qv[t])*(a.qv[t]-b.qv[t]))) AS d_true,
        |    list_sum(list_transform(generate_series(1,16), t -> (a.rp[t]-b.rp[t])*(a.rp[t]-b.rp[t]))) AS d_rp
        |  FROM base a JOIN base b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d_true, neighbor_id) AS r_true,
        |    row_number() OVER (PARTITION BY query_id ORDER BY d_rp, neighbor_id) AS r_rp
        |  FROM pairs)
        |SELECT t.query_id, COUNT(*) AS n_true, COUNT(r.query_id) AS n_overlap,
        |  CAST(COUNT(r.query_id) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
        |FROM (SELECT query_id, neighbor_id FROM ranked WHERE r_true <= 10) t
        |LEFT JOIN (SELECT query_id, neighbor_id FROM ranked WHERE r_rp <= 10) r
        |  ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
        |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        | sha256(text) AS digest, doc_id % 32 AS batch_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_dedup" ->
      """WITH h AS (SELECT doc_id, sha256(text) AS digest FROM documents),
        |m AS (SELECT h.*, MIN(doc_id) OVER (PARTITION BY digest) AS canonical_id FROM h)
        |SELECT doc_id, digest, canonical_id, doc_id <> canonical_id AS is_dup
        |FROM m ORDER BY doc_id""".stripMargin,

    // The real-pixel embedding recomputed in closed form: emb = 8 grid
    // row sums ++ 8 column sums of the planted block signature (each
    // set bit reads 255 through the aHash downsample), checksum
    // position-weighted.
    "mm_batch_infer" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, 16 AS emb_dim,
        | CAST(
        |  list_sum(list_transform(generate_series(0, 7), j ->
        |    (j + 1) * 255 * list_sum(list_transform(generate_series(0, 7),
        |      i -> (h >> (j * 8 + i)) & 1))))
        |  +
        |  list_sum(list_transform(generate_series(0, 7), i ->
        |    (i + 9) * 255 * list_sum(list_transform(generate_series(0, 7),
        |      j -> (h >> (j * 8 + i)) & 1))))
        | AS BIGINT) AS emb_checksum
        |FROM h ORDER BY doc_id""".stripMargin,

    // the TRAINED tower replayed end to end: media emb = 8 row sums ++
    // 8 column sums of the planted signature; captions from bit states
    // (b{i}on / b{i}off); the centered-Hebbian pass (n·Σ_pairs e −
    // cnt·Σ_all e per token bucket, pure integers) over the 256-doc
    // training split; serving = the 3 held-out captions through the
    // learned rows — training, captioning, and retrieval all in SQL
    "mm_retrieval" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |me AS (
        |  SELECT doc_id,
        |   list_transform(generate_series(0, 7), j ->
        |     255 * list_sum(list_transform(generate_series(0, 7), i -> (h >> (j * 8 + i)) & 1))) ||
        |   list_transform(generate_series(0, 7), i ->
        |     255 * list_sum(list_transform(generate_series(0, 7), j -> (h >> (j * 8 + i)) & 1))) AS emb
        |  FROM m),
        |tr AS (SELECT doc_id, h FROM m WHERE doc_id % 7 <> 0 ORDER BY doc_id LIMIT 1024),
        |tre AS (SELECT t.doc_id, t.h, me.emb FROM tr t JOIN me USING (doc_id)),
        |ntr AS (SELECT COUNT(*) AS n FROM tre),
        |sallk AS (
        |  SELECT k, SUM(emb[k]) AS s FROM tre, generate_series(1, 16) g(k) GROUP BY k),
        |tok AS (
        |  SELECT tre.doc_id, tre.emb,
        |    CAST(('0x' || substr(md5(CASE WHEN (h >> i) & 1 = 1
        |      THEN 'b' || i || 'on' ELSE 'b' || i || 'off' END), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM tre, generate_series(0, 59) g(i)),
        |wcnt AS (SELECT bucket, COUNT(*) AS c FROM tok GROUP BY bucket),
        |wsum AS (
        |  SELECT bucket, k, SUM(emb[k]) AS s
        |  FROM tok, generate_series(1, 16) g(k) GROUP BY bucket, k),
        |ww AS (
        |  SELECT ws.bucket, ws.k,
        |    ((SELECT n FROM ntr) * ws.s - wc.c * sa.s
        |     + 1000000000 * (SELECT n FROM ntr)) // (SELECT n FROM ntr) - 1000000000 AS wv
        |  FROM wsum ws JOIN wcnt wc USING (bucket) JOIN sallk sa USING (k)),
        |qd AS (SELECT doc_id, h FROM m WHERE doc_id % 7 = 0 ORDER BY doc_id LIMIT 3),
        |qcap AS (
        |  SELECT qd.doc_id,
        |    string_agg(CASE WHEN (h >> i) & 1 = 1
        |      THEN 'b' || i || 'on' ELSE 'b' || i || 'off' END, ' ' ORDER BY i) AS query
        |  FROM qd, generate_series(0, 59) g(i) GROUP BY qd.doc_id, qd.h),
        |qtok AS (
        |  SELECT qd.doc_id,
        |    CAST(('0x' || substr(md5(CASE WHEN (h >> i) & 1 = 1
        |      THEN 'b' || i || 'on' ELSE 'b' || i || 'off' END), 1, 8)) AS BIGINT) % 1024 AS bucket
        |  FROM qd, generate_series(0, 59) g(i)),
        |qe AS (
        |  SELECT qt.doc_id, ww.k, SUM(ww.wv) AS qv
        |  FROM qtok qt JOIN ww ON ww.bucket = qt.bucket GROUP BY qt.doc_id, ww.k),
        |ec AS (
        |  SELECT me.doc_id, g.k, (SELECT n FROM ntr) * me.emb[g.k] - sa.s AS v
        |  FROM me, generate_series(1, 16) g(k) JOIN sallk sa ON sa.k = g.k),
        |den AS (
        |  SELECT doc_id, GREATEST(1,
        |    CASE WHEN (t+1)*(t+1) <= ss THEN t+1 WHEN t*t > ss THEN t-1 ELSE t END) AS dn
        |  FROM (SELECT doc_id, ss, CAST(floor(sqrt(CAST(ss AS DOUBLE))) AS BIGINT) AS t
        |        FROM (SELECT doc_id, SUM(v*v) AS ss FROM ec GROUP BY doc_id))),
        |scored AS (
        |  SELECT qc.query, ec.doc_id, SUM(qe.qv * ec.v) AS score
        |  FROM qe JOIN qcap qc ON qc.doc_id = qe.doc_id JOIN ec ON ec.k = qe.k
        |  GROUP BY qc.query, ec.doc_id),
        |simt AS (
        |  SELECT s.query, s.doc_id,
        |    CAST((s.score + 1000000000 * d.dn) // d.dn - 1000000000 AS BIGINT) AS sim
        |  FROM scored s JOIN den d USING (doc_id)),
        |ranked AS (
        |  SELECT query, doc_id, sim,
        |   CAST(row_number() OVER (PARTITION BY query ORDER BY sim DESC, doc_id) AS BIGINT) AS rank
        |  FROM simt)
        |SELECT query, rank, doc_id, sim FROM ranked
        |WHERE rank <= 3 ORDER BY query, rank""".stripMargin,

    // The block fixture recomputed in closed form: sig = 60-bit sha256
    // prefix, dims 16..63 from the same seed; the Spark side EARNS the
    // same numbers from real PNG decode (block (bx,by) is solid
    // 255·bit(by*8+bx), so grid_sum = 255·popcount and px_sum counts
    // pixels per block: #{x: 8x div w == i} = ceil((i+1)w/8)-ceil(iw/8))
    "mm_decode" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text),1,15)) AS BIGINT) AS h
        |  FROM documents),
        |d AS (SELECT doc_id, h,
        |       CAST(16 + h % 48 AS INT) AS width,
        |       CAST(16 + (h >> 8) % 48 AS INT) AS height FROM h),
        |cx AS (SELECT doc_id, (8 * x) // width AS i, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, width, unnest(generate_series(0, width - 1)) AS x FROM d)
        |       GROUP BY 1, 2),
        |cy AS (SELECT doc_id, (8 * y) // height AS j, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, height, unnest(generate_series(0, height - 1)) AS y FROM d)
        |       GROUP BY 1, 2),
        |px AS (SELECT cx.doc_id,
        |        CAST(SUM(CASE WHEN (d.h >> CAST(cy.j * 8 + cx.i AS INT)) & 1 = 1
        |                 THEN 255 * cx.cnt * cy.cnt ELSE 0 END) AS BIGINT) AS px_sum
        |       FROM cx JOIN cy ON cx.doc_id = cy.doc_id
        |       JOIN d ON d.doc_id = cx.doc_id GROUP BY 1)
        |SELECT d.doc_id, width, height,
        | CAST(255 * bit_count(h) AS BIGINT) AS grid_sum, px_sum
        |FROM d JOIN px ON px.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin,

    // geometry as before (aspect-preserving round toward 224), plus the
    // resized-raster pixel sum through the explicit NN mapping
    // dst(u,v) = src(u*w div tw, v*h div th)
    "mm_resize" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text),1,15)) AS BIGINT) AS h
        |  FROM documents),
        |d AS (SELECT doc_id, h, CAST(16 + h % 48 AS INT) AS width,
        |       CAST(16 + (h >> 8) % 48 AS INT) AS height FROM h),
        |s AS (SELECT d.*, least(CAST(224 AS DOUBLE) / width,
        |                        CAST(224 AS DOUBLE) / height) AS scale FROM d),
        |t AS (SELECT s.*,
        |       CAST(floor(width * scale + 0.5) AS INT) AS target_w,
        |       CAST(floor(height * scale + 0.5) AS INT) AS target_h FROM s),
        |cu AS (SELECT doc_id, (8 * ((u * width) // target_w)) // width AS i, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, width, target_w, unnest(generate_series(0, target_w - 1)) AS u FROM t)
        |       GROUP BY 1, 2),
        |cv AS (SELECT doc_id, (8 * ((v * height) // target_h)) // height AS j, COUNT(*) AS cnt
        |       FROM (SELECT doc_id, height, target_h, unnest(generate_series(0, target_h - 1)) AS v FROM t)
        |       GROUP BY 1, 2),
        |rs AS (SELECT cu.doc_id,
        |        CAST(SUM(CASE WHEN (t.h >> CAST(cv.j * 8 + cu.i AS INT)) & 1 = 1
        |                 THEN 255 * cu.cnt * cv.cnt ELSE 0 END) AS BIGINT) AS resized_px_sum
        |       FROM cu JOIN cv ON cu.doc_id = cv.doc_id
        |       JOIN t ON t.doc_id = cu.doc_id GROUP BY 1)
        |SELECT t.doc_id, width, height, target_w, target_h, scale, resized_px_sum
        |FROM t JOIN rs ON rs.doc_id = t.doc_id ORDER BY t.doc_id""".stripMargin,

    "mm_scene_change" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text),1,15)) AS BIGINT) AS h1
        |  FROM documents),
        |f AS (SELECT doc_id, h1,
        |       unnest(generate_series(0, CAST((h1 >> 16) % 16 AS INT))) AS frame_idx
        |      FROM h),
        |t AS (SELECT doc_id, h1, frame_idx,
        |       (frame_idx = 0 OR ((h1 >> (frame_idx % 60)) & 3) = 0) AS truth_cut
        |      FROM f),
        |sc AS (SELECT *, CAST(SUM(CASE WHEN truth_cut THEN 1 ELSE 0 END) OVER
        |        (PARTITION BY doc_id ORDER BY frame_idx
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS truth_scene
        |       FROM t),
        |sg AS (SELECT doc_id, frame_idx,
        |        xor(
        |          ((h1 >> r) | ((h1 & ((CAST(1 AS BIGINT) << r) - 1)) << (60 - r)))
        |            & ((CAST(1 AS BIGINT) << 60) - 1),
        |          CASE WHEN ((h1 >> ((frame_idx * 7) % 59)) & 1) = 1
        |            THEN CAST(1 AS BIGINT) << CAST(((h1 >> frame_idx) + frame_idx) % 60 AS INT)
        |            ELSE 0 END) AS sig
        |       FROM (SELECT *, (truth_scene * 13) % 60 AS r FROM sc)),
        |hp AS (SELECT doc_id, frame_idx, sig,
        |        CAST(bit_count(xor(sig, lag(sig) OVER
        |          (PARTITION BY doc_id ORDER BY frame_idx))) AS BIGINT) AS hamming_prev
        |       FROM sg),
        |cut AS (SELECT *, (frame_idx = 0 OR hamming_prev > 8) AS is_cut FROM hp)
        |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, hamming_prev, is_cut,
        | CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER
        |   (PARTITION BY doc_id ORDER BY frame_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS scene_id
        |FROM cut ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_frames" ->
      """WITH h AS (
        |  SELECT doc_id, CAST(('0x' || substr(sha256(text),1,15)) AS BIGINT) AS h
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(1 + (h >> 16) % 16 AS INT) AS n FROM h),
        |f AS (SELECT doc_id, unnest(generate_series(0, least(n - 1, 6), 2)) AS i FROM d)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 40 AS BIGINT) AS frame_ts_ms
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "dedup_editdist" ->
      """SELECT s1.s_suppkey AS a_key, s2.s_suppkey AS b_key,
        | CAST(levenshtein(s1.s_name, s2.s_name) AS BIGINT) AS dist
        |FROM supplier s1 JOIN supplier s2 ON s1.s_suppkey < s2.s_suppkey
        |WHERE levenshtein(s1.s_name, s2.s_name) <= 2
        |ORDER BY a_key, b_key""".stripMargin,

    "text_classifier" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i))
        |SELECT doc_id, COUNT(*) AS n_words,
        | CAST(SUM(w_milli) AS BIGINT) AS logit_milli,
        | CAST(SUM(w_milli) AS BIGINT) > 0 AS keep
        |FROM b JOIN wt USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_span_dedup" ->
      """WITH d1 AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |d AS (SELECT * FROM d1 WHERE len(words) > 0),
        |t AS (SELECT doc_id, words, unnest(generate_series(1, len(words))) AS p1 FROM d),
        |toks AS (SELECT doc_id, p1 - 1 AS pos, words[p1] AS word FROM t),
        |wins AS (SELECT doc_id, p1 - 1 AS start, array_to_string(words[p1:p1+7], ' ') AS wstr
        |         FROM t WHERE p1 <= len(words) - 7),
        |dup AS (SELECT doc_id, start AS pos, 1 AS ds
        |        FROM (SELECT *, row_number() OVER (PARTITION BY wstr ORDER BY doc_id, start) AS rn
        |              FROM wins)
        |        WHERE rn > 1),
        |cov AS (SELECT toks.doc_id, toks.pos, toks.word,
        |         max(coalesce(dup.ds, 0)) OVER (PARTITION BY toks.doc_id ORDER BY toks.pos
        |           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 1 AS rm
        |        FROM toks LEFT JOIN dup USING (doc_id, pos))
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        | md5(coalesce(string_agg(word, ' ' ORDER BY pos) FILTER (WHERE NOT rm), '')) AS kept_md5
        |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_containment" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM s),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1,2,3)
        |SELECT a_id, b_id, round(inter / CAST(a_n AS DOUBLE), 6) AS containment
        |FROM p WHERE round(inter / CAST(a_n AS DOUBLE), 6) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,

    // df-capped twin: candidates only from shingles with df <= 64,
    // containment re-verified exactly over ALL shared shingles
    "text_containment_capped" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |s AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM w WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS sh FROM s),
        |rare AS (SELECT sh FROM ex GROUP BY sh HAVING COUNT(*) <= 64),
        |pr AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare USING (sh)),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM pr a JOIN pr b ON a.sh = b.sh AND a.doc_id <> b.doc_id),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.n_sh AS a_n, COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1,2,3),
        |j AS (SELECT p.* FROM p JOIN cand USING (a_id, b_id))
        |SELECT a_id, b_id, round(inter / CAST(a_n AS DOUBLE), 6) AS containment
        |FROM j WHERE round(inter / CAST(a_n AS DOUBLE), 6) >= 0.6
        |ORDER BY a_id, b_id""".stripMargin,

    "q_interpolate" ->
      """WITH hourly AS (
        |  SELECT user_id, epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
        |   CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c, COUNT(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(min(hour_us), max(hour_us), 3600000000)) AS hour_us
        |  FROM hourly GROUP BY user_id),
        |g AS (
        |  SELECT s.user_id, s.hour_us, h.c, h.n,
        |   last_value(h.c IGNORE NULLS) OVER wb AS pc,
        |   last_value(h.n IGNORE NULLS) OVER wb AS pn,
        |   last_value(CASE WHEN h.c IS NOT NULL THEN s.hour_us END IGNORE NULLS) OVER wb AS ph,
        |   first_value(h.c IGNORE NULLS) OVER wf AS nc,
        |   first_value(h.n IGNORE NULLS) OVER wf AS nn,
        |   first_value(CASE WHEN h.c IS NOT NULL THEN s.hour_us END IGNORE NULLS) OVER wf AS nh
        |  FROM spine s LEFT JOIN hourly h USING (user_id, hour_us)
        |  WINDOW wb AS (PARTITION BY s.user_id ORDER BY s.hour_us
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |   wf AS (PARTITION BY s.user_id ORDER BY s.hour_us
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |i AS (
        |  SELECT user_id, hour_us, c, n, pc, pn, nc, nn,
        |   (hour_us - ph) // 3600000000 AS dh, (nh - ph) // 3600000000 AS span
        |  FROM g)
        |SELECT user_id, hour_us,
        | CASE WHEN c IS NOT NULL THEN c * 10000 // n
        |      ELSE (pc*nn*span + (nc*pn - pc*nn)*dh) * 10000 // (pn*nn*span)
        | END AS value_uv,
        | c IS NULL AS interpolated
        |FROM i ORDER BY user_id, hour_us""".stripMargin,

    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice > 0),
        |c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        |r AS (
        |  SELECT digit, n,
        |   round(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS obs_share,
        |   round(log10(1.0 + 1.0 / digit), 6) AS exp_share
        |  FROM c)
        |SELECT digit, n, obs_share, exp_share,
        | round(pow(obs_share - exp_share, 2) / exp_share, 6) AS chi2_term
        |FROM r ORDER BY digit""".stripMargin,

    "q_disjunctive" ->
      """WITH c AS (
        |  SELECT c_nationkey AS nat, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bkt FROM customer),
        |s AS (
        |  SELECT s_nationkey AS nat, CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_bkt FROM supplier),
        |n1 AS (SELECT COUNT(*) AS n_nation FROM c JOIN s ON c.nat = s.nat),
        |n2 AS (SELECT COUNT(*) AS n_bucket FROM c JOIN s ON c.bal_bkt = s.bal_bkt),
        |n3 AS (SELECT COUNT(*) AS n_both FROM c JOIN s ON c.nat = s.nat AND c.bal_bkt = s.bal_bkt)
        |SELECT n_nation, n_bucket, n_both,
        | CAST(n_nation + n_bucket - n_both AS BIGINT) AS n_union
        |FROM n1, n2, n3""".stripMargin,

    "q_weighted_median" ->
      """WITH h AS (
        |  SELECT l_returnflag, CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, cents, w,
        |   CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY cents
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
        |   CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
        |  FROM h)
        |SELECT l_returnflag, MIN(cents) AS wmedian_cents, MAX(tw) AS total_weight
        |FROM c WHERE cumw * 2 >= tw
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "text_tfidf" ->
      """WITH wd AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM wd WHERE len(words) >= 3),
        |tf AS (SELECT doc_id, unnest(shingles) AS term FROM sh),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        |idf AS (
        |  SELECT term, CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1000, 0) AS BIGINT) AS idf_milli
        |  FROM tf, nd GROUP BY term, n_docs),
        |wt AS (
        |  SELECT tf.doc_id, tf.term, idf.idf_milli AS w
        |  FROM tf JOIN idf USING (term)),
        |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM wt
        |        GROUP BY doc_id HAVING CAST(SUM(w * w) AS BIGINT) > 0),
        |dot AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |cosv AS (
        |  SELECT a_id, b_id,
        |   round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_tfidf
        |  FROM dot JOIN nrm na ON na.doc_id = a_id JOIN nrm nb ON nb.doc_id = b_id)
        |SELECT a_id, b_id, cos_tfidf FROM cosv
        |WHERE cos_tfidf >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    // df-capped twin: candidate pairs only from terms with df <= 64,
    // cosine re-verified exactly over the candidates' FULL term vectors
    "text_tfidf_capped" ->
      """WITH wd AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(words)-2),
        |    i -> array_to_string(words[i:i+2], ' '))) AS shingles
        |  FROM wd WHERE len(words) >= 3),
        |tf AS (SELECT doc_id, unnest(shingles) AS term FROM sh),
        |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        |idf AS (
        |  SELECT term, COUNT(*) AS df,
        |   CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1000, 0) AS BIGINT) AS idf_milli
        |  FROM tf, nd GROUP BY term, n_docs),
        |wt AS (
        |  SELECT tf.doc_id, tf.term, idf.idf_milli AS w, idf.df
        |  FROM tf JOIN idf USING (term)),
        |nrm AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM wt
        |        GROUP BY doc_id HAVING CAST(SUM(w * w) AS BIGINT) > 0),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
        |  WHERE a.df <= 64),
        |dot AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(SUM(a.w * b.w) AS BIGINT) AS dot
        |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dc AS (SELECT dot.* FROM dot JOIN cand USING (a_id, b_id)),
        |cosv AS (
        |  SELECT a_id, b_id,
        |   round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos_tfidf
        |  FROM dc JOIN nrm na ON na.doc_id = a_id JOIN nrm nb ON nb.doc_id = b_id)
        |SELECT a_id, b_id, cos_tfidf FROM cosv
        |WHERE cos_tfidf >= 0.5 ORDER BY a_id, b_id""".stripMargin,

    "text_top_quality" ->
      """WITH b AS (
        |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> '')) AS BIGINT) AS n_words,
        |   CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |   round(least(1.0, n_words / 100.0) * 0.5 +
        |     (1.0 - round(n_punct / CAST(NULLIF(n_chars, 0) AS DOUBLE), 6)) * 0.3 +
        |     least(1.0, round(n_stop / CAST(NULLIF(n_words, 0) AS DOUBLE), 6) * 5.0) * 0.2, 6) AS quality_score
        |  FROM b),
        |k AS (
        |  SELECT lang, doc_id, quality_score,
        |   row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id) AS rn
        |  FROM r)
        |SELECT lang, doc_id, quality_score FROM k WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,

    "q_funnel_time" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(ts) AS t2, MIN(t1) AS t1 FROM events e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL '24 hours'
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(ts) AS t3, MIN(t2) AS t2 FROM events e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL '24 hours'
        |  GROUP BY e.user_id),
        |g AS (
        |  SELECT 'view_to_click' AS transition,
        |   (epoch_us(CAST(t2 AS TIMESTAMP)) - epoch_us(CAST(t1 AS TIMESTAMP))) // 1000000 AS gap_s
        |  FROM s2
        |  UNION ALL
        |  SELECT 'click_to_purchase',
        |   (epoch_us(CAST(t3 AS TIMESTAMP)) - epoch_us(CAST(t2 AS TIMESTAMP))) // 1000000
        |  FROM s3),
        |h AS (SELECT transition, gap_s, COUNT(*) AS w FROM g GROUP BY 1, 2),
        |c AS (
        |  SELECT transition, gap_s, w,
        |   CAST(SUM(w) OVER (PARTITION BY transition ORDER BY gap_s
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |   CAST(SUM(w) OVER (PARTITION BY transition) AS BIGINT) AS n
        |  FROM h)
        |SELECT transition, MAX(n) AS n_users, MIN(gap_s) AS min_s,
        | MIN(CASE WHEN cum * 2 >= n THEN gap_s END) AS median_s,
        | MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_s END) AS p90_s,
        | MAX(gap_s) AS max_s
        |FROM c GROUP BY transition ORDER BY transition""".stripMargin,

    "text_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS ws FROM documents),
        |d AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 2),
        |p AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
        |       i -> struct_pack(w1 := ws[i], bg := ws[i] || ' ' || ws[i+1]))) AS st FROM d),
        |q AS (SELECT doc_id, st.w1 AS w1, st.bg AS bg FROM p),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM q GROUP BY 1),
        |c2 AS (SELECT w1, bg, COUNT(*) AS c2 FROM q GROUP BY 1, 2),
        |nll AS (SELECT c2.bg, CAST(round(-ln(CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE)) * 1000, 0) AS BIGINT) AS nll_milli
        |        FROM c2 JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        | CAST(SUM(nll_milli) AS BIGINT) // COUNT(*) AS avg_nll_milli
        |FROM q JOIN nll USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "etl_variant" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | COUNT(json_extract_string(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_trip_summary" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (
        |  SELECT user_id, d, COUNT(*) AS n_events,
        |   MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |   MIN(vc) AS min_cents, MAX(vc) AS max_cents,
        |   CAST(SUM(vc) AS BIGINT) AS sum_cents
        |  FROM e GROUP BY 1, 2)
        |SELECT user_id, d, n_events, start_us, end_us, min_cents, max_cents, sum_cents,
        | (end_us - start_us) // 1000000 AS duration_s,
        | CASE WHEN n_events > 1
        |      THEN ((end_us - start_us) // 1000000) // (n_events - 1) END AS mean_headway_s
        |FROM g ORDER BY user_id, d""".stripMargin,

    // Bloom pruning is semantics-free (false positives die in the exact
    // join), so the oracle is the plain fingerprint join
    "dedup_bloom" ->
      """WITH f AS (SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(list_filter(
        |    string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> ''))), ' ') AS fp FROM documents),
        |b AS (SELECT * FROM f WHERE doc_id % 10 = 0),
        |c AS (SELECT * FROM f WHERE doc_id % 10 <> 0),
        |m AS (SELECT b.doc_id, MIN(c.doc_id) AS dup_of
        |      FROM b JOIN c ON b.fp = c.fp GROUP BY 1)
        |SELECT b.doc_id,
        | CASE WHEN m.dup_of IS NULL THEN 'admit' ELSE 'dup' END AS verdict,
        | m.dup_of
        |FROM b LEFT JOIN m ON b.doc_id = m.doc_id ORDER BY b.doc_id""".stripMargin,

    "text_gopher" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> '')) AS BIGINT) AS n_words,
        |   CAST(len(list_distinct(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |     x -> x <> ''))) AS BIGINT) AS n_distinct,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT b.*,
        |   round((n_chars - n_words + 1) / CAST(NULLIF(n_words, 0) AS DOUBLE), 6) AS mean_word_len,
        |   round((n_words - n_distinct) / CAST(NULLIF(n_words, 0) AS DOUBLE), 6) AS dup_ratio
        |  FROM b),
        |v AS (
        |  SELECT r.*,
        |   CASE WHEN n_words < 10 THEN 'too_short'
        |        WHEN n_words > 100000 THEN 'too_long'
        |        WHEN mean_word_len < 2.0 OR mean_word_len > 12.0 THEN 'word_length'
        |        WHEN n_stop < 1 THEN 'no_stopwords'
        |        WHEN dup_ratio > 0.5 THEN 'repetitive'
        |        ELSE 'keep' END AS reason
        |  FROM r)
        |SELECT doc_id, n_words, n_distinct, mean_word_len, n_stop, dup_ratio,
        | reason = 'keep' AS keep, reason
        |FROM v ORDER BY doc_id""".stripMargin,

    "corpus_dsir" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS is_t,
        |  unnest(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '')) AS w FROM documents),
        |wc AS (SELECT w, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |              CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cs
        |       FROM t GROUP BY 1),
        |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt, CAST(SUM(cs) AS BIGINT) AS ns,
        |        COUNT(*) AS v FROM wc),
        |r AS (SELECT w, CAST(round((ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
        |        - ln(CAST(cs + 1 AS DOUBLE) / CAST(ns + v AS DOUBLE))) * 1000, 0) AS BIGINT) AS lr_milli
        |      FROM wc, tot)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        | CAST(SUM(lr_milli) AS BIGINT) AS sum_milli,
        | CAST(SUM(lr_milli) AS BIGINT) // COUNT(*) AS avg_milli
        |FROM t JOIN r USING (w) WHERE NOT is_t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q_sketch_rollup's cross-engine anchor (the HLL registers have no
    // SQL replay): the oracle recomputes the EXACT distincts from
    // parquet and emits literal TRUE for the two engine-checked
    // contracts (union-of-daily == one-shot; estimate within 5% of
    // exact) — a broken merge or a blown envelope flips an engine
    // boolean and fails the hash.
    "q_sketch_rollup_check" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | TRUE AS identity_ok, TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // KLL quantiles: the sketch is exact (true order statistics) while
    // n <= k = 32768 — the test-SF regime — and its INCLUSIVE-rank rule
    // is "least value with cumulative weight >= ceil(rank*n)", with the
    // ceil computed over the same IEEE product both engines evaluate.
    "q_sketch_quantiles" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS d, value
        |           FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |g AS (SELECT event_type, COUNT(DISTINCT d) AS n_days, COUNT(*) AS n FROM e GROUP BY 1),
        |h AS (SELECT event_type, value, COUNT(*) AS w FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type, value, CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY value
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM h)
        |SELECT g.event_type AS event_type, g.n_days AS n_days, g.n AS n,
        | MIN(CASE WHEN c.cum >= CAST(ceil(0.5 * g.n) AS BIGINT) THEN c.value END) AS p50,
        | MIN(CASE WHEN c.cum >= CAST(ceil(0.9 * g.n) AS BIGINT) THEN c.value END) AS p90,
        | MIN(CASE WHEN c.cum >= CAST(ceil(0.99 * g.n) AS BIGINT) THEN c.value END) AS p99
        |FROM c JOIN g ON c.event_type = g.event_type
        |GROUP BY 1, 2, 3
        |ORDER BY 1""".stripMargin,

    // theta sketches retain the 2^lgK smallest key hashes — exact set
    // algebra below that budget (every test SF), so the oracle is the
    // plain distinct-set arithmetic
    "q_theta_sketch" ->
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT event_type, COUNT(*) AS n FROM u GROUP BY 1),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS ni
        |      FROM u x JOIN u y ON x.user_id = y.user_id AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        | ca.n AS n_a, cb.n AS n_b,
        | ca.n + cb.n - COALESCE(i.ni, 0) AS n_union,
        | COALESCE(i.ni, 0) AS n_intersect,
        | ca.n - COALESCE(i.ni, 0) AS n_only_a
        |FROM c ca JOIN c cb ON ca.event_type < cb.event_type
        |LEFT JOIN i ON i.type_a = ca.event_type AND i.type_b = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "q_theta_retention" ->
      """WITH u AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT day, COUNT(*) AS n FROM u GROUP BY 1),
        |r AS (SELECT x.day AS day, COUNT(*) AS ret
        |      FROM u x JOIN u y ON x.user_id = y.user_id AND y.day = x.day + 1
        |      GROUP BY 1)
        |SELECT c.day AS day, c.n AS n_active,
        | COALESCE(r.ret, 0) AS n_retained,
        | c.n - COALESCE(r.ret, 0) AS n_churned,
        | COALESCE(r.ret, 0) * 1000000 // c.n AS retained_ppm
        |FROM c JOIN c cn ON cn.day = c.day + 1
        |LEFT JOIN r ON r.day = c.day
        |ORDER BY 1""".stripMargin,

    "ann_mips" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |       round(list_dot_product(q.e, c.e), 6) AS dot
        |      FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |r AS (SELECT p.*, row_number() OVER (PARTITION BY query_id
        |       ORDER BY dot DESC, neighbor_id) AS rank FROM p)
        |SELECT query_id, rank, neighbor_id, dot FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_auc" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS s
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.s, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |g AS (SELECT s, CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |       CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |      FROM lab GROUP BY s),
        |r AS (SELECT *, COALESCE(SUM(nn) OVER (ORDER BY s
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nn_below FROM g)
        |SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
        | CAST(SUM(np * nn_below) AS BIGINT) AS wins,
        | CAST(SUM(np * nn) AS BIGINT) AS ties,
        | CAST((2 * CAST(SUM(np * nn_below) AS HUGEINT) + SUM(np * nn)) * 1000000
        |   // (2 * CAST(SUM(np) AS HUGEINT) * SUM(nn)) AS BIGINT) AS auc_ppm
        |FROM r""".stripMargin,

    "q_calibration" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.doc_id, sc.logit_milli, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |n AS (SELECT COUNT(*) AS n FROM lab),
        |r AS (SELECT *, row_number() OVER (ORDER BY logit_milli, doc_id) AS i FROM lab)
        |SELECT CAST((i - 1) * 10 // n.n + 1 AS BIGINT) AS decile,
        | COUNT(*) AS n_docs,
        | CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        | MIN(logit_milli) AS min_logit, MAX(logit_milli) AS max_logit,
        | CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS pos_ppm
        |FROM r CROSS JOIN n
        |GROUP BY 1 ORDER BY decile""".stripMargin,

    "q_drift" ->
      """WITH ev AS (
        |  SELECT event_type, (day(CAST(ts AS TIMESTAMP)) <= 15) AS in_a,
        |   CAST(floor(value / 5) AS BIGINT) AS bucket
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |bb AS (SELECT event_type, bucket,
        |        CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |        CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |       FROM ev GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(SUM(ca) AS BIGINT) AS na,
        |        CAST(SUM(cb) AS BIGINT) AS nb
        |       FROM bb GROUP BY 1)
        |SELECT bb.event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
        | COUNT(*) AS n_buckets,
        | CAST(SUM(abs(CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)) * 1000000
        |   // (2 * CAST(MAX(na) AS HUGEINT) * MAX(nb)) AS BIGINT) AS tvd_ppm
        |FROM bb JOIN tt USING (event_type)
        |GROUP BY bb.event_type ORDER BY event_type""".stripMargin,

    "vec_knn_classify" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, label FROM embeddings),
        |n AS (SELECT * FROM (SELECT vec_id, e, label,
        |       sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM v)
        |     WHERE nrm > 0),
        |p AS (SELECT q.vec_id, q.label AS true_label, c.vec_id AS n_id, c.label AS n_label,
        |       round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cos
        |      FROM n q JOIN n c ON q.vec_id % 5 = 0 AND c.vec_id % 5 <> 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |       ORDER BY cos DESC, n_id) AS rk FROM p),
        |votes AS (SELECT vec_id, true_label, n_label, COUNT(*) AS votes
        |          FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
        |best AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY votes DESC, n_label) AS vr FROM votes)
        |SELECT vec_id, true_label, n_label AS pred_label, votes,
        | n_label = true_label AS correct
        |FROM best WHERE vr = 1 ORDER BY vec_id""".stripMargin,

    "vec_outliers" ->
      """WITH m AS (SELECT vec_id, label,
        |       list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS mv
        |      FROM embeddings),
        |e AS (SELECT label, unnest(generate_series(1, len(mv))) AS p, mv FROM m),
        |cp AS (SELECT label, p, COUNT(*) AS n, SUM(mv[p]) AS s FROM e GROUP BY 1, 2),
        |c AS (SELECT label, p, CAST((s + n * 10000000) // n - 10000000 AS BIGINT) AS cv FROM cp),
        |t AS (SELECT vec_id, label, unnest(generate_series(1, len(mv))) AS p, mv FROM m),
        |d AS (SELECT t.vec_id, t.label, SUM((mv[t.p] - cv) * (mv[t.p] - cv)) AS d2
        |      FROM t JOIN c ON t.label = c.label AND t.p = c.p GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY label
        |       ORDER BY d2 DESC, vec_id) AS rank FROM d)
        |SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, CAST(d2 AS BIGINT) AS d2
        |FROM r WHERE rank <= 5 ORDER BY label, rank""".stripMargin,

    "text_readability" ->
      """WITH d0 AS (
        |  SELECT doc_id, text, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |d AS (SELECT doc_id,
        |       CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
        |       words
        |      FROM d0 WHERE len(words) > 0),
        |t AS (SELECT doc_id, n_sentences, unnest(words) AS w FROM d),
        |s AS (SELECT doc_id, n_sentences,
        |       CAST(greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1) AS BIGINT) AS syl
        |      FROM t),
        |g AS (SELECT doc_id, n_sentences, COUNT(*) AS n_words,
        |       CAST(SUM(syl) AS BIGINT) AS n_syllables
        |      FROM s GROUP BY 1, 2)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        | CAST((39 * n_words * n_words + 1180 * n_syllables * n_sentences)
        |   // (n_sentences * n_words) - 1559 AS BIGINT) AS fk_centi
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_spatial_join" ->
      """WITH p AS (
        |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS xc,
        |   TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) * 100 AS yc
        |  FROM events WHERE value IS NOT NULL),
        |p2 AS (SELECT * FROM p WHERE yc IS NOT NULL),
        |h AS (SELECT *, xc // 200 AS cx, yc // 200 AS cy FROM p2),
        |probe AS (SELECT event_id AS a_id, xc AS ax, yc AS ay,
        |           cx + dx.i AS ncx, cy + dy.i AS ncy
        |          FROM h, generate_series(-1, 1) AS dx(i), generate_series(-1, 1) AS dy(i)),
        |cand AS (SELECT a_id, COUNT(*) AS n_neighbors,
        |          MIN((ax - bx) * (ax - bx) + (ay - byc) * (ay - byc)) AS d2_min
        |         FROM probe JOIN (SELECT event_id AS b_id, xc AS bx, yc AS byc,
        |                cx AS ncx, cy AS ncy FROM h) b USING (ncx, ncy)
        |         WHERE a_id <> b_id
        |          AND (ax - bx) * (ax - bx) + (ay - byc) * (ay - byc) <= 40000
        |         GROUP BY a_id)
        |SELECT p2.event_id, CAST(COALESCE(n_neighbors, 0) AS BIGINT) AS n_neighbors,
        | CAST(d2_min AS BIGINT) AS d2_min
        |FROM p2 LEFT JOIN cand ON p2.event_id = cand.a_id
        |ORDER BY event_id""".stripMargin,

    // DBSCAN on the thinned plane, fully oracled: all-pairs distance
    // join (the oracle-side O(n²) — Spark uses the grid), degree ≥
    // minPts cores, recursive-CTE closure over core-core edges for
    // cluster identity (component-min core id), min-label border attach
    // r8: the grid construction replaces the all-pairs twin (which hit
    // the sf1 oracle timeout) — same answer, bounded derivation
    "q_dbscan_small" -> dbscanGridOracleSql(R = 200L, planeMod = 8L),

    "dedup_sweep" ->
      (prodPairsCtesSql(thrSql = "0.2999") + """,
        |t AS (SELECT i * 100000 AS thr_ppm FROM generate_series(3, 9) AS g(i))
        |SELECT CAST(thr_ppm AS BIGINT) AS thr_ppm,
        | CAST(COALESCE((SELECT COUNT(*) FROM ppairs WHERE j_ppm >= thr_ppm), 0) AS BIGINT) AS n_pairs
        |FROM t ORDER BY thr_ppm""".stripMargin),

    "text_filter_cascade" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |st AS (SELECT doc_id,
        |        CAST(len(words) AS BIGINT) AS n_words,
        |        CAST(list_sum(list_transform(words, w -> length(w))) AS BIGINT) AS chars,
        |        CAST(len(list_filter(words, w -> w IN ('the', 'a'))) AS BIGINT) AS stopword_hits
        |       FROM d),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |cls AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |        FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |f AS (SELECT st.doc_id, n_words,
        |       CASE WHEN n_words = 0 THEN NULL ELSE (100 * chars) // n_words END AS mwl_centi,
        |       stopword_hits, logit_milli
        |      FROM st LEFT JOIN cls ON st.doc_id = cls.doc_id),
        |r AS (SELECT *,
        |       CASE
        |        WHEN n_words < 10 OR n_words > 5000 THEN 'word_count'
        |        WHEN mwl_centi < 200 OR mwl_centi > 1200 THEN 'word_length'
        |        WHEN stopword_hits < 1 THEN 'stopword'
        |        WHEN logit_milli IS NULL OR logit_milli <= -500 THEN 'classifier'
        |        ELSE NULL END AS first_fail
        |      FROM f)
        |SELECT doc_id, n_words, mwl_centi, stopword_hits, logit_milli,
        | first_fail, first_fail IS NULL AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_textrank" ->
      """WITH RECURSIVE
        |d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |w AS (SELECT words FROM d WHERE len(words) > 1),
        |bp AS (SELECT unnest(generate_series(1, len(words) - 1)) AS i, words FROM w),
        |e0 AS (SELECT DISTINCT words[i] AS a, words[i + 1] AS b
        |       FROM bp WHERE words[i] <> words[i + 1]),
        |edges AS (SELECT src, dst FROM (SELECT a AS src, b AS dst FROM e0
        |          UNION ALL SELECT b, a FROM e0) GROUP BY src, dst),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |n AS (SELECT COUNT(*) AS n_nodes FROM deg),
        |pr(iter, node, rank) AS (
        |  SELECT 0, src, CAST(1000000000000 // n_nodes AS BIGINT) FROM deg, n
        |  UNION ALL
        |  SELECT p.iter + 1, e.dst,
        |    CAST(150000000000 // n.n_nodes
        |         + SUM((p.rank * 85) // (100 * d.outdeg)) AS BIGINT)
        |  FROM pr p
        |  JOIN deg d ON d.src = p.node
        |  JOIN edges e ON e.src = p.node
        |  CROSS JOIN n
        |  WHERE p.iter < 10
        |  GROUP BY p.iter, e.dst, n.n_nodes
        |)
        |SELECT node AS word, CAST(rank AS BIGINT) AS rank FROM pr WHERE iter = 10
        |ORDER BY rank DESC, word LIMIT 30""".stripMargin,

    "q_pr_auc" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.doc_id, sc.logit_milli, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |r AS (SELECT *, row_number() OVER (ORDER BY logit_milli DESC, doc_id) AS rank,
        |       SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) OVER (ORDER BY logit_milli DESC, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos FROM lab),
        |n AS (SELECT COUNT(*) AS n_docs FROM lab)
        |SELECT n.n_docs, COUNT(*) AS n_pos,
        | CAST(SUM(CAST(cum_pos AS HUGEINT) * 1000000 // rank) // COUNT(*) AS BIGINT) AS ap_ppm
        |FROM r CROSS JOIN n WHERE is_pos GROUP BY n.n_docs""".stripMargin,

    "q_ks_stat" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS s
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.s, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |g AS (SELECT s, CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |       CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |      FROM lab GROUP BY s),
        |r AS (SELECT s,
        |       SUM(np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
        |       SUM(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        |      FROM g),
        |tt AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg FROM g),
        |dd AS (SELECT s, abs(CAST(cp AS HUGEINT) * tt.n_neg - CAST(cn AS HUGEINT) * tt.n_pos) AS dn,
        |        tt.n_pos, tt.n_neg FROM r CROSS JOIN tt)
        |SELECT n_pos, n_neg,
        | CAST(dn * 1000000 // (CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT) AS ks_ppm,
        | s AS at_logit
        |FROM dd ORDER BY dn DESC, s LIMIT 1""".stripMargin,

    "q_gains" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.doc_id, sc.logit_milli, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |n AS (SELECT COUNT(*) AS n FROM lab),
        |r AS (SELECT *, row_number() OVER (ORDER BY logit_milli DESC, doc_id) AS i FROM lab),
        |g AS (SELECT CAST((i - 1) * 10 // n.n + 1 AS BIGINT) AS decile,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |       MAX(n.n) AS n_all
        |      FROM r CROSS JOIN n GROUP BY 1),
        |c AS (SELECT *,
        |       SUM(n_pos) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |       SUM(n_docs) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_docs,
        |       SUM(n_pos) OVER () AS tot_pos FROM g)
        |SELECT decile, n_docs, n_pos, CAST(cum_pos AS BIGINT) AS cum_pos,
        | CAST(CAST(cum_pos AS HUGEINT) * 1000000 // tot_pos AS BIGINT) AS gain_ppm,
        | CAST(CAST(cum_pos AS HUGEINT) * n_all * 1000000
        |   // (CAST(cum_docs AS HUGEINT) * tot_pos) AS BIGINT) AS lift_ppm
        |FROM c ORDER BY decile""".stripMargin,

    "q_confusion" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.logit_milli, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |m AS (SELECT
        |  CAST(SUM(CASE WHEN is_pos AND logit_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |  CAST(SUM(CASE WHEN NOT is_pos AND logit_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |  CAST(SUM(CASE WHEN is_pos AND logit_milli <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |  CAST(SUM(CASE WHEN NOT is_pos AND logit_milli <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        | FROM lab)
        |SELECT tp, fp, fn, tn,
        | CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
        | CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
        | CAST(CAST(2 AS HUGEINT) * tp * 1000000
        |   // (CAST(2 AS HUGEINT) * tp + fp + fn) AS BIGINT) AS f1_ppm,
        | CAST((tp + tn) * 1000000 // (tp + fp + fn + tn) AS BIGINT) AS accuracy_ppm
        |FROM m""".stripMargin,

    "q_link_predict" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (SELECT a.pk AS a, b.pk AS b
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |sym AS (SELECT a AS src, b AS dst FROM e0
        |        UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY 1),
        |ctr AS (SELECT node, deg FROM deg WHERE deg BETWEEN 2 AND 64),
        |w AS (SELECT x.dst AS u, y.dst AS v, ctr.deg AS degz
        |      FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
        |      JOIN ctr ON ctr.node = x.src),
        |sc AS (SELECT u, v, COUNT(*) AS common_neighbors,
        |        CAST(SUM(1000000 // degz) AS BIGINT) AS ra_ppm
        |       FROM w GROUP BY 1, 2),
        |cand AS (SELECT sc.* FROM sc LEFT JOIN e0 ON sc.u = e0.a AND sc.v = e0.b
        |         WHERE e0.a IS NULL)
        |SELECT u AS part_u, v AS part_v, common_neighbors, ra_ppm
        |FROM cand ORDER BY ra_ppm DESC, common_neighbors DESC, u, v LIMIT 50""".stripMargin,

    "vec_cluster_eval" ->
      """WITH m AS (SELECT vec_id, label,
        |       list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS mv
        |      FROM embeddings),
        |e AS (SELECT label, unnest(generate_series(1, len(mv))) AS p, mv FROM m),
        |cp AS (SELECT label, p, COUNT(*) AS n, SUM(mv[p]) AS s FROM e GROUP BY 1, 2),
        |c AS (SELECT label, p, CAST((s + n * 10000000) // n - 10000000 AS BIGINT) AS cv FROM cp),
        |t AS (SELECT vec_id, label, unnest(generate_series(1, len(mv))) AS p, mv FROM m),
        |d AS (SELECT t.vec_id, t.label, SUM((mv[t.p] - cv) * (mv[t.p] - cv)) AS d2
        |      FROM t JOIN c ON t.label = c.label AND t.p = c.p GROUP BY 1, 2),
        |coh AS (SELECT label, COUNT(*) AS n_vecs,
        |         CAST(SUM(CAST(d2 AS HUGEINT)) // COUNT(*) AS BIGINT) AS mean_d2
        |        FROM d GROUP BY 1),
        |cd AS (SELECT a.label AS label, b.label AS lb,
        |        CAST(SUM((a.cv - b.cv) * (a.cv - b.cv)) AS BIGINT) AS cd2
        |       FROM c a JOIN c b ON a.p = b.p AND a.label <> b.label GROUP BY 1, 2),
        |sep AS (SELECT label, lb AS nearest_label, cd2 AS sep_d2,
        |         row_number() OVER (PARTITION BY label ORDER BY cd2, lb) AS rn FROM cd)
        |SELECT coh.label, coh.n_vecs, coh.mean_d2, sep.nearest_label, sep.sep_d2,
        | CAST(CAST(coh.mean_d2 AS HUGEINT) * 1000000 // sep.sep_d2 AS BIGINT) AS cohesion_ppm
        |FROM coh LEFT JOIN sep ON coh.label = sep.label AND sep.rn = 1
        |ORDER BY coh.label""".stripMargin,

    "q_clamped_balance" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |   CAST(round(value * 100) AS BIGINT) - 5000 AS delta_c
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |p AS (SELECT *, SUM(delta_c) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pfx FROM e),
        |b AS (SELECT *, pfx - LEAST(MIN(pfx) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS balance_c FROM p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |       ORDER BY ts_us DESC, event_id DESC) AS rn FROM b)
        |SELECT user_id, COUNT(*) AS n_tx,
        | CAST(MAX(CASE WHEN rn = 1 THEN balance_c END) AS BIGINT) AS final_balance_c,
        | CAST(MAX(balance_c) AS BIGINT) AS peak_balance_c,
        | CAST(SUM(CASE WHEN balance_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_floor_hits
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_bootstrap" ->
      """WITH e AS (
        |  SELECT event_id, CAST(round(value * 100) AS BIGINT) AS value_c
        |  FROM events WHERE value IS NOT NULL),
        |x AS (SELECT event_id, value_c, unnest(generate_series(0, 31)) AS b FROM e),
        |u AS (SELECT *, CAST(('0x' || substr(md5(concat(CAST(event_id AS VARCHAR), ':',
        |        CAST(b AS VARCHAR))), 1, 8)) AS BIGINT) % 1000000 AS uu FROM x),
        |w AS (SELECT b, value_c,
        |       CASE WHEN uu < 367879 THEN 0 WHEN uu < 735759 THEN 1
        |        WHEN uu < 919699 THEN 2 WHEN uu < 981012 THEN 3
        |        WHEN uu < 996340 THEN 4 ELSE 5 END AS w
        |      FROM u)
        |SELECT b, CAST(SUM(w) AS BIGINT) AS n_samples,
        | CAST(SUM(w * value_c) AS BIGINT) AS sum_c,
        | CAST(SUM(w * value_c) // SUM(w) AS BIGINT) AS mean_c
        |FROM w GROUP BY b ORDER BY b""".stripMargin,

    "q_ts_cv_folds" ->
      """WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL),
        |bounds AS (SELECT MIN(ts_us) AS t0, MAX(ts_us) AS t1 FROM e),
        |folds AS (SELECT unnest(generate_series(1, 5)) AS fold),
        |r AS (SELECT fold,
        |       t0 + fold * ((t1 - t0) // 6) AS train_end_us,
        |       t0 + fold * ((t1 - t0) // 6) + 3600000000 AS val_start_us,
        |       t0 + (fold + 1) * ((t1 - t0) // 6) AS val_end_us
        |      FROM folds CROSS JOIN bounds)
        |SELECT fold, train_end_us, val_start_us, val_end_us,
        | CAST(SUM(CASE WHEN ts_us < train_end_us THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        | CAST(SUM(CASE WHEN ts_us >= val_start_us AND ts_us < val_end_us
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_val
        |FROM e CROSS JOIN r GROUP BY 1, 2, 3, 4 ORDER BY fold""".stripMargin,

    "q_value_share" ->
      """WITH li AS (SELECT l_partkey,
        |  CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |  FROM lineitem),
        |pp AS (SELECT l_partkey, SUM(CAST(rev_cp AS HUGEINT)) AS v FROM li GROUP BY 1),
        |t AS (SELECT SUM(v) AS tot, COUNT(*) AS np FROM pp)
        |SELECT l_partkey, CAST(v AS BIGINT) AS part_value_cp,
        |  CAST(v * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM pp CROSS JOIN t WHERE v * np * 2 > tot * 3
        |ORDER BY part_value_cp DESC, l_partkey""".stripMargin,

    "q_late_blame" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    date_diff('day', o_orderdate, l_shipdate) > 60 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS (SELECT ok, sk, max(late) AS late FROM li GROUP BY ok, sk),
        |b AS (SELECT l.ok, l.sk FROM p l WHERE l.late
        |  AND EXISTS (SELECT 1 FROM p o WHERE o.ok = l.ok AND o.sk <> l.sk)
        |  AND NOT EXISTS (SELECT 1 FROM p o WHERE o.ok = l.ok AND o.sk <> l.sk AND o.late))
        |SELECT s_suppkey, s_name, numwait FROM
        |  (SELECT sk, CAST(count(*) AS BIGINT) AS numwait FROM b GROUP BY sk) j
        |  JOIN supplier ON sk = s_suppkey
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,

    "q_dormant_rich" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
        |a AS (SELECT SUM(bal_c) // COUNT(1) AS avg_c FROM c WHERE bal_c > 0)
        |SELECT c_nationkey, CAST(COUNT(1) AS BIGINT) AS numcust,
        |  CAST(SUM(bal_c) AS BIGINT) AS totacctbal_c
        |FROM c CROSS JOIN a
        |WHERE bal_c > avg_c
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |    AND o.o_orderdate >= DATE '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "ann_rrf" ->
      """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM v),
        |nf AS (SELECT * FROM n WHERE nrm > 0),
        |cosl AS (SELECT * FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) DESC,
        |        c.vec_id) AS BIGINT) AS rank_cos
        |  FROM nf q, nf c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        | WHERE rank_cos <= 64),
        |dotl AS (SELECT * FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_dot_product(q.e, c.e), 6) DESC, c.vec_id) AS BIGINT)
        |      AS rank_dot
        |  FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id)
        | WHERE rank_dot <= 64),
        |f AS (SELECT query_id, neighbor_id, rank_cos, rank_dot,
        |    coalesce(1000000 // (60 + rank_cos), 0)
        |      + coalesce(1000000 // (60 + rank_dot), 0) AS rrf_score
        |  FROM cosl FULL OUTER JOIN dotl USING (query_id, neighbor_id)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, neighbor_id) AS rk FROM f)
        |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
        |  CAST(rrf_score AS BIGINT) AS rrf_score, rank_cos, rank_dot
        |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin,

    "corpus_interleave" ->
      """WITH d AS (SELECT doc_id, source FROM documents),
        |idx AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS src_idx
        |  FROM (SELECT DISTINCT source FROM d)),
        |s AS (SELECT COUNT(*) AS ns FROM idx),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
        |      AS src_rank
        |  FROM d)
        |SELECT r.doc_id, r.source, r.src_rank, idx.src_idx,
        |  CAST((r.src_rank - 1) * s.ns + idx.src_idx AS BIGINT) AS interleave_key
        |FROM r JOIN idx USING (source) CROSS JOIN s
        |ORDER BY interleave_key""".stripMargin,

    "q_overlap_join" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        |  FROM events WHERE ts IS NOT NULL AND event_type IN ('click', 'error')),
        |s AS (SELECT user_id, event_type, ts_us, event_id,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM s),
        |iv AS (SELECT user_id, event_type, sess,
        |    CAST(MIN(ts_us) AS BIGINT) AS s_us, CAST(MAX(ts_us) AS BIGINT) AS e_us
        |  FROM s2 GROUP BY 1, 2, 3)
        |SELECT a.user_id, a.s_us AS a_s_us, a.e_us AS a_e_us,
        |  b.s_us AS b_s_us, b.e_us AS b_e_us,
        |  least(a.e_us + 3600000000, b.e_us)
        |    - greatest(a.s_us - 3600000000, b.s_us) AS overlap_us
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |  AND a.event_type = 'click' AND b.event_type = 'error'
        |  AND a.s_us - 3600000000 <= b.e_us AND b.s_us <= a.e_us + 3600000000
        |ORDER BY a.user_id, a_s_us, b_s_us""".stripMargin,

    "q_twap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT user_id, v_c,
        |    least(coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |      - ts_us, 3600000000), 3600000000) AS w_us
        |  FROM e)
        |SELECT user_id, CAST(COUNT(1) AS BIGINT) AS n_ticks,
        |  CAST(SUM(w_us) AS BIGINT) AS held_us,
        |  CAST(SUM(CAST(v_c AS HUGEINT) * w_us) // SUM(w_us) AS BIGINT) AS twap_c
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_hhi" ->
      """WITH li AS (SELECT s_nationkey, s_suppkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
        |ps AS (SELECT s_nationkey, s_suppkey, SUM(CAST(rev_cp AS HUGEINT)) AS v
        |  FROM li GROUP BY 1, 2)
        |SELECT s_nationkey, CAST(COUNT(1) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(v * v) * 1000000 // (SUM(v) * SUM(v)) AS BIGINT) AS hhi_ppm
        |FROM ps GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,

    "corpus_budget" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS logit_milli
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |tok AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |j AS (SELECT sc.doc_id, sc.logit_milli, tok.n_tok FROM sc JOIN tok USING (doc_id)),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY logit_milli DESC, doc_id) AS BIGINT) AS rank,
        |      CAST(SUM(n_tok) OVER (ORDER BY logit_milli DESC, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM j),
        |bud AS (SELECT SUM(n_tok) // 2 AS budget FROM j)
        |SELECT doc_id, logit_milli, n_tok, rank, cum_tokens
        |FROM r CROSS JOIN bud WHERE cum_tokens <= budget ORDER BY rank""".stripMargin,

    "text_langid_eval" ->
      """WITH c AS (
        |  SELECT doc_id, lang AS actual_lang,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' the ', ''))) / 5 AS BIGINT) AS c_en,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' le ', ''))) / 4 AS BIGINT) AS c_fr,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' el ', ''))) / 4 AS BIGINT) AS c_es,
        |   CAST((length(lower(text)) - length(replace(lower(text), ' der ', ''))) / 5 AS BIGINT) AS c_de,
        |   CAST((length(lower(text)) - length(replace(lower(text), '的', ''))) / 1 AS BIGINT) AS c_zh
        |  FROM documents),
        |g AS (SELECT c.*, greatest(c_en, c_fr, c_es, c_de, c_zh) AS best FROM c),
        |p AS (SELECT actual_lang,
        |  CASE WHEN best = 0 THEN 'und'
        |       WHEN c_en = best THEN 'en' WHEN c_fr = best THEN 'fr'
        |       WHEN c_es = best THEN 'es' WHEN c_de = best THEN 'de'
        |       ELSE 'zh' END AS pred_lang FROM g),
        |m AS (SELECT actual_lang, pred_lang, CAST(COUNT(1) AS BIGINT) AS n_docs
        |      FROM p GROUP BY 1, 2),
        |t AS (SELECT actual_lang, SUM(n_docs) AS tot FROM m GROUP BY 1)
        |SELECT m.actual_lang, m.pred_lang, m.n_docs,
        |  CAST(m.n_docs * 1000000 // t.tot AS BIGINT) AS share_ppm,
        |  m.actual_lang = m.pred_lang AS correct
        |FROM m JOIN t USING (actual_lang)
        |ORDER BY actual_lang, pred_lang""".stripMargin,

    "q_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |    event_type, value
        |  FROM events WHERE ts IS NOT NULL),
        |c AS (SELECT user_id, MIN(d) AS cd FROM e GROUP BY user_id),
        |sz AS (SELECT cd // 7 AS cohort_wk, CAST(COUNT(1) AS BIGINT) AS n_users
        |  FROM c GROUP BY 1),
        |rev AS (SELECT c.cd // 7 AS cohort_wk, (e.d - c.cd) // 7 AS age_wk,
        |    CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        |  GROUP BY 1, 2),
        |cum AS (SELECT *, CAST(SUM(rev_c) OVER (PARTITION BY cohort_wk ORDER BY age_wk
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_c FROM rev)
        |SELECT CAST(cum.cohort_wk AS BIGINT) AS cohort_wk,
        |  CAST(cum.age_wk AS BIGINT) AS age_wk, sz.n_users, cum.rev_c, cum.cum_rev_c,
        |  cum.cum_rev_c // sz.n_users AS ltv_per_user_c
        |FROM cum JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, age_wk""".stripMargin,

    "dedup_cross_source" ->
      (prodPairsCtesSql() + """,
        |j AS (SELECT a_id, b_id FROM ppairs),
        |d AS (SELECT doc_id, source FROM documents)
        |SELECT least(da.source, db.source) AS src_lo,
        |  greatest(da.source, db.source) AS src_hi,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM j JOIN d da ON j.a_id = da.doc_id JOIN d db ON j.b_id = db.doc_id
        |GROUP BY 1, 2 ORDER BY src_lo, src_hi""".stripMargin),

    "mm_dedup_cluster" ->
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |   xor(xor(xor(xor(
        |     ((doc_id // 25) * 2654435761) & ((CAST(1 AS BIGINT) << 60) - 1),
        |     CASE WHEN doc_id % 5 >= 1 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 1) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 2 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 2) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 3 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 3) % 60 AS INT)) ELSE 0 END),
        |     CASE WHEN doc_id % 5 >= 4 THEN (CAST(1 AS BIGINT) << CAST((doc_id * 4) % 60 AS INT)) ELSE 0 END) AS phash
        |  FROM documents),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id
        |      WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |edges AS (SELECT a_id AS src, b_id AS dst FROM p
        |          UNION ALL SELECT b_id AS src, a_id AS dst FROM p),
        |closure(a, b) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src),
        |lbl AS (SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(c.b), d.doc_id)) AS cluster_id
        |        FROM documents d LEFT JOIN closure c ON c.a = d.doc_id GROUP BY d.doc_id)
        |SELECT doc_id, cluster_id,
        | count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        | doc_id = cluster_id AS is_canonical
        |FROM lbl ORDER BY doc_id""".stripMargin,

    "q_min_cost" ->
      """WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS offer_c
        |  FROM lineitem GROUP BY 1, 2),
        |best AS (SELECT l_partkey, MIN(offer_c) AS min_cost_c
        |         FROM offers GROUP BY 1)
        |SELECT p.p_partkey, p.p_brand, s.s_suppkey, s.s_name, n.n_name,
        |  b.min_cost_c
        |FROM offers o
        |JOIN best b ON o.l_partkey = b.l_partkey AND o.offer_c = b.min_cost_c
        |JOIN part p ON o.l_partkey = p.p_partkey AND p.p_size <= 14
        |JOIN supplier s ON o.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY p.p_partkey, s.s_suppkey""".stripMargin,

    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)) AS total_cp
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1),
        |top AS (SELECT MAX(total_cp) AS max_cp FROM rev)
        |SELECT s.s_suppkey, s.s_name, CAST(r.total_cp AS BIGINT) AS total_rev_cp
        |FROM rev r CROSS JOIN top t
        |JOIN supplier s ON r.l_suppkey = s.s_suppkey
        |WHERE r.total_cp = t.max_cp
        |ORDER BY s.s_suppkey""".stripMargin,

    "q_parts_supp" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ok AS (SELECT pr.l_partkey, pr.l_suppkey FROM pairs pr
        |       WHERE pr.l_suppkey NOT IN
        |         (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p.p_brand, p.p_size,
        |  COUNT(DISTINCT o.l_suppkey) AS supplier_cnt
        |FROM ok o JOIN part p ON o.l_partkey = p.p_partkey
        |GROUP BY 1, 2
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    "q_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |  FROM events WHERE ts IS NOT NULL),
        |spine AS (SELECT DISTINCT d FROM ud),
        |wau AS (
        |  SELECT t.d, COUNT(DISTINCT u.user_id) AS wau
        |  FROM (SELECT ud.user_id, unnest(generate_series(ud.d, ud.d + 6)) AS d
        |        FROM ud) u
        |  JOIN spine t ON u.d = t.d GROUP BY 1),
        |mau AS (
        |  SELECT t.d, COUNT(DISTINCT u.user_id) AS mau
        |  FROM (SELECT ud.user_id, unnest(generate_series(ud.d, ud.d + 27)) AS d
        |        FROM ud) u
        |  JOIN spine t ON u.d = t.d GROUP BY 1),
        |dau AS (SELECT d, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY 1)
        |SELECT dau.d, dau.dau, wau.wau, mau.mau,
        |  dau.dau * 1000000 // mau.mau AS stickiness_ppm
        |FROM dau JOIN wau ON dau.d = wau.d JOIN mau ON dau.d = mau.d
        |ORDER BY dau.d""".stripMargin,

    "q_shortest_path" ->
      """WITH RECURSIVE
        |e0 AS (SELECT o_custkey*2 AS src, l_suppkey*2+1 AS dst,
        |        COUNT(DISTINCT l_orderkey) AS cnt
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |       GROUP BY 1, 2),
        |ed AS (SELECT src, dst, CAST(1 + 1000000 // cnt AS BIGINT) AS w FROM e0
        |       UNION ALL
        |       SELECT dst, src, CAST(1 + 1000000 // cnt AS BIGINT) FROM e0),
        |nodes AS (SELECT DISTINCT src AS node FROM ed),
        |seeds AS (SELECT DISTINCT c_custkey*2 AS node FROM customer
        |          WHERE c_nationkey = 0),
        |loops AS (SELECT node AS src, node AS dst, CAST(0 AS BIGINT) AS w
        |          FROM nodes
        |          UNION
        |          SELECT node, node, CAST(0 AS BIGINT) FROM seeds),
        |re AS (SELECT * FROM ed UNION ALL SELECT * FROM loops),
        |sp(iter, node, dist) AS (
        |  SELECT 0, node, CAST(0 AS BIGINT) FROM seeds
        |  UNION ALL
        |  SELECT p.iter + 1, e.dst, CAST(MIN(p.dist + e.w) AS BIGINT)
        |  FROM sp p JOIN re e ON e.src = p.node
        |  WHERE p.iter < 6
        |  GROUP BY p.iter, e.dst
        |)
        |SELECT node, dist FROM sp WHERE iter = 6 ORDER BY node""".stripMargin,

    "q_f1_sweep" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '') AS words
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(words) AS word FROM d),
        |b AS (SELECT doc_id,
        |       CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS bucket
        |      FROM t),
        |wt AS (SELECT i AS bucket, (i * 2654435761) % 2001 - 1000 AS w_milli
        |       FROM generate_series(0, 1023) AS g(i)),
        |sc AS (SELECT doc_id, CAST(SUM(w_milli) AS BIGINT) AS s
        |       FROM b JOIN wt USING (bucket) GROUP BY doc_id),
        |lab AS (SELECT sc.s, (docs.lang = 'en') AS is_pos
        |        FROM sc JOIN documents docs USING (doc_id)),
        |g AS (SELECT s, CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |       CAST(SUM(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |      FROM lab GROUP BY s),
        |r AS (SELECT *,
        |       COALESCE(SUM(np) OVER (ORDER BY s
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb,
        |       COALESCE(SUM(nn) OVER (ORDER BY s
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        |      FROM g),
        |tt AS (SELECT COALESCE(SUM(np), 0) AS tot_pos,
        |        COALESCE(SUM(nn), 0) AS tot_neg FROM g),
        |x AS (SELECT s AS thresh_milli,
        |       CAST(tot_pos - pb AS BIGINT) AS tp,
        |       CAST(tot_neg - nb AS BIGINT) AS fp,
        |       CAST(pb AS BIGINT) AS fn, tot_pos
        |      FROM r CROSS JOIN tt),
        |y AS (SELECT thresh_milli, tp, fp, fn,
        |       CAST(tp * 1000000 // nullif(tp + fp, 0) AS BIGINT) AS precision_ppm,
        |       CAST(tp * 1000000 // nullif(tot_pos, 0) AS BIGINT) AS recall_ppm,
        |       CAST(2 * tp * 1000000 // nullif(2 * tp + fp + fn, 0) AS BIGINT) AS f1_ppm
        |      FROM x),
        |mx AS (SELECT MAX(f1_ppm) AS mf FROM y)
        |SELECT thresh_milli, tp, fp, fn, precision_ppm, recall_ppm, f1_ppm,
        | (f1_ppm = mf) AS is_best
        |FROM y CROSS JOIN mx ORDER BY thresh_milli""".stripMargin,

    "vec_drift" ->
      """WITH m AS (SELECT vec_id, label, (vec_id % 2 = 0) AS is_a,
        |       list_transform(embedding,
        |         x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS mv
        |      FROM embeddings),
        |e AS (SELECT label, is_a, unnest(generate_series(1, len(mv))) AS p, mv FROM m),
        |cp AS (SELECT label, is_a, p, COUNT(*) AS n, SUM(mv[p]) AS s FROM e GROUP BY 1, 2, 3),
        |c AS (SELECT label, is_a, p,
        |       CAST((s + n * 10000000) // n - 10000000 AS BIGINT) AS cv FROM cp),
        |w AS (SELECT label, p,
        |       MAX(CASE WHEN is_a THEN cv END) AS ca,
        |       MAX(CASE WHEN NOT is_a THEN cv END) AS cb
        |      FROM c GROUP BY 1, 2),
        |dr AS (SELECT label, CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS drift_d2
        |       FROM w WHERE ca IS NOT NULL AND cb IS NOT NULL GROUP BY 1),
        |cnt AS (SELECT label,
        |        CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |       FROM embeddings GROUP BY 1)
        |SELECT cnt.label, cnt.n_a, cnt.n_b, dr.drift_d2
        |FROM cnt LEFT JOIN dr USING (label) ORDER BY label""".stripMargin,

    "q_order_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND date_diff('day', o.o_orderdate, l.l_shipdate) > 60)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_new_returning" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
        |  FROM events WHERE ts IS NOT NULL),
        |grid AS (SELECT user_id, d, COUNT(*) AS n_ev FROM ev GROUP BY 1, 2),
        |f AS (SELECT user_id, MIN(d) AS fd FROM grid GROUP BY 1)
        |SELECT g.d, CAST(SUM(g.n_ev) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN g.d = f.fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(SUM(CASE WHEN g.d <> f.fd THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
        |FROM grid g JOIN f USING (user_id)
        |GROUP BY g.d ORDER BY g.d""".stripMargin,

    "q_top_percent" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |r AS (SELECT *, row_number() OVER
        |       (PARTITION BY event_type ORDER BY vc DESC, event_id) AS rnk
        |      FROM ev),
        |sz AS (SELECT event_type, COUNT(*) AS n_events, SUM(vc) AS sum_all_c
        |       FROM ev GROUP BY 1)
        |SELECT r.event_type, CAST(sz.n_events AS BIGINT) AS n_events,
        |  CAST(COUNT(*) AS BIGINT) AS k_top,
        |  CAST(SUM(r.vc) AS BIGINT) AS sum_top_c,
        |  CAST(SUM(r.vc) * 1000000 // nullif(CAST(sz.sum_all_c AS BIGINT), 0) AS BIGINT)
        |    AS share_ppm
        |FROM r JOIN sz USING (event_type)
        |WHERE r.rnk <= (sz.n_events + 9) // 10
        |GROUP BY r.event_type, sz.n_events, sz.sum_all_c
        |ORDER BY r.event_type""".stripMargin,

    "q14_promo" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp,
        |    starts_with(p.p_brand, 'Brand#1') AS is_promo
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
        |    AND l.l_shipdate < TIMESTAMP '1997-04-01')
        |SELECT CAST(SUM(CASE WHEN is_promo THEN rev_cp ELSE 0 END) AS BIGINT)
        |    AS promo_rev_cp,
        |  CAST(SUM(rev_cp) AS BIGINT) AS total_rev_cp,
        |  CAST(SUM(CASE WHEN is_promo THEN rev_cp ELSE 0 END) * 1000000
        |    // nullif(SUM(rev_cp), 0) AS BIGINT) AS promo_ppm
        |FROM li""".stripMargin,

    "q10_returns" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |   CAST(round(l_extendedprice * 100) AS BIGINT)
        |     * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_cp
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |o AS (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |        AND o_orderdate < TIMESTAMP '1997-04-01'),
        |pc AS (SELECT o.o_custkey, SUM(CAST(li.rev_cp AS HUGEINT)) AS rev
        |       FROM li JOIN o ON li.l_orderkey = o.o_orderkey GROUP BY 1)
        |SELECT c.c_custkey, c.c_name, n.n_name, CAST(pc.rev AS BIGINT) AS rev_cp
        |FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY rev_cp DESC, c_custkey LIMIT 20""".stripMargin,

    "q7_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  year(l.l_shipdate) AS l_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS HUGEINT))
        |    AS BIGINT) AS volume_cp
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q6_forecast" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * CAST(round(l_discount * 100) AS BIGINT) AS HUGEINT)) AS BIGINT)
        |    AS revenue_cp
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q8_mktshare" ->
      """WITH li AS (
        |  SELECT l.l_orderkey, sn.n_name AS supp_nation,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS vol_cp
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        |agg AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |    SUM(CAST(CASE WHEN li.supp_nation = 'NATION_7' THEN li.vol_cp
        |      ELSE 0 END AS HUGEINT)) AS nv,
        |    SUM(CAST(li.vol_cp AS HUGEINT)) AS tv
        |  FROM li
        |  JOIN orders o ON li.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |  JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT o_year, CAST(nv AS BIGINT) AS nation_vol_cp,
        |  CAST(tv AS BIGINT) AS total_vol_cp,
        |  CAST(nv * 1000000 // nullif(tv, 0) AS BIGINT) AS mkt_share_ppm
        |FROM agg ORDER BY o_year""".stripMargin,

    "q9_profit" ->
      """WITH li AS (
        |  SELECT l.l_orderkey, n.n_name AS nation,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
        |      - CAST(l.l_quantity AS BIGINT)
        |        * CAST(round(p.p_retailprice * 10) AS BIGINT) * 100 AS amount_cp
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT li.nation, year(o.o_orderdate) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(li.amount_cp AS HUGEINT)) AS BIGINT) AS profit_cp
        |FROM li JOIN orders o ON li.l_orderkey = o.o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q12_latesplit" ->
      """SELECT l.l_returnflag,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |  AND date_diff('day', CAST(o.o_orderdate AS DATE),
        |    CAST(l.l_shipdate AS DATE)) > 90
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_brand_ranges" ->
      """WITH j AS (
        |  SELECT CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_cp
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
        |      AND l.l_quantity BETWEEN 1 AND 11)
        |    OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 20
        |      AND l.l_quantity BETWEEN 10 AND 20)
        |    OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 25
        |      AND l.l_quantity BETWEEN 20 AND 30))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(rev_cp AS HUGEINT)) AS BIGINT) AS revenue_cp
        |FROM j""".stripMargin,

    "corpus_epochs" ->
      """WITH w AS (
        |  SELECT doc_id, source, CAST(len(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '')) AS BIGINT) AS n_tok FROM documents),
        |per AS (
        |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(floor(sqrt(CAST(SUM(n_tok) AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
        |  FROM w GROUP BY source),
        |t AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS tot_w FROM per),
        |plan AS (
        |  SELECT source,
        |    (w_micro * 100000 // nullif(tot_w, 0)) * 1000
        |      // nullif(n_tokens, 0) AS e_milli
        |  FROM per, t),
        |rk AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        |       FROM w)
        |SELECT rk.doc_id, rk.source, CAST(rk.r AS BIGINT) AS r,
        |  CAST(p.e_milli * rk.r // 1000 - p.e_milli * (rk.r - 1) // 1000 AS BIGINT)
        |    AS n_copies
        |FROM rk JOIN plan p USING (source)
        |ORDER BY rk.doc_id""".stripMargin,

    "q_skyline" ->
      """WITH p AS (SELECT DISTINCT CAST(l_quantity AS BIGINT) AS qty,
        |        CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |       FROM lineitem),
        |w AS (SELECT qty, price_c,
        |       MIN(price_c) OVER (ORDER BY qty DESC, price_c ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
        |      FROM p)
        |SELECT qty, price_c FROM w WHERE prev_min IS NULL OR prev_min > price_c
        |ORDER BY qty DESC, price_c""".stripMargin,

    "q_quintile_shift" ->
      """WITH uw AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk,
        |   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1, 2),
        |sz AS (SELECT wk, COUNT(*) AS n FROM uw GROUP BY 1),
        |rk AS (SELECT uw.*, sz.n,
        |        row_number() OVER (PARTITION BY uw.wk ORDER BY uw.rev, uw.user_id) AS r
        |       FROM uw JOIN sz USING (wk)),
        |t AS (SELECT user_id, wk, (r - 1) * 5 // n + 1 AS tile FROM rk)
        |SELECT a.tile AS tile_from, b.tile AS tile_to,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM t a JOIN t b ON a.user_id = b.user_id AND b.wk = a.wk + 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_allocation" ->
      """WITH per AS (
        |  SELECT event_type, COUNT(*) AS n FROM events
        |  WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT SUM(n) AS tot FROM per),
        |b AS (SELECT per.event_type, CAST(per.n AS BIGINT) AS n,
        |       CAST(per.n * 1000 // t.tot AS BIGINT) AS base,
        |       CAST(per.n * 1000 % t.tot AS BIGINT) AS rem
        |      FROM per, t),
        |l AS (SELECT 1000 - SUM(base) AS leftover FROM b),
        |r AS (SELECT b.*, row_number() OVER (ORDER BY rem DESC, event_type) AS rk
        |      FROM b)
        |SELECT event_type, n, base, rem,
        |  CAST(base + CASE WHEN rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS granted
        |FROM r, l ORDER BY event_type""".stripMargin,

    "q_sql_topk" ->
      """WITH rev AS (
        |  SELECT o.o_custkey, CAST(year(o.o_orderdate) AS BIGINT) AS yr,
        |    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT yr, o_custkey, rev_c,
        |    row_number() OVER (PARTITION BY yr
        |      ORDER BY rev_c DESC, o_custkey) AS rn
        |  FROM rev)
        |SELECT yr, o_custkey, rev_c FROM rk WHERE rn <= 5
        |ORDER BY yr, rev_c DESC, o_custkey""".stripMargin,

    "q_lead_time" ->
      """WITH per AS (
        |  SELECT l_orderkey, MAX(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(MIN(date_diff('day', o.o_orderdate, p.last_ship)) AS BIGINT)
        |    AS min_days,
        |  CAST(MAX(date_diff('day', o.o_orderdate, p.last_ship)) AS BIGINT)
        |    AS max_days,
        |  CAST(SUM(CAST(date_diff('day', o.o_orderdate, p.last_ship) AS BIGINT))
        |    // COUNT(*) AS BIGINT) AS avg_days
        |FROM per p JOIN orders o ON p.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_heaps" ->
      """WITH n AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
        |    x -> x <> '')) AS word FROM documents),
        |fo AS (SELECT word, MIN(doc_id) AS fd FROM w GROUP BY 1),
        |nw AS (SELECT fd * 10 // n.n AS bucket, CAST(COUNT(*) AS BIGINT) AS new_words
        |       FROM fo, n GROUP BY 1),
        |dp AS (SELECT doc_id * 10 // n.n AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
        |       FROM documents, n GROUP BY 1)
        |SELECT dp.bucket, dp.n_docs,
        |  COALESCE(nw.new_words, 0) AS new_words,
        |  CAST(SUM(dp.n_docs) OVER (ORDER BY dp.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |  CAST(SUM(COALESCE(nw.new_words, 0)) OVER (ORDER BY dp.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM dp LEFT JOIN nw ON dp.bucket = nw.bucket
        |ORDER BY dp.bucket""".stripMargin,

    "dedup_length_profile" ->
      (prodPairsCtesSql() + """,
        |j AS (SELECT a_id, b_id FROM ppairs),
        |dup AS (SELECT DISTINCT doc_id FROM
        |        (SELECT a_id AS doc_id FROM j UNION ALL SELECT b_id FROM j)),
        |rk AS (SELECT d.doc_id, d.n_chars,
        |        row_number() OVER (ORDER BY d.n_chars, d.doc_id) AS r,
        |        COUNT(*) OVER () AS n
        |       FROM documents d)
        |SELECT (r - 1) * 10 // n + 1 AS decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(MIN(rk.n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(rk.n_chars) AS BIGINT) AS max_chars,
        |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |    // nullif(COUNT(*), 0) AS BIGINT) AS dup_ppm
        |FROM rk LEFT JOIN dup ON rk.doc_id = dup.doc_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "q_week_profile" ->
      """SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS BIGINT) AS dow,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hod,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_pareto" ->
      """WITH pu AS (
        |  SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type = 'purchase'
        |  GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot_users,
        |       CAST(COALESCE(SUM(rev_c), 0) AS BIGINT) AS tot_rev_c FROM pu),
        |r AS (SELECT *,
        |       row_number() OVER (ORDER BY rev_c DESC, user_id) AS rnk,
        |       SUM(rev_c) OVER (ORDER BY rev_c DESC, user_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
        |      FROM pu)
        |SELECT t.tot_users, t.tot_rev_c,
        |  CAST(MIN(r.rnk) AS BIGINT) AS k_users,
        |  CAST(MIN(r.rnk) * 1000000 // nullif(t.tot_users, 0) AS BIGINT) AS k_share_ppm
        |FROM r, t WHERE r.cum_c * 5 >= t.tot_rev_c * 4
        |GROUP BY t.tot_users, t.tot_rev_c""".stripMargin,

    // r8: the all-pairs levenshtein product (an sf1 900 s timeout) is
    // replaced by an independent SQL replay of the symmetric-delete
    // blocking PLUS a clique collapse (the dbscan grid-oracle trick on
    // the name plane): the part key is the name MINUS ITS LAST CHAR,
    // so part-mates share length and all but the final character —
    // pairwise lev<=1, provably a clique — and those parts contract
    // along true edges. EVERYTHING then runs at part level —
    // the variant index projects to (part, variant), candidate PART
    // pairs come from shared D<=2 variants (complete: a true cross-
    // part pair shares a variant, which both parts inherit), and the
    // levenshtein verify runs only across candidate part pairs' name
    // products. On a dense numeric namespace this cuts the candidate
    // join ~bucket²/part-bucket² (~100x) and the recursive closure to
    // the part graph. Labels stay min-key-per-component: part label =
    // min key over reachable parts' min keys.
    "linkage_cluster" ->
      """WITH RECURSIVE
        |nm AS MATERIALIZED (SELECT DISTINCT s_name AS name FROM supplier),
        |vx AS MATERIALIZED (
        |  SELECT DISTINCT name, v FROM (
        |    SELECT name, name AS v FROM nm
        |    UNION ALL
        |    SELECT name, substr(name, 1, i-1) || substr(name, i+1) AS v
        |    FROM nm, generate_series(1, 64) g(i) WHERE i <= len(name)
        |    UNION ALL
        |    SELECT name, substr(name, 1, i-1) || substr(name, i+1, j-i-1) || substr(name, j+1) AS v
        |    FROM nm, generate_series(1, 63) g(i), generate_series(2, 64) h(j)
        |    WHERE j > i AND j <= len(name) AND i <= len(name) - 1)),
        |d1p AS MATERIALIZED (
        |  SELECT name, substr(name, 1, greatest(len(name) - 1, 0)) AS part FROM nm),
        |px AS MATERIALIZED (
        |  SELECT DISTINCT d.part, vx.v FROM vx JOIN d1p d USING (name)),
        |cpp AS MATERIALIZED (
        |  SELECT DISTINCT a.part AS pa, b.part AS pb
        |  FROM px a JOIN px b ON a.v = b.v AND a.part < b.part),
        |sed AS MATERIALIZED (
        |  SELECT DISTINCT c.pa AS u, c.pb AS v
        |  FROM cpp c JOIN d1p da ON da.part = c.pa
        |             JOIN d1p db ON db.part = c.pb
        |  WHERE levenshtein(da.name, db.name) <= 2),
        |sym AS MATERIALIZED (SELECT u, v FROM sed UNION ALL SELECT v AS u, u AS v FROM sed),
        |closure(u, v) AS (
        |  SELECT u, v FROM sym
        |  UNION
        |  SELECT c.u, e.v FROM closure c JOIN sym e ON e.u = c.v WHERE e.v <> c.u),
        |pmin AS MATERIALIZED (
        |  SELECT d.part, MIN(s.s_suppkey) AS mk
        |  FROM supplier s JOIN d1p d ON d.name = s.s_name GROUP BY d.part),
        |plbl AS MATERIALIZED (
        |  SELECT p0.part, LEAST(p0.mk, COALESCE(MIN(pm.mk), p0.mk)) AS cluster_id
        |  FROM pmin p0 LEFT JOIN closure c ON c.u = p0.part
        |               LEFT JOIN pmin pm ON pm.part = c.v
        |  GROUP BY p0.part, p0.mk),
        |lbl AS (SELECT s.s_suppkey, pl.cluster_id
        |        FROM supplier s JOIN d1p d ON d.name = s.s_name
        |                        JOIN plbl pl ON pl.part = d.part)
        |SELECT s.s_suppkey, s.s_name, l.cluster_id,
        |  CAST(COUNT(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size,
        |  s.s_suppkey = l.cluster_id AS is_canonical
        |FROM supplier s JOIN lbl l USING (s_suppkey)
        |ORDER BY s.s_suppkey""".stripMargin,

    "q_user_features" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
        |   event_type, CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE ts IS NOT NULL)
        |SELECT user_id,
        |  CAST(MIN(d) AS BIGINT) AS first_day,
        |  CAST(MAX(d) AS BIGINT) AS last_day,
        |  CAST(MAX(d) - MIN(d) + 1 AS BIGINT) AS tenure_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchases,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN vc ELSE 0 END) AS BIGINT)
        |    AS rev_c,
        |  CAST(COUNT(DISTINCT d) AS BIGINT) AS days_active,
        |  CAST(COUNT(*) * 1000 // nullif(COUNT(DISTINCT d), 0) AS BIGINT)
        |    AS events_per_day_milli
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
  )
}

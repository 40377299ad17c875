package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 with a SQL-expressible shape appears in
  * both `queries` (the Spark implementation) and `oracleSql` (the DuckDB
  * reference SQL the driver runs on the same parquet tables). Column names
  * and rounding are aligned pairwise: the driver's compare sorts columns by
  * name and hashes values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, each under the
    * codegen policy ([[SessionConf.sized]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational / analytics core
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q03_top_orders" -> (Relational.q03TopOrders _),
    "q05_region_revenue" -> (Relational.q05RegionRevenue _),
    "q10_returned_items" -> (Relational.q10ReturnedItems _),
    "q_part_supplier" -> (Relational.qPartSupplier _),
    "q04_order_priority" -> (Relational.q04OrderPriority _),
    "q22_no_orders" -> (Relational.q22NoOrders _),
    "q_rollup" -> (Relational.qRollup _),
    "q_orders_skip" -> (Scale.ordersKeyRangeSkip _),
    "q18_large_orders" -> (Relational.q18LargeOrders _),
    "q13_customer_dist" -> (Relational.q13CustomerDist _),
    "q_repeat_customers" -> (Relational.qRepeatCustomers _),
    "q06_forecast_revenue" -> (Relational.q06ForecastRevenue _),
    "q15_top_supplier" -> (Relational.q15TopSupplier _),
    "q16_parts_suppliers" -> (Relational.q16PartsSuppliers _),
    "q17_small_quantity" -> (Relational.q17SmallQuantity _),
    "q07_volume_shipping" -> (Relational.q07VolumeShipping _),
    "q08_market_share" -> (Relational.q08MarketShare _),
    "q14_promo_revenue" -> (Relational.q14PromoRevenue _),
    "q19_disjunctive" -> (Relational.q19DisjunctiveRevenue _),
    "q09_nation_profit" -> (Relational.q09NationProfit _),
    "q11_important_nations" -> (Relational.q11ImportantNations _),
    "q12_ship_delay" -> (Relational.q12ShipDelay _),
    "q21_sole_late_supplier" -> (Relational.q21SoleLateSupplier _),
    "q20_dominant_suppliers" -> (Relational.q20DominantSuppliers _),
    "q_churned_customers" -> (Relational.qChurnedCustomers _),
    "q02_min_cost_supplier" -> (Relational.q02MinCostSupplier _),
    // Event-pipeline semantics
    "ev_route_counts" -> (Events.routeCounts _),
    "ev_json_extract" -> (Events.jsonExtract _),
    "ev_latest_per_user" -> (Events.latestPerUser _),
    "ev_dedup_first" -> (Events.dedupFirst _),
    "ev_sessionize" -> (Events.sessionize _),
    "ev_sessionize_daily" -> (Events.sessionizeDaily _),
    "ev_running_total" -> (Events.runningTotal _),
    "ev_ema" -> (Events.ema _),
    "ev_daily_stats" -> (Events.dailyStats _),
    "ev_topk_users" -> (Events.topkUsers _),
    "ev_pivot_types" -> (Events.pivotTypes _),
    "ev_moving_avg" -> (Events.movingAvg _),
    "ev_asof_signup" -> (Events.asofSignup _),
    "ev_cube_stats" -> (Events.cubeStats _),
    "ev_rank_delta" -> (Events.dailyRankDelta _),
    "ev_cohort_retention" -> (Events.cohortRetention _),
    "ev_funnel" -> (Events.funnel _),
    "ev_hll_users" -> (Events.hllUsers _),
    "ev_anomalies" -> (Events.anomalies _),
    "ev_histogram" -> (Events.histogram _),
    "ev_gap_fill" -> (Events.gapFill _),
    "ev_user_lifecycle" -> (Events.userLifecycle _),
    "ev_purchase_context" -> (Events.purchaseContext _),
    "ev_rolling_dau" -> (Events.rollingDau _),
    // mergeable-sketch rollups (daily HLL union, CMS point frequencies)
    "ev_hll_rollup" -> (Sketches.hllRollup _),
    "ev_cms_user_counts" -> (Sketches.cmsUserCounts _),
    "ev_quantiles_approx" -> (Events.valueQuantilesApprox _),
    "ev_day_quartiles" -> (Events.dayQuartiles _),
    "ev_grouping_sets" -> (Events.groupingSetsStats _),
    "ev_band_join" -> (Events.bandJoin _),
    "ev_daily_incremental" -> (IncrementalAgg.dailyStatsIncremental _),
    "ev_browse_abandon" -> (Events.browseAbandon _),
    "ev_transition_matrix" -> (Events.transitionMatrix _),
    "ev_inter_event" -> (Events.interEvent _),
    "ev_attribution" -> (Events.attribution _),
    "samp_target_mix" -> (Sampling.targetMix _),
    // Text analysis
    "text_tokens" -> (TextOps.tokens _),
    "text_quality" -> (TextOps.quality _),
    "text_gopher_rules" -> (TextOps.gopherRules _),
    "text_langid" -> (TextOps.langid _),
    "text_fingerprint" -> (TextOps.fingerprint _),
    "doc_stats" -> (TextOps.docStats _),
    "text_len_quantiles" -> (TextOps.lengthQuantiles _),
    "text_bigrams" -> (TextOps.bigrams _),
    "text_ttr" -> (TextOps.ttr _),
    "text_chunk" -> (TextOps.chunk _),
    "text_repetition" -> (TextOps.repetition _),
    "text_zipf" -> (TextOps.zipf _),
    "text_pii_scrub" -> (TextOps.piiScrub _),
    "text_boilerplate" -> (TextOps.boilerplate _),
    "text_keywords" -> (TextOps.keywords _),
    // BM25 ranked retrieval over the inverted-postings shape
    "text_bm25" -> (TextOps.bm25 _),
    "text_hybrid_rrf" -> (TextOps.hybridRrf _),
    // Dedup suite
    "dd_exact" -> (Dedup.exact _),
    "dd_ngram_jaccard" -> (Dedup.ngramJaccard _),
    "dd_minhash_lsh" -> (Dedup.minhashLsh _),
    "dd_simhash" -> (Dedup.simhash _),
    "dd_embedding_cos" -> (Dedup.embeddingCos _),
    "dd_components" -> (Dedup.components _),
    "dd_exact_clusters" -> (Dedup.exactClusters _),
    "dd_incremental" -> (Dedup.incremental _),
    "dd_best_of_cluster" -> (Dedup.bestOfCluster _),
    "dd_embedding_blocked" -> (Dedup.embeddingCosBlocked _),
    "dd_dup_spans" -> (Dedup.dupSpans _),
    // SemDeDup: kmeans clusters block the within-cluster cosine pruning
    "dd_semdedup" -> (Dedup.semDedup _),
    // Similarity search
    "sim_topk_bruteforce" -> (Similarity.topkBruteforce _),
    "sim_lsh_topk" -> (Similarity.lshTopk _),
    "sim_ivf_topk" -> (Similarity.ivfTopk _),
    "sim_pq_topk" -> (Similarity.pqTopk _),
    "sim_ivfpq_topk" -> (Similarity.ivfPqTopk _),
    "sim_knn_graph" -> (Similarity.knnGraph _),
    // metadata-filtered vector search (pre-filter semi-join + exact top-k)
    "sim_filtered_topk" -> (Similarity.filteredTopk _),
    // hard-negative mining (contrastive-training data prep)
    "sim_hard_negatives" -> (Similarity.hardNegatives _),
    // triangle counting / clustering coefficient on the mutual-kNN graph
    "sim_triangles" -> (Similarity.triangles _),
    // iterative fixed point in exact integer mass — hash-verifiable
    "sim_pagerank" -> (Similarity.pagerank _),
    "sim_centroid_classify" -> (Similarity.centroidClassify _),
    "emb_power_component" -> (Similarity.powerComponent _),
    // distributed Lloyd's k-means in exact integer arithmetic
    "emb_kmeans" -> (Similarity.kmeans _),
    "emb_norms" -> (Similarity.embNorms _),
    "emb_centroids" -> (Similarity.embCentroids _),
    "emb_quantize" -> (Similarity.embQuantize _),
    "emb_dispersion" -> (Similarity.embDispersion _),
    // ANALYZE-style column profile (CBO stats / ingest gate)
    "stats_lineitem" -> (Profile.lineitemStats _),
    "ev_decimal_totals" -> (Events.decimalTotals _),
    "mm_doc_embedding" -> (Similarity.docEmbedding _),
    // Multimodal plumbing (stubbed decode, real batch shape)
    "mm_media_stats" -> (Multimodal.mediaStats _),
    "mm_frame_sample" -> (Multimodal.frameSample _),
    "mm_resize" -> (Multimodal.resize _),
    "mm_audio_energy" -> (Multimodal.audioEnergy _),
    // End-to-end curation pipeline (quality -> exact dedup -> near-dup)
    "pipe_clean_corpus" -> (Pipeline.cleanCorpus _),
    "pipe_training_set" -> (Pipeline.trainingSet _),
    // Corpus sampling / training-set assembly
    "samp_stratified" -> (Sampling.stratified _),
    "samp_kfold" -> (Sampling.kfoldSplit _),
    "samp_epochs" -> (Sampling.epochSchedule _),
    "samp_reservoir" -> (Sampling.reservoir _),
    "samp_weighted" -> (Sampling.weighted _),
    "samp_topp_sources" -> (Sampling.topPSources _),
    "samp_temperature" -> (Sampling.temperature _),
    "samp_dedup_penalized" -> (Sampling.dedupPenalized _),
    // URL/domain-level curation (C4-style blocklist + per-domain cap)
    "curate_blocklist" -> (Curation.blocklistGate _),
    "curate_domain_cap" -> (Curation.domainCap _),
    "pack_token_budget" -> (Sampling.packTokenBudget _),
    "text_contamination" -> (TextOps.contamination _),
    // broadcast-Bloom pre-filtered variant, bit-identical result
    "text_contamination_bloom" -> (TextOps.contaminationBloom _),
    "text_containment" -> (TextOps.containment _),
    "text_tfidf" -> (TextOps.tfidf _),
    "text_ngram_novelty" -> (TextOps.ngramNovelty _),
    "text_lm_score" -> (TextOps.lmScore _),
    "text_ccnet_buckets" -> (TextOps.ccnetBuckets _),
    // NB classifier trained on the corpus's own perplexity tertiles
    "text_nb_quality" -> (TextOps.nbQuality _),
    // Structured Streaming inside the correctness gate (bounded replay)
    "stream_daily_stats" -> (graft.streaming.EventStream.dailyStatsStreamed _),
    // watermarked stream-stream interval join (bounded replay), same
    // oracle as the batch ev_purchase_context
    "stream_purchase_context" -> (graft.streaming.EventStream.purchaseContextStreamed _),
    // transformWithState (RocksDB store) over the events table; rows-only
    // check — EventStreamSpec pins it against the batch ev_ema
    "stream_ema_scores" -> (graft.streaming.EventStream.emaScoresStreamed _),
    // built-in session_window aggregation (bounded replay), same oracle
    // as the batch ev_sessionize
    "stream_session_stats" -> (graft.streaming.EventStream.sessionStatsStreamed _),
    // engine keyed-state dedup: at-least-once replay → exactly-once facts
    "stream_dedup_daily" -> (graft.streaming.EventStream.streamDedupDaily _),
    // analytics over the ROUTED chain tables (deterministic fixture →
    // real Routers lineage → per-topic / per-actor reports)
    "chain_topic_scores" -> (graft.indexer.ChainAnalytics.topicScores _),
    "chain_actor_rewards" -> (graft.indexer.ChainAnalytics.actorRewards _)
  ).map { case (name, query) => name -> SessionConf.sized(query) }

  /** Session-conf pins Verify applies around a query's oracle dump (and
    * restores afterwards). Adaptive operators switch strategy on corpus
    * size; their registered oracle SQL describes ONE strategy — these
    * pins force that strategy unconditionally, so an oracle sweep at ANY
    * scale compares like-for-like instead of hash-mismatching the moment
    * the corpus crosses the operator's adaptive cutoff. Bench never
    * applies them: the benched path stays adaptive.
    */
  def oraclePins: Map[String, Map[String, String]] = Map(
    // oracle unrolls the fixed k=8 Lloyd's; above SemDedupKmeansMax the
    // default switches to IVF blocking (spec-pinned, not oracle-shaped)
    "dd_semdedup" -> Map("spark.sql.graft.semdedupBlocking" -> "kmeans"),
    // oracle is the naive complete-recall shingle join; above
    // JaccardExactMax the default switches to LSH-banded candidates
    "dd_ngram_jaccard" -> Map("spark.sql.graft.jaccardCandidates" -> "exact"),
    "dd_components" -> Map("spark.sql.graft.jaccardCandidates" -> "exact"),
    "dd_best_of_cluster" -> Map("spark.sql.graft.jaccardCandidates" -> "exact"))

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.q01Oracle,
    "q03_top_orders" -> Relational.q03Oracle,
    "q05_region_revenue" -> Relational.q05Oracle,
    "q10_returned_items" -> Relational.q10Oracle,
    "q_part_supplier" -> Relational.qPartSupplierOracle,
    "q04_order_priority" -> Relational.q04Oracle,
    "q22_no_orders" -> Relational.q22Oracle,
    "q_rollup" -> Relational.qRollupOracle,
    "q_orders_skip" -> Scale.ordersKeyRangeSkipOracle,
    "q18_large_orders" -> Relational.q18Oracle,
    "q13_customer_dist" -> Relational.q13Oracle,
    "q_repeat_customers" -> Relational.qRepeatCustomersOracle,
    "q06_forecast_revenue" -> Relational.q06Oracle,
    "q15_top_supplier" -> Relational.q15Oracle,
    "q16_parts_suppliers" -> Relational.q16Oracle,
    "q17_small_quantity" -> Relational.q17Oracle,
    "q07_volume_shipping" -> Relational.q07Oracle,
    "q08_market_share" -> Relational.q08Oracle,
    "q14_promo_revenue" -> Relational.q14Oracle,
    "q19_disjunctive" -> Relational.q19Oracle,
    "q09_nation_profit" -> Relational.q09Oracle,
    "q11_important_nations" -> Relational.q11Oracle,
    "q12_ship_delay" -> Relational.q12Oracle,
    "q21_sole_late_supplier" -> Relational.q21Oracle,
    "q20_dominant_suppliers" -> Relational.q20Oracle,
    "q_churned_customers" -> Relational.qChurnedOracle,
    "q02_min_cost_supplier" -> Relational.q02Oracle,
    "ev_route_counts" -> Events.routeCountsOracle,
    "ev_json_extract" -> Events.jsonExtractOracle,
    "ev_latest_per_user" -> Events.latestPerUserOracle,
    "ev_dedup_first" -> Events.dedupFirstOracle,
    "ev_sessionize" -> Events.sessionizeOracle,
    "ev_sessionize_daily" -> Events.sessionizeDailyOracle,
    "ev_running_total" -> Events.runningTotalOracle,
    "ev_ema" -> Events.emaOracle,
    "ev_daily_stats" -> Events.dailyStatsOracle,
    "ev_topk_users" -> Events.topkUsersOracle,
    "ev_pivot_types" -> Events.pivotTypesOracle,
    "ev_moving_avg" -> Events.movingAvgOracle,
    "ev_asof_signup" -> Events.asofSignupOracle,
    "ev_cube_stats" -> Events.cubeStatsOracle,
    "ev_rank_delta" -> Events.dailyRankDeltaOracle,
    "ev_cohort_retention" -> Events.cohortRetentionOracle,
    "ev_funnel" -> Events.funnelOracle,
    "ev_anomalies" -> Events.anomaliesOracle,
    "ev_histogram" -> Events.histogramOracle,
    "ev_gap_fill" -> Events.gapFillOracle,
    "ev_user_lifecycle" -> Events.userLifecycleOracle,
    "ev_purchase_context" -> Events.purchaseContextOracle,
    "ev_rolling_dau" -> Events.rollingDauOracle,
    "ev_day_quartiles" -> Events.dayQuartilesOracle,
    "ev_grouping_sets" -> Events.groupingSetsOracle,
    "ev_band_join" -> Events.bandJoinOracle,
    "ev_daily_incremental" -> IncrementalAgg.dailyStatsIncrementalOracle,
    "ev_browse_abandon" -> Events.browseAbandonOracle,
    "ev_transition_matrix" -> Events.transitionMatrixOracle,
    "ev_inter_event" -> Events.interEventOracle,
    "ev_attribution" -> Events.attributionOracle,
    "samp_target_mix" -> Sampling.targetMixOracle,
    "text_tokens" -> TextOps.tokensOracle,
    "text_quality" -> TextOps.qualityOracle,
    "text_gopher_rules" -> TextOps.gopherRulesOracle,
    "text_langid" -> TextOps.langidOracle,
    "text_fingerprint" -> TextOps.fingerprintOracle,
    "doc_stats" -> TextOps.docStatsOracle,
    "text_len_quantiles" -> TextOps.lengthQuantilesOracle,
    "text_bigrams" -> TextOps.bigramsOracle,
    "text_ttr" -> TextOps.ttrOracle,
    "text_chunk" -> TextOps.chunkOracle,
    "text_repetition" -> TextOps.repetitionOracle,
    "text_zipf" -> TextOps.zipfOracle,
    "dd_exact" -> Dedup.exactOracle,
    "dd_ngram_jaccard" -> Dedup.ngramJaccardOracle,
    "dd_embedding_cos" -> Dedup.embeddingCosOracle,
    "dd_components" -> Dedup.componentsOracle,
    "dd_exact_clusters" -> Dedup.exactClustersOracle,
    "dd_incremental" -> Dedup.incrementalOracle,
    "dd_best_of_cluster" -> Dedup.bestOfClusterOracle,
    "dd_dup_spans" -> Dedup.dupSpansOracle,
    "dd_semdedup" -> Dedup.semDedupOracle,
    "sim_topk_bruteforce" -> Similarity.topkBruteforceOracle,
    "sim_knn_graph" -> Similarity.knnGraphOracle,
    "sim_filtered_topk" -> Similarity.filteredTopkOracle,
    "sim_hard_negatives" -> Similarity.hardNegativesOracle,
    "sim_triangles" -> Similarity.trianglesOracle,
    "sim_pagerank" -> Similarity.pagerankOracle,
    "sim_centroid_classify" -> Similarity.centroidClassifyOracle,
    "emb_power_component" -> Similarity.powerComponentOracle,
    "emb_kmeans" -> Similarity.kmeansOracle,
    "emb_norms" -> Similarity.embNormsOracle,
    "emb_centroids" -> Similarity.embCentroidsOracle,
    "emb_quantize" -> Similarity.embQuantizeOracle,
    "emb_dispersion" -> Similarity.embDispersionOracle,
    "stats_lineitem" -> Profile.lineitemStatsOracle,
    "ev_decimal_totals" -> Events.decimalTotalsOracle,
    "mm_doc_embedding" -> Similarity.docEmbeddingOracle,
    "samp_stratified" -> Sampling.stratifiedOracle,
    "samp_kfold" -> Sampling.kfoldSplitOracle,
    "samp_epochs" -> Sampling.epochScheduleOracle,
    "samp_reservoir" -> Sampling.reservoirOracle,
    "samp_weighted" -> Sampling.weightedOracle,
    "samp_topp_sources" -> Sampling.topPSourcesOracle,
    "samp_temperature" -> Sampling.temperatureOracle,
    "samp_dedup_penalized" -> Sampling.dedupPenalizedOracle,
    "curate_blocklist" -> Curation.blocklistGateOracle,
    "curate_domain_cap" -> Curation.domainCapOracle,
    "pack_token_budget" -> Sampling.packTokenBudgetOracle,
    "text_contamination" -> TextOps.contaminationOracle,
    // the Bloom pre-filter never changes the exact answer — same oracle
    "text_contamination_bloom" -> TextOps.contaminationOracle,
    "text_containment" -> TextOps.containmentOracle,
    "text_tfidf" -> TextOps.tfidfOracle,
    "text_ngram_novelty" -> TextOps.ngramNoveltyOracle,
    "text_lm_score" -> TextOps.lmScoreOracle,
    "text_ccnet_buckets" -> TextOps.ccnetBucketsOracle,
    "text_nb_quality" -> TextOps.nbQualityOracle,
    "text_pii_scrub" -> TextOps.piiScrubOracle,
    "text_boilerplate" -> TextOps.boilerplateOracle,
    "text_keywords" -> TextOps.keywordsOracle,
    "text_bm25" -> TextOps.bm25Oracle,
    "text_hybrid_rrf" -> TextOps.hybridRrfOracle,
    "stream_daily_stats" -> graft.streaming.EventStream.dailyStatsStreamedOracle,
    "stream_purchase_context" -> Events.purchaseContextOracle,
    "stream_session_stats" -> Events.sessionizeOracle,
    "stream_dedup_daily" -> graft.streaming.EventStream.streamDedupDailyOracle,
    "chain_topic_scores" -> graft.indexer.ChainAnalytics.topicScoresOracle,
    "chain_actor_rewards" -> graft.indexer.ChainAnalytics.actorRewardsOracle
    // dd_minhash_lsh / dd_simhash / sim_lsh_topk: hash families are not
    // SQL-portable — rows-only check; pinned against exact baselines in
    // DedupSpec / SimilaritySpec instead.
  )
}

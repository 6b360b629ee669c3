package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Conventions shared by every (queries, oracleSql) pair so the driver's
  * column-sorted value-hash compare is stable:
  *  - integer outputs are BIGINT on both sides;
  *  - double aggregates are summed as DECIMAL(18,4) (exact, order-
  *    independent) then cast back to DOUBLE — bit-identical across
  *    engines regardless of partial-aggregation order;
  *  - distances/similarities are computed in double in index order on
  *    both sides, rounded to 4dp;
  *  - every result ends in a total ORDER BY.
  */
object SparkEntry {

  /** Flagship: batched multi-tenant vector search (the reference's
    * /search re-expressed as one set-oriented job over all tenants).
    */
  def entry(spark: SparkSession): DataFrame =
    VectorStore.searchBatch(spark, "/root/testdata/sf0.001")

  /** The default `/points/query` wire request — byte-for-byte the
    * [[VectorStore.searchFilterShould]] search as JSON (nearest by
    * point 1 under the must-range + should-keywords tree, limit 10),
    * so the `vs_points_query` oracle row shares that row's SQL and the
    * wire parse/dispatch path is itself DuckDB-graded.
    */
  private[graft] val defaultPointsQueryJson: String =
    """{"query": {"nearest": 1},
      | "filter": {"must": [{"key": "user_id", "range": {"gte": 2, "lte": 9}}],
      |            "should": [{"key": "lang", "match": {"value": "en"}},
      |                       {"key": "site", "match": {"value": "src3"}}]},
      | "limit": 10}""".stripMargin

  /** Default wire bodies for the sibling /points endpoints — each
    * drives its oracle row through the FULL parse + dispatch path and
    * shares (or mirrors) the proven typed row's DuckDB SQL.
    */
  private[graft] val defaultGroupsJson: String =
    """{"query": {"nearest": 0}, "group_by": "site",
      | "limit": 3, "group_size": 2,
      | "filter": {"must": [{"key": "user_id", "range": {"gte": 1, "lte": 15}}]}}"""
      .stripMargin
  private[graft] val defaultScrollJson: String =
    """{"filter": {"must": [{"key": "lang", "match": {"value": "en"}}]},
      | "offset": 101, "limit": 50}""".stripMargin
  private[graft] val defaultCountJson: String =
    """{"filter": {"must": [
      |   {"key": "user_id", "range": {"gte": 2, "lte": 9}},
      |   {"key": "lang", "match": {"any": ["en", "fr"]}}]},
      | "exact": true}""".stripMargin
  private[graft] val defaultFacetJson: String =
    """{"key": "site",
      | "filter": {"must": [{"key": "lang", "match": {"any": ["en", "fr"]}}]},
      | "limit": 8}""".stripMargin
  private[graft] val defaultBatchJson: String =
    s"""{"searches": [$defaultPointsQueryJson,
       | {"query": {"nearest": 0},
       |  "filter": {"must": [{"key": "user_id", "range": {"gte": 7, "lte": 7}}]},
       |  "limit": 5}]}""".stripMargin
  private[graft] val defaultRetrieveJson: String =
    """{"ids": [5, 42, 12345678, 7, 250]}"""
  private[graft] val defaultMatrixJson: String =
    """{"sample": 16, "limit": 4}"""
  private[graft] val defaultUpdateJson: String =
    """{"operations": [
      | {"upsert": {"points": [
      |   {"id": 900001, "vector": [0.1, 0.2],
      |    "payload": {"user_id": 99, "seq": 1000001, "site": "wire", "lang": "xx"}},
      |   {"id": 3, "vector": [0.3, 0.4],
      |    "payload": {"user_id": 99, "seq": 1000002, "site": "wire"}}]}},
      | {"set_payload": {"payload": {"lang": "fr"},
      |   "filter": {"must": [{"key": "site", "match": {"value": "src3"}}]}}},
      | {"overwrite_payload": {"payload": {"site": "ow"}, "points": [5, 6]}},
      | {"delete_payload": {"keys": ["lang"], "points": [7, 8]}},
      | {"clear_payload": {"points": [11]}},
      | {"delete": {"filter": {"must": [{"key": "user_id", "range": {"gte": 4, "lte": 4}}]}}},
      | {"delete_vectors": {"points": [9, 10], "vector": ["vector"]}},
      | {"update_vectors": {"points": [{"id": 12, "vector": [1.0, 0.0]}]}}
      |]}""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core vector-store surface (reference parity)
    "vs_upsert_latest" -> VectorStore.upsertLatest _,
    "vs_search_topk" -> VectorStore.searchTopK _,
    "vs_search_topk_l1" -> VectorStore.searchTopKL1 _,
    "vs_search_topk_dot" -> VectorStore.searchTopKDot _,
    "vs_search_topk_filtered" -> VectorStore.searchTopKFiltered _,
    "vs_search_topk_filtered_indexed" -> VectorStore.searchTopKFilteredIndexed _,
    "events_ts_range_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.eventsTsRangeIndexed(s, d)),
    "events_open_range_indexed" -> VectorStore.eventsOpenRangeIndexed _,
    "events_scroll_order_by_desc_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.scrollOrderByDescIndexed(s, d)),
    // Qdrant filter boolean algebra (should / must_not / min_should)
    // and the remaining match conditions, all through readFilter (the
    // parameterized ones, vs_search_filter_should among them, are
    // declared in paramQueries)
    // wire MMR diversification (λ = 1 − diversity): rows-only — the
    // greedy selection is spec-verified (wire ≡ vs_mmr_search's typed
    // call bit-for-bit; DuckDB cannot re-derive the greedy loop)
    "vs_points_query_mmr" ->
      ((s: SparkSession, d: String) =>
        VectorStore.pointsQuery(s, d,
          """{"query": {"nearest": 0,
            |  "mmr": {"diversity": 0.25, "candidates_limit": 100}},
            | "limit": 10}""".stripMargin)),
    "vs_update_vectors" ->
      ((s: SparkSession, d: String) => VectorStore.updateVectors(s, d)),
    "vs_search_match_prefix_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.searchMatchPrefixIndexed(s, d)),
    "vs_search_filter_must_not" ->
      ((s: SparkSession, d: String) => VectorStore.searchFilterMustNot(s, d)),
    "vs_search_filter_min_should" ->
      ((s: SparkSession, d: String) => VectorStore.searchFilterMinShould(s, d)),
    "events_ts_range_rfc3339_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.eventsTsRangeRfc3339Indexed(s, d)),
    "events_scroll_start_from_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.scrollStartFromIndexed(s, d)),
    "vs_context_search" ->
      ((s: SparkSession, d: String) => VectorStore.contextSearch(s, d)),
    "vs_facet_counts_filtered" ->
      ((s: SparkSession, d: String) => VectorStore.facetCountsFiltered(s, d)),
    "vs_random_sample_filtered" ->
      ((s: SparkSession, d: String) => VectorStore.randomSampleFiltered(s, d)),
    "ann_pfilter_topk" ->
      ((s: SparkSession, d: String) => Ann.annPfilterTopK(s, d)),
    "ann_pfilter_adaptive" ->
      ((s: SparkSession, d: String) => Ann.annPfilterAdaptive(s, d)),
    "ann_filtered_recall_eval" ->
      ((s: SparkSession, d: String) => Ann.annFilteredRecallEval(s, d)),
    "ann_delete_rotate" ->
      ((s: SparkSession, d: String) => Ann.annDeleteRotate(s, d)),
    "vs_search_match_any_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.searchMatchAnyIndexed(s, d)),
    "vs_search_match_except_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.searchMatchExceptIndexed(s, d)),
    "vs_filter_is_null" -> VectorStore.filterIsNull _,
    "vs_filter_is_empty" -> VectorStore.filterIsEmpty _,
    "vs_filter_match_array" -> VectorStore.filterMatchArray _,
    "vs_delete_by_filter_indexed" -> VectorStore.deleteByFilterIndexed _,
    "vs_geo_polygon_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.geoPolygonIndexed(s, d)),
    "vs_filter_values_count" -> VectorStore.filterValuesCount _,
    "vs_filter_has_id" -> VectorStore.filterHasId _,
    "vs_filter_has_uuid" -> VectorStore.filterHasUuid _,
    "vs_filter_bool_indexed" -> VectorStore.filterBoolIndexed _,
    "vs_filter_nested" -> VectorStore.filterNested _,
    "vs_search_batch" -> VectorStore.searchBatch _,
    "vs_delete_by_user" -> VectorStore.deleteByUser _,
    "vs_delete_by_word" -> VectorStore.deleteByWord _,
    "vs_delete_by_word_indexed" -> VectorStore.deleteByWordIndexed _,
    "vs_delete_by_regex" -> VectorStore.deleteByRegex _,
    "vs_delete_by_regex_indexed" -> VectorStore.deleteByRegexIndexed _,
    "vs_classify_nearest" -> VectorStore.classifyNearest _,
    "vs_count_by_tenant" -> VectorStore.countByTenant _,
    "vs_embed_text" -> ((s: SparkSession, d: String) => VectorStore.embedTextFlat(s, d)),
    "vs_merge_stats" -> VectorStore.mergeStats _,
    // dedup
    "dedup_exact" -> Dedup.exact _,
    "dedup_embedding" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDup(s, d)),
    "dedup_embedding_lsh" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDupLsh(s, d)),
    "dedup_embedding_ivf" -> ((s: SparkSession, d: String) => Dedup.embeddingNearDupIvf(s, d)),
    "dedup_containment" -> ((s: SparkSession, d: String) => Dedup.containment(s, d)),
    "dedup_clusters" -> ((s: SparkSession, d: String) => Dedup.dupClusters(s, d)),
    "text_decontaminate" -> ((s: SparkSession, d: String) => Dedup.decontaminate(s, d)),
    "dedup_keep_best" -> ((s: SparkSession, d: String) => Dedup.keepBest(s, d)),
    // ann
    "ann_lsh_topk" -> ((s: SparkSession, d: String) => Ann.lshTopK(s, d)),
    // text analysis
    "text_quality" -> TextAnalysis.quality _,
    "text_langid" -> TextAnalysis.langId _,
    "text_tokens" -> TextAnalysis.tokenCounts _,
    "text_fingerprint" -> ((s: SparkSession, d: String) => TextAnalysis.fingerprint(s, d)),
    "text_winnowing" -> ((s: SparkSession, d: String) => TextAnalysis.winnowing(s, d)),
    "docs_cdc_chunks" -> ((s: SparkSession, d: String) => TextAnalysis.cdcChunks(s, d)),
    "docs_winnow_matches" -> ((s: SparkSession, d: String) => TextAnalysis.winnowMatches(s, d)),
    "text_zipf_slope" -> ((s: SparkSession, d: String) => TextAnalysis.zipfSlope(s, d)),
    "text_bpe_train" -> ((s: SparkSession, d: String) => TextAnalysis.bpeTrain(s, d)),
    "text_bpe_encode" -> ((s: SparkSession, d: String) => TextAnalysis.bpeEncode(s, d)),
    "text_byte_bpe_train" -> ((s: SparkSession, d: String) => TextAnalysis.byteBpeTrain(s, d)),
    "text_byte_bpe_encode" -> ((s: SparkSession, d: String) => TextAnalysis.byteBpeEncode(s, d)),
    "text_unigram_train" -> ((s: SparkSession, d: String) => TextAnalysis.unigramTrain(s, d)),
    "text_unigram_encode" -> ((s: SparkSession, d: String) => TextAnalysis.unigramEncode(s, d)),
    "docs_pagerank" -> ((s: SparkSession, d: String) => TextAnalysis.docsPagerank(s, d)),
    "docs_shard_export" -> ((s: SparkSession, d: String) => TextAnalysis.shardExport(s, d)),
    "docs_sample_hash" -> ((s: SparkSession, d: String) => TextAnalysis.sampleHash(s, d)),
    "docs_sample_stratified" -> ((s: SparkSession, d: String) => TextAnalysis.sampleStratified(s, d)),
    "docs_stats_by_source" -> TextAnalysis.statsBySource _,
    "text_vocabulary" -> ((s: SparkSession, d: String) => TextAnalysis.vocabulary(s, d)),
    "text_ngram_counts" -> ((s: SparkSession, d: String) => TextAnalysis.ngramCounts(s, d)),
    "text_pmi_colloc" -> ((s: SparkSession, d: String) => TextAnalysis.pmiCollocations(s, d)),
    "text_repetition" -> TextAnalysis.repetition _,
    "text_lang_confusion" -> TextAnalysis.langConfusion _,
    "text_bm25" -> ((s: SparkSession, d: String) => TextAnalysis.bm25Search(s, d)),
    "text_tfidf_top" -> ((s: SparkSession, d: String) => TextAnalysis.tfidfTop(s, d)),
    "text_lm_score" -> TextAnalysis.lmScore _,
    "text_gopher_rules" -> ((s: SparkSession, d: String) => TextAnalysis.gopherRules(s, d)),
    "text_token_entropy" -> TextAnalysis.tokenEntropy _,
    "text_ccnet_buckets" -> TextAnalysis.ccnetBuckets _,
    "docs_jsd_drift" -> TextAnalysis.jsdDrift _,
    "docs_chunk_overlap" -> ((s: SparkSession, d: String) => TextAnalysis.chunkOverlap(s, d)),
    // relational / analytics
    "q1_pricing_summary" -> Relational.q1PricingSummary _,
    "q3_shipping_priority" -> Relational.q3ShippingPriority _,
    "q4_order_priority" -> Relational.q4OrderPriority _,
    "q5_region_revenue" -> Relational.q5RegionRevenue _,
    "topk_per_group" -> Relational.topkPerGroup _,
    "topk_per_group_fast" -> Relational.topkPerGroupFast _,
    "events_hourly" -> Relational.eventsHourly _,
    "events_asof_join" -> Relational.eventsAsofJoin _,
    "events_range_join" -> Relational.eventsRangeJoin _,
    "events_sessionize" -> Relational.eventsSessionize _,
    "events_json_props" -> Relational.eventsJsonProps _,
    "events_quantiles" -> Relational.eventsQuantiles _,
    "events_quantiles_approx" -> Relational.eventsQuantilesApprox _,
    "events_moving_avg" -> Relational.eventsMovingAvg _,
    "events_approx_users" -> Relational.eventsApproxUsers _,
    "part_price_histogram" -> ((s: SparkSession, d: String) => Relational.partPriceHistogram(s, d)),
    "orders_rollup" -> Relational.ordersRollup _,
    "orders_count_distribution" -> Relational.ordersCountDistribution _,
    "events_pivot" -> Relational.eventsPivot _,
    "events_gap_fill" -> Relational.eventsGapFill _,
    "events_retention" -> Relational.eventsRetention _,
    "events_anomaly" -> ((s: SparkSession, d: String) => Relational.eventsAnomaly(s, d)),
    "events_funnel" -> ((s: SparkSession, d: String) => Relational.eventsFunnel(s, d)),
    "events_cube" -> Relational.eventsCube _,
    "events_sliding_value" -> ((s: SparkSession, d: String) => Relational.eventsSlidingValue(s, d)),
    "docs_embedding_coverage" -> Relational.docsEmbeddingCoverage _,
    "orders_ntile" -> Relational.ordersNtile _,
    "q17_small_quantity" -> Relational.q17SmallQuantity _,
    "q7_nation_volume" -> ((s: SparkSession, d: String) => Relational.q7NationVolume(s, d)),
    "q8_market_share" -> ((s: SparkSession, d: String) => Relational.q8MarketShare(s, d)),
    "q10_returned_items" -> Relational.q10ReturnedItems _,
    "q12_ship_delay" -> Relational.q12ShipDelay _,
    "q14_promo_revenue" -> ((s: SparkSession, d: String) => Relational.q14PromoRevenue(s, d)),
    "q18_large_orders" -> ((s: SparkSession, d: String) => Relational.q18LargeOrders(s, d)),
    "q19_disjunctive" -> Relational.q19Disjunctive _,
    "q22_idle_balance" -> ((s: SparkSession, d: String) => Relational.q22IdleBalance(s, d)),
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue _,
    "q15_top_supplier" -> ((s: SparkSession, d: String) => Relational.q15TopSupplier(s, d)),
    "q21_waiting_supplier" -> ((s: SparkSession, d: String) => Relational.q21WaitingSupplier(s, d)),
    "events_heavy_users" -> ((s: SparkSession, d: String) => Relational.eventsHeavyUsers(s, d)),
    "events_zorder_stats" -> ((s: SparkSession, d: String) => Relational.eventsZorderStats(s, d)),
    "customers_without_orders" -> Relational.customersWithoutOrders _,
    "segment_distinct_buyers" -> Relational.segmentDistinctBuyers _,
    "orders_basket_pairs" -> ((s: SparkSession, d: String) => Relational.basketPairs(s, d)),
    "orders_basket_lift" -> ((s: SparkSession, d: String) => Relational.basketLift(s, d)),
    "q9_profit_nation" -> ((s: SparkSession, d: String) => Relational.q9ProfitNation(s, d)),
    "events_markov" -> Relational.eventsMarkov _,
    "events_hll_daily" -> ((s: SparkSession, d: String) => Relational.eventsHllDaily(s, d)),
    "orders_yoy_growth" -> Relational.ordersYoyGrowth _,
    "orders_window_stats" -> Relational.ordersWindowStats _,
    "docs_set_ops" -> ((s: SparkSession, d: String) => Relational.docsSetOps(s, d)),
    "customer_rfm" -> ((s: SparkSession, d: String) => Relational.customerRfm(s, d)),
    "q16_part_suppliers" -> Relational.q16PartSuppliers _,
    "q2_min_cost_supplier" -> ((s: SparkSession, d: String) => Relational.q2MinCostSupplier(s, d)),
    "q11_important_stock" -> ((s: SparkSession, d: String) => Relational.q11ImportantStock(s, d)),
    "q20_excess_suppliers" -> ((s: SparkSession, d: String) => Relational.q20ExcessSuppliers(s, d)),
    "events_path_topn" -> ((s: SparkSession, d: String) => Relational.eventsPathTopN(s, d)),
    "lineitem_corr_stats" -> Relational.lineitemCorrStats _,
    "keys_skew_audit" -> Relational.keysSkewAudit _,
    "part_skyline" -> Relational.partSkyline _,
    "orders_cohort_ltv" -> Relational.ordersCohortLtv _,
    "events_session_stats" -> Relational.eventsSessionStats _,
    "dedup_cluster_stats" -> ((s: SparkSession, d: String) => Dedup.dupClusterStats(s, d)),
    "docs_bloom_gate" -> ((s: SparkSession, d: String) => Dedup.bloomGate(s, d)),
    "dedup_recall_eval" -> ((s: SparkSession, d: String) => Dedup.dedupRecallEval(s, d)),
    "dedup_band_tuning" -> ((s: SparkSession, d: String) => Dedup.minhashBandTuning(s, d)),
    "dedup_attrition_funnel" -> ((s: SparkSession, d: String) => Dedup.attritionFunnel(s, d)),
    "docs_dsir_sample" -> ((s: SparkSession, d: String) => TextAnalysis.dsirSample(s, d)),
    "emb_centroid_drift" -> Embeddings.centroidDrift _,
    "events_attribution" -> Relational.eventsAttribution _,
    "parts_abc_analysis" -> Relational.partsAbcAnalysis _,
    "keys_partition_plan" -> ((s: SparkSession, d: String) => Relational.keysPartitionPlan(s, d)),
    "events_dau_wau" -> Relational.eventsDauWau _,
    "text_doc_sim_topk" -> ((s: SparkSession, d: String) => TextAnalysis.docSimTopK(s, d)),
    "text_bpe_pairs" -> ((s: SparkSession, d: String) => TextAnalysis.bpePairs(s, d)),
    // embedding-column maintenance
    "emb_label_centroids" -> Embeddings.labelCentroids _,
    "emb_dim_stats" -> Embeddings.dimStats _,
    "emb_norm_stats" -> Embeddings.normStats _,
    "emb_outlier_audit" -> ((s: SparkSession, d: String) => Embeddings.outlierAudit(s, d)),
    "emb_quantize_sq" -> Embeddings.quantizeSq _,
    "emb_sq_rerank" -> ((s: SparkSession, d: String) => Embeddings.sqRerankSearch(s, d)),
    "emb_search_quantized" -> ((s: SparkSession, d: String) =>
      Embeddings.searchQuantized(s, d, method = "sq", rescore = false,
        oversampling = 3.0)),
    "emb_bq_search" -> ((s: SparkSession, d: String) => Embeddings.bqRerankSearch(s, d)),
    "emb_mrl_search" -> ((s: SparkSession, d: String) => Embeddings.mrlSearch(s, d)),
    "emb_pq_codes" -> ((s: SparkSession, d: String) => Embeddings.pqCodes(s, d)),
    "emb_ivfpq_search" -> ((s: SparkSession, d: String) => Embeddings.ivfPqSearch(s, d)),
    // end-to-end text flow (embed -> index -> embed query -> top-k)
    "vs_text_search" -> ((s: SparkSession, d: String) => VectorStore.textSearch(s, d)),
    "vs_semantic_recall_eval" -> ((s: SparkSession, d: String) => SemanticEval.semanticRecallEval(s, d)),
    "vs_hybrid_search" -> ((s: SparkSession, d: String) => VectorStore.hybridSearch(s, d)),
    "vs_geo_search" -> ((s: SparkSession, d: String) => VectorStore.geoSearch(s, d)),
    "vs_mmr_search" -> ((s: SparkSession, d: String) => VectorStore.mmrSearch(s, d)),
    "vs_dbsf_fusion" -> ((s: SparkSession, d: String) => VectorStore.dbsfFusion(s, d)),
    "vs_random_sample" -> ((s: SparkSession, d: String) => VectorStore.randomSample(s, d)),
    "vs_formula_boost" -> ((s: SparkSession, d: String) => VectorStore.formulaBoost(s, d)),
    "vs_formula_decay" -> ((s: SparkSession, d: String) => VectorStore.formulaDecay(s, d)),
    "vs_formula_geo_decay" ->
      ((s: SparkSession, d: String) => VectorStore.formulaGeoDecay(s, d)),
    "vs_recommend" -> ((s: SparkSession, d: String) => VectorStore.recommend(s, d)),
    "vs_recommend_raw" ->
      ((s: SparkSession, d: String) => VectorStore.recommendMixed(s, d)),
    "vs_recommend_best_score" -> ((s: SparkSession, d: String) => VectorStore.recommendBestScore(s, d)),
    "vs_batch_ops" -> ((s: SparkSession, d: String) => VectorStore.batchOps(s, d)),
    "vs_named_vectors" -> ((s: SparkSession, d: String) => VectorStore.namedVectors(s, d)),
    "vs_search_groups" -> ((s: SparkSession, d: String) => VectorStore.searchGroups(s, d)),
    "vs_facet_counts" -> VectorStore.facetCounts _,
    "vs_scroll_page" -> ((s: SparkSession, d: String) => VectorStore.scrollPage(s, d)),
    "vs_set_payload" -> VectorStore.setPayload _,
    "vs_discover" -> ((s: SparkSession, d: String) => VectorStore.discover(s, d)),
    "vs_distance_matrix" -> ((s: SparkSession, d: String) => VectorStore.distanceMatrix(s, d)),
    "vs_multivec_maxsim" -> ((s: SparkSession, d: String) => VectorStore.multivecMaxSim(s, d)),
    "vs_multivec_maxsim_indexed" ->
      ((s: SparkSession, d: String) => VectorStore.multivecMaxSimIndexed(s, d)),
    "vs_sparse_search" -> ((s: SparkSession, d: String) => VectorStore.sparseSearch(s, d)),
    "vs_sparse_search_idf" ->
      ((s: SparkSession, d: String) => VectorStore.sparseSearchIdf(s, d)),
    "vs_scroll_order_by" -> ((s: SparkSession, d: String) => VectorStore.scrollOrderBy(s, d)),
    // training-data pipeline additions
    "docs_pack_chunks" -> ((s: SparkSession, d: String) => TextAnalysis.packChunks(s, d)),
    "docs_mix_sources" -> ((s: SparkSession, d: String) => TextAnalysis.mixSources(s, d)),
    "text_pii_redact" -> ((s: SparkSession, d: String) => TextAnalysis.piiRedact(s, d)),
    "text_dup_ngrams" -> ((s: SparkSession, d: String) => Dedup.dupNgramFraction(s, d)),
    "text_dup_spans" -> ((s: SparkSession, d: String) => Dedup.dupSpans(s, d)),
    "text_dedup_excise" -> ((s: SparkSession, d: String) => Dedup.exciseDupSpans(s, d)),
    "docs_dsir_weights" -> ((s: SparkSession, d: String) => TextAnalysis.dsirWeights(s, d)),
    "docs_quality_model" -> ((s: SparkSession, d: String) => QualityModel.qualityScore(s, d)),
    "dedup_semantic" -> ((s: SparkSession, d: String) => Dedup.semanticDedup(s, d)),
    "ann_knn_graph" -> ((s: SparkSession, d: String) => Ann.nnDescentGraph(s, d)),
    "ann_graph_topk" -> ((s: SparkSession, d: String) => Ann.graphTopK(s, d)),
    "ann_recall_eval" -> ((s: SparkSession, d: String) => Ann.recallEval(s, d)),
    "ann_ivf_balance" -> ((s: SparkSession, d: String) => Ann.ivfBalance(s, d)),
    "ann_ivf_residuals" -> ((s: SparkSession, d: String) => Ann.ivfResiduals(s, d)),
    "emb_pca_project" -> ((s: SparkSession, d: String) => Embeddings.pcaProject(s, d)),
    // multimodal
    "mm_decode_meta" -> Multimodal.decodeMeta _,
    "mm_audio_meta" -> Multimodal.audioMeta _,
    "mm_video_meta" -> Multimodal.videoMeta _,
    "mm_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.frameSample(s, d)),
    "mm_resize_plan" -> ((s: SparkSession, d: String) => Multimodal.resizePlan(s, d)),
    "mm_feature_extract" -> Multimodal.featureExtract _,
    "mm_dedup_bytes" -> Multimodal.dedupBytes _,
    "mm_phash_dedup" -> ((s: SparkSession, d: String) => Multimodal.phashDedup(s, d)),
    "mm_phash_clusters" -> ((s: SparkSession, d: String) => Multimodal.phashClusters(s, d)),
    "mm_phash_search" -> ((s: SparkSession, d: String) => Multimodal.phashSearch(s, d)),
    "vs_snapshot_diff" -> VectorStore.snapshotDiff _,
    "dedup_incremental" -> ((s: SparkSession, d: String) => Dedup.incrementalDedup(s, d)),
    // wave 5 (rows 197-202)
    "vs_search_match_phrase" -> ((s: SparkSession, d: String) => VectorStore.searchMatchPhrase(s, d)),
    "vs_delete_payload_keys" -> VectorStore.deletePayloadKeys _,
    "vs_payload_index_plan" -> VectorStore.payloadIndexPlan _,
    "docs_dup_rate_by_source" -> ((s: SparkSession, d: String) => Dedup.dupRateBySource(s, d)),
    "docs_token_histogram" -> TextAnalysis.tokenHistogram _,
    "emb_knn_self_eval" -> ((s: SparkSession, d: String) => Embeddings.knnSelfEval(s, d)),
    "emb_query_prefetch" -> ((s: SparkSession, d: String) => Embeddings.queryPrefetch(s, d)),
    "vs_recommend_lookup" -> ((s: SparkSession, d: String) => VectorStore.recommendLookup(s, d)),
    "events_count_min" -> ((s: SparkSession, d: String) => Relational.countMinUsers(s, d)),
    "docs_train_val_split" -> ((s: SparkSession, d: String) => Dedup.trainValSplit(s, d)),
    "docs_split_by_cluster" -> ((s: SparkSession, d: String) => Dedup.splitByCluster(s, d)),
    "vs_count_points" -> VectorStore.countPoints _,
    "vs_retrieve_points" -> ((s: SparkSession, d: String) => VectorStore.retrievePoints(s, d)),
    "events_user_overlap" -> Relational.eventTypeOverlap _,
    "docs_ngram_novelty" -> ((s: SparkSession, d: String) => TextAnalysis.ngramNovelty(s, d)),
    "events_inter_arrival" -> ((s: SparkSession, d: String) => Relational.interArrival(s, d)),
    "docs_curriculum_order" -> TextAnalysis.curriculumOrder _,
    "emb_cosine_hist" -> Embeddings.cosineHist _,
    "docs_source_overlap" -> ((s: SparkSession, d: String) => Dedup.sourceOverlap(s, d)),
    // no_oracle: recall curve over a k-means-seeded quantizer (spec'd
    // monotone + exact-1.0 endpoint instead)
    "ann_ivf_probe_tuning" -> ((s: SparkSession, d: String) => Ann.ivfProbeTuning(s, d)),
    "docs_anneal_mixture" -> ((s: SparkSession, d: String) => TextAnalysis.annealMixture(s, d)),
    "vs_search_groups_lookup" -> ((s: SparkSession, d: String) => VectorStore.searchGroupsLookup(s, d)),
    "dedup_cost_report" -> ((s: SparkSession, d: String) => Dedup.candidateCostReport(s, d)),
    "events_theta_overlap" -> ((s: SparkSession, d: String) => Relational.eventsThetaOverlap(s, d)),
    "events_theta_anotb" -> ((s: SparkSession, d: String) => Relational.eventsThetaAnotB(s, d)),
    "docs_novelty_trend" -> TextAnalysis.noveltyTrend _,
    "customer_gini" -> Relational.customerGini _,
    "docs_contamination_by_source" -> ((s: SparkSession, d: String) => Dedup.contaminationBySource(s, d)),
    "events_value_deciles" -> Relational.eventsValueDeciles _,
    "mm_phash_hamming_hist" -> Multimodal.phashHammingHist _,
    "events_hour_dow_heatmap" -> Relational.eventsHourDowHeatmap _
  ) ++ paramQueries.map { case (name, fn) =>
    // a parameterized query runs with its declared defaults
    name -> ((s: SparkSession, d: String) => fn(s, d, Map.empty))
  }

  /** DuckDB points-corpus CTE — the oracle twin of Tables.points. */
  private val PTS =
    """pts AS (SELECT d.doc_id AS id, e.embedding::DOUBLE[] AS vector, d.text,
      | d.doc_id % 20 AS user_id, d.source AS site, d.lang, d.doc_id AS seq
      | FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)""".stripMargin

  /** The NULLABLE-payload derivation (the `is_empty` / `is_null`
    * corpus) — mirrors [[graft.operators.VectorStore.nullablePoints]]'
    * scalar/tags columns verbatim (the nested `comments` column's
    * element formulas unroll inline in the `vs_filter_nested` oracle —
    * no struct SQL needed).
    */
  private val NP =
    """np AS (SELECT id,
      | substr(md5(CAST(id AS VARCHAR)), 1, 8) || '-' ||
      |   substr(md5(CAST(id AS VARCHAR)), 9, 4) || '-' ||
      |   substr(md5(CAST(id AS VARCHAR)), 13, 4) || '-' ||
      |   substr(md5(CAST(id AS VARCHAR)), 17, 4) || '-' ||
      |   substr(md5(CAST(id AS VARCHAR)), 21, 12) AS pid,
      | user_id,
      | CASE WHEN id % 7 = 0 THEN NULL ELSE site END AS site_n,
      | CASE WHEN id % 11 = 0 THEN NULL ELSE id % 2 = 0 END AS flag,
      | CASE WHEN id % 5 = 0 THEN CAST([] AS VARCHAR[]) WHEN id % 3 = 0 THEN NULL
      |      ELSE [lang, site] END AS tags,
      | lang FROM pts)""".stripMargin

  /** The even-odd ray-crossing predicate over
    * [[graft.operators.VectorStore.geoPolygon]], INTERPOLATED from the
    * same vertex constants the Spark route folds (edge deltas computed
    * in the same Scala doubles, emitted as CAST('…' AS DOUBLE) string
    * literals so DuckDB parses the identical IEEE values) — both
    * engines evaluate the identical expression tree, identical ops in
    * identical order, so even knife-edge rows agree bit-for-bit.
    */
  private def polygonCrossSql(px: String, py: String): String = {
    val vs = VectorStore.geoPolygon // (lat = y, lon = x)
    val terms = vs.indices.flatMap { i =>
      val (y1, x1) = vs(i); val (y2, x2) = vs((i + 1) % vs.size)
      if (y1 == y2) None
      else Some(
        s"(CASE WHEN ((CAST('$y1' AS DOUBLE) > $py) <> (CAST('$y2' AS DOUBLE) > $py))" +
          s" AND $px < CAST('${x2 - x1}' AS DOUBLE) * ($py - CAST('$y1' AS DOUBLE))" +
          s" / CAST('${y2 - y1}' AS DOUBLE) + CAST('$x1' AS DOUBLE)" +
          " THEN 1 ELSE 0 END)")
    }
    s"(${terms.mkString(" + ")}) % 2 = 1"
  }

  /** DuckDB word-5-gram shingle CTEs over documents. */
  private def SHINGLES(w: Int): String = {
    val gram = (0 until w).map(j => s"words[i+$j]").mkString("||' '||")
    s"""sh0 AS (SELECT doc_id, list_distinct([$gram for i in range(1, len(words)-${w - 2})]) AS sh
       | FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
       |sh AS (SELECT doc_id, unnest(sh) AS shingle FROM sh0 WHERE len(sh) > 0)""".stripMargin
  }

  /** DuckDB twin of the sampled-byte-parity pHash pipeline
    * (Multimodal.phashDedup): planted re-uploads → 64-bit signature →
    * 16-bit band buckets → candidate pairs with both signatures.
    */
  private lazy val PHASH_CTE: String = {
    val sigTerms = (0 until 64).map { i =>
      val bit = s"bit_count(ascii(substr(text, CAST(floor($i * length(text) * 1.0 / 64) AS INT) + 1, 1))) % 2"
      // bit 63: 1::BIGINT << 63 overflows DuckDB's checked shift —
      // add INT64_MIN instead (the same two's-complement value Spark's
      // wrapping shiftleft produces)
      if (i == 63) s"(CASE WHEN $bit = 1 THEN (-9223372036854775807 - 1) ELSE 0 END)"
      else s"(CAST($bit AS BIGINT) << $i)"
    }.mkString(" + ")
    s"""pbase AS (SELECT doc_id, text FROM documents WHERE length(text) >= 64),
       |media AS (
       |  SELECT doc_id, text FROM pbase WHERE doc_id % 10 <> 0
       |  UNION ALL
       |  SELECT b.doc_id, upper(substr(o.text, 1, 5)) || substr(o.text, 6) AS text
       |  FROM pbase b JOIN pbase o ON o.doc_id = b.doc_id - 1 WHERE b.doc_id % 10 = 0),
       |sigs AS (SELECT doc_id, $sigTerms AS sig FROM media),
       |bands AS (SELECT doc_id, sig, b AS band, (sig >> (b * 16)) & 65535 AS key
       |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS b)),
       |cand AS (SELECT DISTINCT a.doc_id AS ia, a.sig AS sa, b.doc_id AS ib, b.sig AS sb
       |  FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** DuckDB twin of the hashed-bag DSIR weight model
    * (TextAnalysis.dsirWeights): 256-bucket token models over all vs
    * target sources → per-doc log-ratio weight relation `dw`.
    */
  private lazy val DSIR_CTE: String =
    """tb AS (SELECT doc_id, source,
      |    CAST('0x' || substring(md5(w), 1, 4) AS BIGINT) % 256 AS b
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)),
      |ca AS (SELECT b, count(*) AS c_all FROM tb GROUP BY 1),
      |ct AS (SELECT b, count(*) AS c_tgt FROM tb
      |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY 1),
      |na AS (SELECT count(*) AS n_all FROM tb),
      |nt AS (SELECT count(*) AS n_tgt FROM tb
      |  WHERE source IN ('src0', 'src1', 'src2')),
      |r AS (SELECT ca.b, CAST(round(
      |    log2((coalesce(c_tgt, 0) + 1)::DOUBLE / (n_tgt + 256)) -
      |    log2((c_all + 1)::DOUBLE / (n_all + 256)), 6) AS DECIMAL(18,6)) AS r
      |  FROM ca LEFT JOIN ct ON ca.b = ct.b, na, nt),
      |db AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY 1, 2),
      |dw AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
      |  CAST(sum(CAST(n * r AS DECIMAL(18,6))) AS DOUBLE) AS dsir_weight
      |  FROM db JOIN r USING (b) GROUP BY 1)""".stripMargin

  /** Shared recursive-CTE cluster construction: exact-Jaccard ≥ 0.8 pair
    * graph → transitive reachability (`reach(id, r)`).
    */
  private lazy val CLUSTERS_CTE: String =
    s"""${SHINGLES(5)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |p AS (SELECT ia, ib FROM inter JOIN sizes sa ON ia = sa.doc_id
       |  JOIN sizes sb ON ib = sb.doc_id
       |  WHERE sb.n >= sa.n * 0.8 AND sa.n >= sb.n * 0.8
       |    AND c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
       |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)""".stripMargin

  /** BM25 scored-corpus CTE chain (k1=1.2, b=0.75, Lucene idf) — shared
    * by the text_bm25 and vs_hybrid_search oracles; mirrors
    * TextAnalysis.bm25Search's expression tree term by term.
    */
  private lazy val BM25_SCORED: String = {
    val terms = Seq("join", "hash", "scan", "merge")
    val tfs = terms.map(t =>
      s"len(list_filter(words, x -> x = '$t'))::DOUBLE AS tf_$t").mkString(",\n  ")
    val dfs = terms.map(t => s"sum((tf_$t > 0)::BIGINT)::DOUBLE AS df_$t").mkString(", ")
    val score = terms.map(t =>
      s"ln(1 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * (tf_$t * 2.2) / " +
        s"(tf_$t + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))").mkString(" + ")
    s"""base AS (SELECT doc_id, len(words)::DOUBLE AS dl,
       |  $tfs
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl, $dfs FROM base),
       |scored AS (SELECT doc_id, round($score, 4) AS bm25 FROM base, stats)""".stripMargin
  }

  /** Langid scored-corpus CTE — shared by the text_langid and
    * text_lang_confusion oracles. The IN-lists are GENERATED from
    * `TextAnalysis.langMarkers` (the public stopword tables), so the
    * Spark expression tree and the oracle can't drift; s_zh mirrors the
    * CJK-codepoint count (RE2 `\x{...}` class = Java `\u...` class).
    */
  private lazy val LANGID_SCORES: String = {
    def inList(lang: String): String =
      graft.operators.TextAnalysis.langMarkers(lang).map(w => s"'$w'").mkString(",")
    val hits = Seq("de", "en", "es", "fr").map(lg =>
      s"len(list_filter(words, x -> x IN (${inList(lg)})))::BIGINT AS s_$lg").mkString(",\n  ")
    s"""s AS (SELECT doc_id, lang AS label_lang,
       |  $hits,
       |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))::BIGINT AS s_zh
       |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS words FROM documents)),
       |pred AS (SELECT doc_id, label_lang,
       |  CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
       |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
       |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
       |       WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
       |       ELSE 'zh' END AS pred_lang,
       |  greatest(s_de, s_en, s_es, s_fr, s_zh) AS score FROM s)""".stripMargin
  }

  /** Validated parameter bag for the `graft_query` TVF's optional
    * third argument: unknown keys and unparseable values fail AT
    * ANALYSIS with the operator's valid knob set named — a typo'd
    * parameter must never silently run the default plan.
    */
  private final class QueryParams(name: String, m: Map[String, String],
                                  allowed: String*) {
    locally {
      val unknown = m.keySet -- allowed.toSet
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"graft_query('$name'): unknown parameter(s) ${unknown.toSeq.sorted.mkString(", ")}" +
          s" — valid: ${allowed.sorted.mkString(", ")}")
    }
    private def get[T](k: String, dflt: T)(parse: String => T): T =
      m.get(k).map { v =>
        try parse(v.trim)
        catch { case _: Exception => throw new IllegalArgumentException(
          s"graft_query('$name'): parameter '$k' value '$v' is not valid") }
      }.getOrElse(dflt)
    def int(k: String, dflt: Int): Int = get(k, dflt)(_.toInt)
    def long(k: String, dflt: Long): Long = get(k, dflt)(_.toLong)
    def dbl(k: String, dflt: Double): Double = get(k, dflt)(_.toDouble)
    def strs(k: String, dflt: Seq[String]): Seq[String] =
      get(k, dflt)(_.split("\\s+").toSeq)
    def str(k: String): Option[String] = m.get(k)
  }

  /** Parameterized TVF surface: operators whose tuning knobs (k,
    * thresholds, tenant ids…) are reachable from SQL —
    * `graft_query('ann_brute_topk', dir, map('k', '5'))`. Each entry is
    * the query's only declaration: its parameters and their defaults
    * are written here once, and [[queries]] runs it with an empty bag.
    * The `vs_points_*` entries are the /points wire forms: each default
    * request runs the full parse + dispatch path onto its typed call
    * and is graded by that call's DuckDB answer (`vs_points_query`
    * shares vs_search_filter_should's oracle SQL).
    */
  private[graft] def paramQueries
      : Map[String, (SparkSession, String, Map[String, String]) => DataFrame] = Map(
    "ann_brute_topk" -> ((s, d, m) => {
      val p = new QueryParams("ann_brute_topk", m, "k")
      Ann.bruteTopK(s, d, p.int("k", 10))
    }),
    "ann_ivf_topk" -> ((s, d, m) => {
      val p = new QueryParams("ann_ivf_topk", m, "k", "nlist", "nprobe")
      Ann.ivfTopK(s, d, p.int("k", 10), p.int("nlist", 16), p.int("nprobe", 8))
    }),
    "dedup_minhash_lsh" -> ((s, d, m) => {
      val p = new QueryParams("dedup_minhash_lsh", m, "t")
      Dedup.minhashLsh(s, d, p.dbl("t", 0.8))
    }),
    "dedup_ngram_jaccard" -> ((s, d, m) => {
      val p = new QueryParams("dedup_ngram_jaccard", m, "t")
      Dedup.ngramJaccard(s, d, p.dbl("t", 0.7))
    }),
    "dedup_simhash" -> ((s, d, m) => {
      val p = new QueryParams("dedup_simhash", m, "df_cap")
      Dedup.simhash(s, d, p.int("df_cap", 4096))
    }),
    "vs_search_threshold" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_threshold", m, "tau")
      VectorStore.searchThreshold(s, d, p.dbl("tau", 0.05))
    }),
    "vs_search_offset" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_offset", m, "offset", "k")
      VectorStore.searchOffset(s, d, p.int("offset", 5), p.int("k", 5))
    }),
    "vs_search_match_text" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_match_text", m, "k", "terms")
      VectorStore.searchMatchText(s, d, p.int("k", 10),
        p.strs("terms", Seq("the", "data")))
    }),
    // the FULL filter boolean algebra from SQL (VERDICT r10 #7): the
    // `filter` parameter carries a Qdrant-syntax JSON filter object —
    // `graft_query('vs_search_filter_should', dir, map('filter',
    // '{"must": [{"key": "lang", "match": {"value": "en"}}]}'))` —
    // parsed by Filters.fromJson and served through the SAME readFilter
    // route the direct-call entry uses (spec'd SQL ≡ direct call). Use
    // the map(...) literal form: the compact 'k=v,…' string form splits
    // on commas, which JSON carries.
    "vs_search_filter_should" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_filter_should", m, "k", "filter")
      p.str("filter")
        .map(j => VectorStore.searchFilterWith(s, d,
          graft.api.Filters.fromJson(j), p.int("k", 10)))
        .getOrElse(VectorStore.searchFilterShould(s, d, p.int("k", 10)))
    }),
    // the WHOLE /points/query request as JSON from SQL (VERDICT r12
    // #1): `graft_query('vs_points_query', dir, map('query', '{"query":
    // {"recommend": {...}}, "filter": {...}, "limit": 10}'))` — every
    // wire mode (nearest/recommend/discover/context/fusion/formula/
    // sample, prefetch, using, quantization params) parses through
    // QueryRequest.fromJson and dispatches to its proven typed call.
    // Use the map(...) literal form (JSON carries commas).
    "vs_points_query" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_query", m, "query")
      VectorStore.pointsQuery(s, d,
        p.str("query").getOrElse(defaultPointsQueryJson))
    }),
    // the sibling endpoints from SQL — each takes its whole wire body
    // as map('request', '<json>') (the map(...) literal form: JSON
    // carries commas)
    "vs_points_query_groups" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_query_groups", m, "request")
      VectorStore.pointsQueryGroups(s, d,
        p.str("request").getOrElse(defaultGroupsJson))
    }),
    "vs_points_scroll" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_scroll", m, "request")
      VectorStore.pointsScroll(s, d, p.str("request").getOrElse(defaultScrollJson))
    }),
    "vs_points_count" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_count", m, "request")
      VectorStore.pointsCount(s, d, p.str("request").getOrElse(defaultCountJson))
    }),
    "vs_points_facet" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_facet", m, "request")
      VectorStore.pointsFacet(s, d, p.str("request").getOrElse(defaultFacetJson))
    }),
    "vs_points_query_batch" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_query_batch", m, "request")
      VectorStore.pointsQueryBatch(s, d,
        p.str("request").getOrElse(defaultBatchJson))
    }),
    "vs_points_update" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_update", m, "request")
      VectorStore.pointsUpdate(s, d, p.str("request").getOrElse(defaultUpdateJson))
    }),
    "vs_points_retrieve" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_retrieve", m, "request")
      VectorStore.pointsRetrieve(s, d,
        p.str("request").getOrElse(defaultRetrieveJson))
    }),
    "vs_points_matrix" -> ((s, d, m) => {
      val p = new QueryParams("vs_points_matrix", m, "request")
      VectorStore.pointsMatrix(s, d, p.str("request").getOrElse(defaultMatrixJson))
    }),
    "vs_search_filter_phrase" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_filter_phrase", m, "k", "filter")
      p.str("filter")
        .map(j => VectorStore.searchFilterWith(s, d,
          graft.api.Filters.fromJson(j), p.int("k", 10)))
        .getOrElse(VectorStore.searchFilterPhrase(s, d, p.int("k", 10)))
    }),
    "vs_search_match_text_indexed" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_match_text_indexed", m, "k", "terms")
      VectorStore.searchMatchTextIndexed(s, d, p.int("k", 10),
        p.strs("terms", Seq("the", "data")))
    }),
    "vs_search_match_text_ci_indexed" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_match_text_ci_indexed", m, "k", "terms")
      VectorStore.searchMatchTextCiIndexed(s, d, p.int("k", 10),
        p.strs("terms", Seq("The", "DATA")))
    }),
    "vs_geo_radius_indexed" -> ((s, d, m) => {
      val p = new QueryParams("vs_geo_radius_indexed", m, "lat", "lon", "r")
      VectorStore.geoRadiusIndexed(s, d, p.dbl("lat", 40.0),
        p.dbl("lon", -100.0), p.dbl("r", 2000000.0))
    }),
    "events_scroll_order_by_indexed" -> ((s, d, m) => {
      val p = new QueryParams("events_scroll_order_by_indexed", m, "n")
      VectorStore.scrollOrderByIndexed(s, d, p.int("n", 40))
    }),
    "vs_search_match_phrase_indexed" -> ((s, d, m) => {
      val p = new QueryParams("vs_search_match_phrase_indexed", m, "k", "phrase")
      VectorStore.searchMatchPhraseIndexed(s, d, p.int("k", 10),
        // phrase words arrive space-separated, exactly the strs contract
        p.strs("phrase", Seq("the", "data")).mkString(" "))
    }),
    "vs_geo_search_indexed" -> ((s, d, m) => {
      val p = new QueryParams("vs_geo_search_indexed", m,
        "k", "lat_min", "lat_max", "lon_min", "lon_max")
      VectorStore.geoSearchIndexed(s, d, p.int("k", 10),
        p.dbl("lat_min", 10.0), p.dbl("lat_max", 60.0),
        p.dbl("lon_min", -30.0), p.dbl("lon_max", 40.0))
    }),
    "events_value_range_indexed" -> ((s, d, m) => {
      val p = new QueryParams("events_value_range_indexed", m, "lo", "hi")
      VectorStore.eventsValueRangeIndexed(s, d,
        p.dbl("lo", 120.0), p.dbl("hi", 150.0))
    }),
    "vs_text_search_semantic" -> ((s, d, m) => {
      val p = new QueryParams("vs_text_search_semantic", m, "k")
      VectorStore.textSearchSemantic(s, d, p.int("k", 3))
    }),
    "emb_pq_search" -> ((s, d, m) => {
      val p = new QueryParams("emb_pq_search", m, "query_id", "k", "rerank")
      Embeddings.pqSearch(s, d, p.long("query_id", 0L), p.int("k", 10),
        p.int("rerank", 50))
    }),
    "events_kll_daily" -> ((s, d, m) => {
      val p = new QueryParams("events_kll_daily", m, "k")
      Relational.eventsKllDaily(s, d, p.int("k", 32768))
    }))

  /** The `graft_query` TVF's lookup: every query by name, taking its
    * parameter bag — a parameterized entry parses it, any other entry
    * refuses a non-empty one.
    */
  private[graft] def sqlQueries
      : Map[String, (SparkSession, String, Map[String, String]) => DataFrame] = {
    val params = paramQueries
    queries.map { case (name, fn) =>
      name -> params.getOrElse(name, (s: SparkSession, d: String, m: Map[String, String]) => {
        if (m.nonEmpty) throw new IllegalArgumentException(
          s"graft_query('$name') takes no parameters — parameterized queries: " +
            params.keys.toSeq.sorted.mkString(", "))
        fn(s, d)
      })
    }
  }

  private def jaccardOracle(t: Double): String =
    s"""WITH ${SHINGLES(5)},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |j AS (SELECT ia, ib, c::DOUBLE / (sa.n + sb.n - c) AS jaccard
       |  FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
       |  WHERE sb.n >= sa.n * $t AND sa.n >= sb.n * $t)
       |SELECT ia, ib, round(jaccard, 4) AS jaccard FROM j WHERE jaccard >= $t ORDER BY ia, ib""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "vs_upsert_latest" ->
      s"""WITH $PTS,
         |updates AS (SELECT id, vector, 'v2 ' || text AS text, user_id, site, lang,
         |  seq + 1000000 AS seq FROM pts WHERE id % 5 = 0),
         |merged AS (SELECT * FROM pts UNION ALL SELECT * FROM updates),
         |r AS (SELECT id, seq, count(*) OVER (PARTITION BY id) AS n_versions,
         |  row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rk,
         |  substring(text, 1, 2) AS head FROM merged)
         |SELECT id, seq, n_versions, head FROM r WHERE rk = 1 ORDER BY id""".stripMargin,
    "vs_search_topk" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.id, substring(p.text, 1, 20) AS string,
         |  list_distance(p.vector, q.qvec) AS sr FROM pts p, q WHERE p.user_id = 7),
         |r AS (SELECT *, row_number() OVER (ORDER BY sr ASC, id ASC) AS rank FROM scored)
         |SELECT rank, id, string, round(sr, 4) AS score FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin,
    // Manhattan metric (Qdrant Distance.Manhattan): the |diff| sums run
    // in index order on both engines — same IEEE sequence, exact match
    "vs_search_topk_l1" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.id,
         |  list_sum(list_transform(list_zip(q.qvec, p.vector),
         |    x -> abs(x[1] - x[2]))) AS sr
         |  FROM pts p, q WHERE p.user_id = 7),
         |r AS (SELECT *, row_number() OVER (ORDER BY sr ASC, id ASC) AS rank FROM scored)
         |SELECT rank, id, round(sr, 4) AS score FROM r WHERE rank <= 5
         |ORDER BY rank""".stripMargin,
    // dot-product metric (Qdrant Distance.Dot) — similarity DESC, raw
    // inner product ordering, rounded only in the output
    "vs_search_topk_dot" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.id, list_inner_product(q.qvec, p.vector) AS sr
         |  FROM pts p, q WHERE p.user_id = 7),
         |r AS (SELECT *, row_number() OVER (ORDER BY sr DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, round(sr, 4) AS score FROM r WHERE rank <= 5
         |ORDER BY rank""".stripMargin,
    // search offset: ranks (offset+1)..(offset+k), absolute rank kept
    "vs_search_offset" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.id,
         |  round(list_cosine_similarity(q.qvec, p.vector), 4) AS score
         |  FROM pts p, q WHERE p.user_id = 7),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, score FROM r WHERE rank > 5 AND rank <= 10
         |ORDER BY rank""".stripMargin,
    "vs_search_topk_filtered" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |scored AS (SELECT p.id, p.user_id, p.lang, list_distance(p.vector, q.qvec) AS sr
         |  FROM pts p, q WHERE p.user_id = 3 AND p.lang IN ('en', 'fr')),
         |r AS (SELECT *, row_number() OVER (ORDER BY sr ASC, id ASC) AS rank FROM scored)
         |SELECT rank, id, user_id, lang, round(sr, 4) AS score FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin,
    // the PayloadIndex-routed form answers the SAME question as the
    // scan-filter form — one oracle, two physical routes (the layout
    // must never change results, only pruning)
    "vs_search_topk_filtered_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |scored AS (SELECT p.id, p.user_id, p.lang, list_distance(p.vector, q.qvec) AS sr
         |  FROM pts p, q WHERE p.user_id = 3 AND p.lang IN ('en', 'fr')),
         |r AS (SELECT *, row_number() OVER (ORDER BY sr ASC, id ASC) AS rank FROM scored)
         |SELECT rank, id, user_id, lang, round(sr, 4) AS score FROM r WHERE rank <= 5 ORDER BY rank""".stripMargin,
    "vs_dbsf_fusion" ->
      s"""WITH $BM25_SCORED,
         |kw AS (SELECT doc_id, bm25 AS score FROM scored WHERE bm25 > 0
         |       ORDER BY bm25 DESC, doc_id LIMIT 20),
         |emb AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |q AS (SELECT vec AS qv FROM emb WHERE doc_id = 0),
         |vc AS (SELECT e.doc_id, round(list_cosine_similarity(e.vec, q.qv), 4) AS score
         |       FROM emb e, q WHERE e.doc_id <> 0 ORDER BY score DESC, doc_id LIMIT 20),
         |kst AS (SELECT count(*)::DOUBLE AS n,
         |  CAST(sum(CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         |  CAST(sum(CAST(score AS DECIMAL(18,4)) * CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS s2
         |  FROM kw),
         |vst AS (SELECT count(*)::DOUBLE AS n,
         |  CAST(sum(CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS s1,
         |  CAST(sum(CAST(score AS DECIMAL(18,4)) * CAST(score AS DECIMAL(18,4))) AS DOUBLE) AS s2
         |  FROM vc),
         |kn AS (SELECT doc_id, CASE WHEN sigma > 0
         |    THEN (score - mu + 3.0 * sigma) / (6.0 * sigma) ELSE 0.5 END AS nkw
         |  FROM kw, (SELECT n, s1 / n AS mu, sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma FROM kst)),
         |vn AS (SELECT doc_id, CASE WHEN sigma > 0
         |    THEN (score - mu + 3.0 * sigma) / (6.0 * sigma) ELSE 0.5 END AS nvec
         |  FROM vc, (SELECT n, s1 / n AS mu, sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sigma FROM vst)),
         |f AS (SELECT coalesce(kn.doc_id, vn.doc_id) AS doc_id,
         |  coalesce(kn.nkw, 0.0) + coalesce(vn.nvec, 0.0) AS fused
         |  FROM kn FULL OUTER JOIN vn ON kn.doc_id = vn.doc_id),
         |r AS (SELECT *, row_number() OVER (ORDER BY fused DESC, doc_id) AS rank FROM f)
         |SELECT rank, doc_id, round(fused, 4) AS dbsf FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "vs_random_sample" ->
      s"""WITH $PTS,
         |h AS (SELECT id, user_id, site, lang,
         |  CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
         |  FROM pts)
         |SELECT id, user_id, site, lang FROM h ORDER BY hk, id LIMIT 20""".stripMargin,
    "vs_formula_boost" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 3),
         |scored AS (SELECT p.id, p.lang,
         |  CAST(CAST(round(list_cosine_similarity(p.vector, q.qvec), 4) AS DECIMAL(9,4))
         |      * CAST(0.7 AS DECIMAL(2,1))
         |    + (CASE WHEN p.lang = 'en' THEN CAST(1.0 AS DECIMAL(2,1))
         |       ELSE CAST(0.5 AS DECIMAL(2,1)) END) * CAST(0.3 AS DECIMAL(2,1))
         |    AS DOUBLE) AS score
         |  FROM pts p, q WHERE p.id <> 3),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, lang, score FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // formula decay boosting: the LINEAR kernel (max(0, 1 − |x−t|·
    // (1−mid)/scale), t=100, scale=1000, mid=0.5 → λ = 0.0005) is pure
    // IEEE multiply-subtract-max — both engines evaluate the identical
    // tree, so the raw double score compares without rounding
    "vs_formula_decay" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 3),
         |scored AS (SELECT p.id, p.seq,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) * 0.7
         |    + greatest(0.0, 1.0 - abs(p.seq - CAST('100.0' AS DOUBLE))
         |        * CAST('${(1.0 - 0.5) / 1000.0}' AS DOUBLE)) * 0.3 AS score
         |  FROM pts p, q WHERE p.id <> 3),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, seq, score FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // formula geo_distance + gauss decay (boost-by-proximity): both
    // transcendental components round (cosine 4dp, decay 6dp) into
    // DECIMALS, the affine combination stays exact decimal — the
    // formulaBoost discipline with a derived distance axis; λ =
    // ln(0.5)/scale² interpolated from the same Scala double
    "vs_formula_geo_decay" ->
      s"""WITH $PTS,
         |geo AS (SELECT *, (id * 7919 % 18000) / CAST(100 AS DOUBLE) - 90.0 AS lat,
         |  (id * 104729 % 36000) / CAST(100 AS DOUBLE) - 180.0 AS lon FROM pts),
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 2),
         |dst AS (SELECT g.id, g.lat, g.lon, g.vector,
         |  2 * 6371008.8 * asin(sqrt(
         |    pow(sin((radians(g.lat) - radians(40.0)) / 2), 2)
         |    + cos(radians(40.0)) * cos(radians(g.lat))
         |      * pow(sin((radians(g.lon) - radians(-100.0)) / 2), 2))) AS dist
         |  FROM geo g WHERE g.id <> 2),
         |scored AS (SELECT d.id, d.lat, d.lon,
         |  CAST(CAST(round(list_cosine_similarity(d.vector, q.qvec), 4) AS DECIMAL(9,4))
         |      * CAST(0.7 AS DECIMAL(2,1))
         |    + CAST(round(exp(CAST('${math.log(0.5) / (2e6 * 2e6)}' AS DOUBLE)
         |        * (d.dist - 0.0) * (d.dist - 0.0)), 6) AS DECIMAL(9,6))
         |      * CAST(0.3 AS DECIMAL(2,1)) AS DOUBLE) AS score
         |  FROM dst d, q),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, lat, lon, score FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "vs_geo_search" ->
      s"""WITH $PTS,
         |geo AS (SELECT *, (id * 7919 % 18000) / CAST(100 AS DOUBLE) - 90.0 AS lat,
         |  (id * 104729 % 36000) / CAST(100 AS DOUBLE) - 180.0 AS lon FROM pts),
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 2),
         |scored AS (SELECT g.id, g.lat, g.lon, list_cosine_similarity(g.vector, q.qvec) AS cs
         |  FROM geo g, q WHERE g.lat >= 10.0 AND g.lat <= 60.0
         |    AND g.lon >= -30.0 AND g.lon <= 40.0 AND g.id <> 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, lat, lon, round(cs, 4) AS score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // the geo-bucketed index route answers the same bounding-box
    // question (grid-cell directory pruning + exact box residual)
    "vs_geo_search_indexed" ->
      s"""WITH $PTS,
         |geo AS (SELECT *, (id * 7919 % 18000) / CAST(100 AS DOUBLE) - 90.0 AS lat,
         |  (id * 104729 % 36000) / CAST(100 AS DOUBLE) - 180.0 AS lon FROM pts),
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 2),
         |scored AS (SELECT g.id, g.lat, g.lon, list_cosine_similarity(g.vector, q.qvec) AS cs
         |  FROM geo g, q WHERE g.lat >= 10.0 AND g.lat <= 60.0
         |    AND g.lon >= -30.0 AND g.lon <= 40.0 AND g.id <> 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, lat, lon, round(cs, 4) AS score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // float zone kind: the value range + event-type filter, scan form
    "events_value_range_indexed" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type IN ('click', 'view')
        |  AND value >= 120.0 AND value <= 150.0
        |ORDER BY event_id""".stripMargin,
    // the FULL range object (gt/gte/lt/lte, each optional): open-ended
    // exclusive float bound + half-open datetime window, scan form
    "events_open_range_indexed" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM events
        |WHERE event_type IN ('click', 'view')
        |  AND value > 150.0
        |  AND ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // order_by scroll through the range index it requires: first page
    // of the value order — the scan form is a global ORDER BY LIMIT
    "events_scroll_order_by_indexed" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value IS NOT NULL
        |ORDER BY value, event_id LIMIT 40""".stripMargin,
    // direction: desc + a composed keyword filter — Qdrant scroll
    // takes filter and order_by together
    "events_scroll_order_by_desc_indexed" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
        |ORDER BY value DESC, event_id LIMIT 40""".stripMargin,
    // datetime zone kind: the UTC wall-clock window, scan form
    "events_ts_range_indexed" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-11 23:59:59'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // ---- Qdrant filter boolean algebra: one question, two physical
    // routes (readFilter's pruned plan vs DuckDB's scan of the same
    // total-boolean predicate — Qdrant NULL semantics via COALESCE) ----
    "vs_search_filter_should" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND COALESCE(p.user_id >= 2 AND p.user_id <= 9, FALSE)
         |    AND (COALESCE(p.lang = 'en', FALSE) OR COALESCE(p.site = 'src3', FALSE))),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // update_vectors: ids ≡ 0 (mod 9) get title := vector[9:16] (the
    // deterministic patch both engines re-derive); the search runs on
    // the PATCHED title heads while vec_norm reads the UNTOUCHED full
    // vector — equality proves the patch replaced exactly the named
    // column
    "vs_update_vectors" ->
      s"""WITH $PTS,
         |patched AS (SELECT id, user_id, vector,
         |  CASE WHEN id % 9 = 0 THEN vector[9:16] ELSE vector[1:8] END AS title
         |  FROM pts),
         |q AS (SELECT title AS qvec FROM patched WHERE id = 0),
         |f AS (SELECT p.id,
         |  round(sqrt(list_sum(list_transform(p.vector, x -> x * x))), 4) AS vec_norm,
         |  round(list_cosine_similarity(p.title, q.qvec), 4) AS score
         |  FROM patched p, q WHERE p.id <> 0 AND p.user_id = 7),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, vec_norm, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // the wire route dispatches to the SAME filtered search — same
    // DuckDB answer (the whole point: JSON in, the typed route's rows out)
    "vs_points_query" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND COALESCE(p.user_id >= 2 AND p.user_id <= 9, FALSE)
         |    AND (COALESCE(p.lang = 'en', FALSE) OR COALESCE(p.site = 'src3', FALSE))),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // groups wire ≡ the typed grouped search under the wire filter —
    // the candidate corpus honors the filter algebra (indexed route on
    // the Spark side, the same total-boolean predicate here); the
    // query anchor resolves unfiltered
    "vs_points_query_groups" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.site, p.id, round(list_distance(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND COALESCE(p.user_id >= 1 AND p.user_id <= 15, FALSE)),
         |h AS (SELECT *, row_number() OVER (PARTITION BY site ORDER BY score ASC, id ASC)
         |    AS hit_rank FROM scored),
         |hits AS (SELECT * FROM h WHERE hit_rank <= 2),
         |tg AS (SELECT site, score AS best_score FROM hits WHERE hit_rank = 1),
         |g AS (SELECT site,
         |  row_number() OVER (ORDER BY best_score ASC, site ASC) AS group_rank FROM tg)
         |SELECT g.group_rank, hits.site, hits.hit_rank, hits.id, hits.score
         |FROM hits JOIN g ON hits.site = g.site
         |WHERE g.group_rank <= 3
         |ORDER BY group_rank, hit_rank""".stripMargin,
    // scroll wire: Qdrant's inclusive next-page-offset cursor under
    // the filter algebra (the indexed readFilter route on the Spark
    // side; the same total-boolean predicate here)
    "vs_points_scroll" ->
      s"""WITH $PTS
         |SELECT id, user_id, seq FROM pts
         |WHERE COALESCE(lang = 'en', FALSE) AND id >= 101
         |ORDER BY id LIMIT 50""".stripMargin,
    // count wire: the exact filtered count, one pruned aggregate
    "vs_points_count" ->
      s"""WITH $PTS
         |SELECT count(*) AS n FROM pts
         |WHERE COALESCE(user_id >= 2 AND user_id <= 9, FALSE)
         |  AND COALESCE(lang IN ('en', 'fr'), FALSE)""".stripMargin,
    // facet wire: hottest values first, value-asc ties
    "vs_points_facet" ->
      s"""WITH $PTS
         |SELECT site AS value, count(*) AS n FROM pts
         |WHERE COALESCE(lang IN ('en', 'fr'), FALSE)
         |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 8""".stripMargin,
    // batch wire: the two searches' plans union into one relation
    // tagged query_idx — each half is its own proven request's SQL
    "vs_points_query_batch" ->
      s"""WITH $PTS,
         |q0 AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f0 AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q0.qvec), 4) AS score
         |  FROM pts p, q0 WHERE p.id <> 1
         |    AND COALESCE(p.user_id >= 2 AND p.user_id <= 9, FALSE)
         |    AND (COALESCE(p.lang = 'en', FALSE) OR COALESCE(p.site = 'src3', FALSE))),
         |r0 AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f0),
         |q1 AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |f1 AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q1.qvec), 4) AS score
         |  FROM pts p, q1 WHERE p.id <> 0
         |    AND COALESCE(p.user_id >= 7 AND p.user_id <= 7, FALSE)),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f1)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS query_idx, rank, id, user_id, site, lang, score
         |    FROM r0 WHERE rank <= 10
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), rank, id, user_id, site, lang, score
         |    FROM r1 WHERE rank <= 5)
         |ORDER BY query_idx, rank""".stripMargin,
    // mutation wire: the ordered operations list as sequential
    // snapshot CTEs — upsert replace, payload set/overwrite/delete/
    // clear, filter delete, vector delete/update; has_vector reads the
    // final vector-column state
    "vs_points_update" ->
      s"""WITH $PTS,
         |up AS (
         |  SELECT id, user_id, site, lang, seq FROM pts WHERE id NOT IN (900001, 3)
         |  UNION ALL
         |  SELECT * FROM (VALUES (900001, 99, 'wire', 'xx', 1000001),
         |                        (3, 99, 'wire', NULL, 1000002))
         |    AS t(id, user_id, site, lang, seq)),
         |s2 AS (SELECT id, user_id, site,
         |  CASE WHEN site = 'src3' THEN 'fr' ELSE lang END AS lang, seq FROM up),
         |s3 AS (SELECT id, user_id,
         |  CASE WHEN id IN (5, 6) THEN 'ow' ELSE site END AS site,
         |  CASE WHEN id IN (5, 6) THEN NULL ELSE lang END AS lang, seq FROM s2),
         |s4 AS (SELECT id, user_id, site,
         |  CASE WHEN id IN (7, 8) THEN NULL ELSE lang END AS lang, seq FROM s3),
         |s5 AS (SELECT id, user_id,
         |  CASE WHEN id = 11 THEN NULL ELSE site END AS site,
         |  CASE WHEN id = 11 THEN NULL ELSE lang END AS lang, seq FROM s4),
         |s6 AS (SELECT * FROM s5
         |  WHERE NOT COALESCE(user_id >= 4 AND user_id <= 4, FALSE))
         |SELECT id, user_id, site, lang, seq, id NOT IN (9, 10) AS has_vector
         |FROM s6 ORDER BY id""".stripMargin,
    // retrieve wire: the parsed id batch drives the same pushed-isin
    // scan (ids differ from the typed row's — the parse is proven live)
    "vs_points_retrieve" ->
      s"""WITH $PTS
         |SELECT id, user_id, site, lang, seq,
         |  round(vector[1], 4) AS v0, round(vector[2], 4) AS v1,
         |  round(vector[3], 4) AS v2, round(vector[4], 4) AS v3
         |FROM pts WHERE id IN (5, 42, 12345678, 7, 250) ORDER BY id""".stripMargin,
    // matrix wire: sample/limit from the parsed body (16×4 vs the
    // typed row's 20×5 — the knobs are proven to flow through)
    "vs_points_matrix" ->
      s"""WITH $PTS,
         |smp AS (SELECT id, vector FROM pts WHERE id < 16),
         |pairs AS (SELECT a.id AS a_id, b.id AS b_id,
         |  round(list_cosine_similarity(a.vector, b.vector), 4) AS cosine
         |  FROM smp a JOIN smp b ON a.id <> b.id),
         |r AS (SELECT *, row_number() OVER
         |  (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rk FROM pairs)
         |SELECT a_id, b_id, cosine, rk FROM r WHERE rk <= 4
         |ORDER BY a_id, rk""".stripMargin,
    "vs_search_filter_must_not" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND COALESCE(p.user_id >= 0 AND p.user_id <= 9, FALSE)
         |    AND NOT COALESCE(p.lang = 'de', FALSE)
         |    AND NOT COALESCE(p.site = 'src7', FALSE)),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "vs_search_filter_min_should" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND (CASE WHEN COALESCE(p.lang = 'en', FALSE) THEN 1 ELSE 0 END
         |       + CASE WHEN COALESCE(p.site = 'src3', FALSE) THEN 1 ELSE 0 END
         |       + CASE WHEN COALESCE(p.user_id >= 0 AND p.user_id <= 5, FALSE)
         |         THEN 1 ELSE 0 END) >= 2),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // phrase as a first-class filter-TREE condition: phrase + integer
    // range + negated keyword in ONE must/must_not tree (the positional
    // phrase-start gate + zone/directory pruning answer the same scan
    // question — Qdrant match:{phrase:} composed with everything)
    "vs_search_filter_phrase" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND COALESCE(contains(' ' || p.text || ' ', ' the data '), FALSE)
         |    AND COALESCE(p.user_id >= 1 AND p.user_id <= 15, FALSE)
         |    AND NOT COALESCE(p.lang = 'de', FALSE)),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // RFC 3339 datetime bounds (Z suffix + ±hh:mm offset) — the oracle
    // states the SAME window in converted UTC wall-clock form: the
    // +02:00 upper bound IS 04:30 UTC, which is what the row proves
    "events_ts_range_rfc3339_indexed" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE event_type = 'click'
        |  AND ts >= TIMESTAMP '2024-01-05 12:00:00'
        |  AND ts < TIMESTAMP '2024-01-07 04:30:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // order_by.start_from: the value-only inclusive cursor form
    "events_scroll_start_from_indexed" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE value IS NOT NULL AND value >= 100.0
        |ORDER BY value, event_id LIMIT 40""".stripMargin,
    // context-only discovery: rank by the pair-boundary score alone
    "vs_context_search" ->
      s"""WITH $PTS,
         |p1 AS (SELECT vector AS p FROM pts WHERE id = 1),
         |n1 AS (SELECT vector AS n FROM pts WHERE id = 2),
         |p2 AS (SELECT vector AS p FROM pts WHERE id = 3),
         |n2 AS (SELECT vector AS n FROM pts WHERE id = 4)
         |SELECT id,
         |  round(least(0, round(list_cosine_similarity(vector, p1.p), 4)
         |      - round(list_cosine_similarity(vector, n1.n), 4))
         |    + least(0, round(list_cosine_similarity(vector, p2.p), 4)
         |      - round(list_cosine_similarity(vector, n2.n), 4)), 4) AS ctx_score
         |FROM pts, p1, n1, p2, n2
         |WHERE id NOT IN (1, 2, 3, 4)
         |ORDER BY ctx_score DESC, id LIMIT 10""".stripMargin,
    // facet + random-sample composed with the full filter object
    "vs_facet_counts_filtered" ->
      s"""WITH $PTS
         |SELECT site, count(*) AS n, count(DISTINCT user_id) AS n_tenants
         |FROM pts
         |WHERE COALESCE(user_id >= 1 AND user_id <= 8, FALSE)
         |  AND NOT COALESCE(lang = 'de', FALSE)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_random_sample_filtered" ->
      s"""WITH $PTS,
         |h AS (SELECT id, user_id, site, lang,
         |  CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) AS hk
         |  FROM pts
         |  WHERE COALESCE(lang IN ('en', 'fr'), FALSE)
         |    AND COALESCE(user_id >= 2 AND user_id <= 12, FALSE))
         |SELECT id, user_id, site, lang FROM h ORDER BY hk, id LIMIT 20""".stripMargin,
    // the full filter object through the persisted ANN artifact —
    // nprobe = nlist makes the probe exact, so the brute-force scan of
    // the same composed predicate is the oracle
    "ann_pfilter_topk" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec, label
        |  FROM embeddings),
        |q AS (SELECT vec AS qvec FROM emb WHERE vec_id = 0),
        |f AS (SELECT e.vec_id, list_cosine_similarity(e.vec, q.qvec) AS cs
        |  FROM emb e, q WHERE e.vec_id >= 10
        |    AND COALESCE(e.vec_id % 4 = 1, FALSE)
        |    AND COALESCE(e.vec_id >= 100, FALSE)
        |    AND NOT COALESCE(e.label >= 0 AND e.label <= 1, FALSE)),
        |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS rank FROM f)
        |SELECT rank, vec_id, round(cs, 4) AS cosine FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,
    // IVF predicate delete as snapshot rotation: the audit reads the
    // ROTATED layout; DuckDB re-derives survivors from the corpus rule
    // (tag = 't' || vec_id % 4 over vec_id >= 10, minus the doomed
    // tag-t1 ∧ vec_id >= 300 slice) — counts are quantizer-independent
    "ann_delete_rotate" ->
      """WITH src AS (SELECT vec_id, 't' || (vec_id % 4)::VARCHAR AS tag
        |  FROM embeddings WHERE vec_id >= 10),
        |surv AS (SELECT * FROM src
        |  WHERE NOT (COALESCE(tag = 't1', FALSE) AND COALESCE(vec_id >= 300, FALSE)))
        |SELECT tag, count(*) AS n_points, min(vec_id) AS min_id,
        |  max(vec_id) AS max_id
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,
    // the ADAPTIVE filtered search on the selective (~0.8%) keyword
    // arm: the full-scan switch widens to nprobe = nlist — the EXACT
    // pruned scan — which is what makes the row oracle-checkable while
    // driving the production plan switch end-to-end
    "ann_pfilter_adaptive" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec
        |  FROM embeddings),
        |q AS (SELECT vec AS qvec FROM emb WHERE vec_id = 0),
        |f AS (SELECT e.vec_id, list_cosine_similarity(e.vec, q.qvec) AS cs
        |  FROM emb e, q WHERE e.vec_id >= 10
        |    AND COALESCE(e.vec_id % 128 = 0, FALSE)),
        |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, vec_id ASC) AS rank FROM f)
        |SELECT rank, vec_id, round(cs, 4) AS cosine FROM r WHERE rank <= 10
        |ORDER BY rank""".stripMargin,
    // MatchAny on text: ANY whole word present (the postings-union
    // route answers the same OR-of-word-predicates scan question)
    "vs_search_match_any_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND (COALESCE(contains(' ' || p.text || ' ', ' batch '), FALSE)
         |      OR COALESCE(contains(' ' || p.text || ' ', ' sort '), FALSE))),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // MatchExcept on keyword: value NOT in the list (NULL matches —
    // the logical NOT of MatchAny); the negated IN-list is itself a
    // partition predicate, the one pruning exclusion
    "vs_search_match_except_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 1),
         |f AS (SELECT p.id, p.user_id, p.site, p.lang,
         |  round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 1
         |    AND COALESCE(p.user_id >= 2 AND p.user_id <= 9, FALSE)
         |    AND NOT COALESCE(p.lang IN ('de', 'es'), FALSE)),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM f)
         |SELECT rank, id, user_id, site, lang, score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // is_null / is_empty over the nullable-payload corpus — indexed
    // route ≡ the scan's total-boolean semantics on NULL-carrying rows
    "vs_filter_is_null" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, lang FROM np WHERE site_n IS NULL ORDER BY id""".stripMargin,
    "vs_filter_is_empty" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, lang FROM np
         |WHERE COALESCE(user_id >= 0 AND user_id <= 14, FALSE)
         |  AND (tags IS NULL OR len(tags) = 0) ORDER BY id""".stripMargin,
    // Qdrant array-payload matching: match = ANY element equals (tags
    // is the keyword LIST), except/must_not the negation — NULL/empty
    // arrays match the negated arm vacuously
    "vs_filter_match_array" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, lang FROM np
         |WHERE COALESCE(user_id >= 0 AND user_id <= 15, FALSE)
         |  AND COALESCE(list_contains(tags, 'en'), FALSE)
         |  AND NOT COALESCE(list_contains(tags, 'src3'), FALSE)
         |ORDER BY id""".stripMargin,
    // the /remove_by_user delete run THROUGH the maintained index as a
    // deleteTo snapshot rotation — the audit reads the ROTATED index
    "vs_delete_by_filter_indexed" ->
      s"""WITH $PTS, $NP
         |SELECT user_id, count(*) AS n, min(id) AS min_id, max(id) AS max_id,
         |  CAST(sum(CASE WHEN site_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_site
         |FROM np WHERE NOT COALESCE(user_id = 5, FALSE)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // geo_polygon: cell-cover pruning + the even-odd residual — the
    // oracle evaluates the IDENTICAL interpolated expression tree
    "vs_geo_polygon_indexed" ->
      s"""WITH $PTS,
         |geo AS (SELECT *, (id * 7919 % 18000) / CAST(100 AS DOUBLE) - 90.0 AS lat,
         |  (id * 104729 % 36000) / CAST(100 AS DOUBLE) - 180.0 AS lon FROM pts),
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 2),
         |scored AS (SELECT g.id, g.lat, g.lon, list_cosine_similarity(g.vector, q.qvec) AS cs
         |  FROM geo g, q WHERE g.id <> 2 AND ${polygonCrossSql("g.lon", "g.lat")}),
         |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, lat, lon, round(cs, 4) AS score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // values_count: exactly-2-element tags (excludes empty AND null —
    // the line is_empty cannot draw) under zone pruning + a must_not
    // keyword exclusion that NULL site matches (Qdrant semantics)
    "vs_filter_values_count" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, site_n, lang FROM np
         |WHERE COALESCE(len(tags) >= 2 AND len(tags) <= 2, FALSE)
         |  AND COALESCE(user_id >= 0 AND user_id <= 11, FALSE)
         |  AND NOT COALESCE(site_n = 'src4', FALSE)
         |ORDER BY id""".stripMargin,
    // has_id: the explicit-id restriction is a plain pushed IN-list
    "vs_filter_has_id" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, site_n, lang FROM np
         |WHERE COALESCE(id IN (1,2,3,5,8,13,21,34,55,89,144,233,377), FALSE)
         |  AND COALESCE(user_id >= 0 AND user_id <= 15, FALSE)
         |ORDER BY id""".stripMargin,
    // has_id with UUID (string) point ids: both engines derive pid =
    // md5(id) grouped 8-4-4-4-12, so the IN-list is the same key set
    "vs_filter_has_uuid" ->
      s"""WITH $PTS, $NP
         |SELECT id, pid, user_id, lang FROM np
         |WHERE COALESCE(id IN (1,2,3,5,8,13,21,34,55,89,144,233,377), FALSE)
         |  AND COALESCE(user_id >= 0 AND user_id <= 15, FALSE)
         |ORDER BY id""".stripMargin,
    // bool payload kind: match {value: true} prunes to the flag=true
    // directories; NULL flags (id % 11 = 0) never match, and the
    // must_not keyword arm keeps Qdrant NULL semantics (NULL site
    // matches the negation)
    "vs_filter_bool_indexed" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, site_n, lang FROM np
         |WHERE COALESCE(flag = TRUE, FALSE)
         |  AND COALESCE(user_id >= 0 AND user_id <= 13, FALSE)
         |  AND NOT COALESCE(site_n = 'src2', FALSE)
         |ORDER BY id""".stripMargin,
    // nested: ONE comments element satisfies author AND score together
    // — the element formulas (author u<(id+k)%10>, score
    // (id*31+k*7)%100, k <= id%3 <= 2, null/empty on the 7/5 cadence)
    // unroll to plain arithmetic, no struct SQL needed; a row whose
    // arms match on DIFFERENT elements stays excluded in both engines
    "vs_filter_nested" ->
      s"""WITH $PTS, $NP
         |SELECT id, user_id, lang FROM np
         |WHERE COALESCE(user_id >= 0 AND user_id <= 14, FALSE)
         |  AND id % 7 <> 0 AND id % 5 <> 0
         |  AND (((id + 0) % 10 = 3 AND (id * 31 + 0) % 100 BETWEEN 40 AND 90)
         |    OR (1 <= id % 3 AND (id + 1) % 10 = 3 AND (id * 31 + 7) % 100 BETWEEN 40 AND 90)
         |    OR (2 <= id % 3 AND (id + 2) % 10 = 3 AND (id * 31 + 14) % 100 BETWEEN 40 AND 90))
         |ORDER BY id""".stripMargin,
    // geo_radius: DuckDB's own trig over the same haversine formula —
    // safe because every corpus point sits >= 9.6 km off the 2000 km
    // boundary at every SF (verified), so last-ulp libm disagreement
    // can never flip membership; outputs are exact integer-derived
    // doubles
    "vs_geo_radius_indexed" ->
      s"""WITH $PTS,
         |geo AS (SELECT *, (id * 7919 % 18000) / CAST(100 AS DOUBLE) - 90.0 AS lat,
         |  (id * 104729 % 36000) / CAST(100 AS DOUBLE) - 180.0 AS lon FROM pts)
         |SELECT id, lat, lon FROM geo
         |WHERE 2 * 6371008.8 * asin(sqrt(
         |    pow(sin((radians(lat) - radians(40.0)) / 2), 2)
         |    + cos(radians(40.0)) * cos(radians(lat))
         |      * pow(sin((radians(lon) - radians(-100.0)) / 2), 2))) <= 2000000.0
         |ORDER BY id""".stripMargin,
    "vs_search_batch" ->
      s"""WITH $PTS,
         |qs AS (SELECT id AS query_id, vector AS qvec, user_id AS quser FROM pts WHERE id < 20),
         |scored AS (SELECT q.query_id, p.id, list_distance(p.vector, q.qvec) AS sr
         |  FROM pts p JOIN qs q ON p.user_id = q.quser AND p.id <> q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sr ASC, id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, rank, id, round(sr, 4) AS score FROM r WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,
    "vs_delete_by_user" ->
      s"""WITH $PTS
         |SELECT user_id, count(*) AS n, min(id) AS min_id, max(id) AS max_id
         |FROM pts WHERE user_id <> 5 GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_delete_by_word" ->
      s"""WITH $PTS
         |SELECT id, seq FROM pts WHERE user_id = 3 AND text NOT LIKE '%batch%' ORDER BY id""".stripMargin,
    // the postings-prefiltered routes answer the SAME questions as the
    // scan-filter deletes — one oracle per question, two physical
    // routes (the text index must only ever prune, never change rows)
    "vs_delete_by_word_indexed" ->
      s"""WITH $PTS
         |SELECT id, seq FROM pts WHERE user_id = 3 AND text NOT LIKE '%batch%' ORDER BY id""".stripMargin,
    "vs_delete_by_regex" ->
      s"""WITH $PTS
         |SELECT id, seq FROM pts WHERE user_id = 3 AND NOT regexp_matches(text, 'key (scan|sort)')
         |ORDER BY id""".stripMargin,
    "vs_delete_by_regex_indexed" ->
      s"""WITH $PTS
         |SELECT id, seq FROM pts WHERE user_id = 3 AND NOT regexp_matches(text, 'key (scan|sort)')
         |ORDER BY id""".stripMargin,
    "vs_classify_nearest" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec, label FROM embeddings),
        |reps AS (SELECT e.label AS cat, e.vec AS cvec FROM emb e
        |  JOIN (SELECT label, min(vec_id) AS rid FROM emb GROUP BY 1) m ON e.vec_id = m.rid),
        |scored AS (SELECT emb.vec_id, reps.cat, list_distance(emb.vec, reps.cvec) AS dr FROM emb, reps),
        |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dr ASC, cat ASC) AS rk FROM scored)
        |SELECT vec_id, cat::BIGINT AS pred_label, round(dr, 4) AS dist FROM r WHERE rk = 1
        |ORDER BY vec_id""".stripMargin,
    "vs_count_by_tenant" ->
      s"""WITH $PTS
         |SELECT user_id, lang, count(*) AS n, min(id) AS min_id FROM pts
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vs_merge_stats" ->
      s"""WITH $PTS,
         |batch AS (SELECT id, user_id FROM pts WHERE id % 5 = 0
         |  UNION ALL SELECT id + 1000000, user_id FROM pts WHERE id % 7 = 3),
         |m AS (SELECT coalesce(b.user_id, u.user_id) AS user_id,
         |  CASE WHEN b.id IS NOT NULL AND u.id IS NOT NULL THEN 'updated'
         |       WHEN b.id IS NULL THEN 'inserted' ELSE 'untouched' END AS op
         |  FROM pts b FULL OUTER JOIN batch u ON b.id = u.id)
         |SELECT user_id, op, count(*) AS n FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents
        |GROUP BY md5(lower(trim(text))) ORDER BY keep_id""".stripMargin,
    "dedup_minhash_lsh" -> jaccardOracle(0.8),
    "dedup_ngram_jaccard" -> jaccardOracle(0.7),
    "dedup_containment" ->
      s"""WITH ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |p AS (SELECT ia, ib, c::DOUBLE / least(sa.n, sb.n) AS containment
         |  FROM inter JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id)
         |SELECT ia, ib, round(containment, 4) AS containment FROM p
         |WHERE containment >= 0.9 ORDER BY ia, ib""".stripMargin,
    // connected components via recursive CTE over the exact-Jaccard
    // pair graph (the Spark side reaches the same pair set through
    // MinHash+LSH, recall ≈ 1, then union-find / label propagation)
    "dedup_clusters" ->
      s"""WITH RECURSIVE $CLUSTERS_CTE
         |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
         |ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $CLUSTERS_CTE,
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |q AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_words FROM documents),
         |rk AS (SELECT cl.cluster_id, cl.doc_id, q.n_words,
         |  row_number() OVER (PARTITION BY cl.cluster_id
         |    ORDER BY q.n_words DESC, cl.doc_id ASC) AS r
         |  FROM cl JOIN q ON cl.doc_id = q.doc_id)
         |SELECT cluster_id, doc_id AS keep_id, n_words FROM rk WHERE r = 1
         |ORDER BY cluster_id""".stripMargin,
    "text_decontaminate" ->
      s"""WITH ${SHINGLES(8)},
         |ev AS (SELECT s.doc_id, s.shingle FROM sh s JOIN documents d ON s.doc_id = d.doc_id
         |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
         |tr AS (SELECT s.doc_id, s.shingle FROM sh s JOIN documents d ON s.doc_id = d.doc_id
         |  WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3')),
         |sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM ev GROUP BY 1),
         |hits AS (SELECT e.doc_id, count(DISTINCT e.shingle) AS n_hit,
         |    count(DISTINCT t.doc_id) AS n_train_docs
         |  FROM ev e JOIN tr t ON e.shingle = t.shingle GROUP BY 1)
         |SELECT s.doc_id, s.n_ngrams, coalesce(h.n_hit, 0) AS n_hit,
         |  coalesce(h.n_train_docs, 0) AS n_train_docs,
         |  round(coalesce(h.n_hit, 0)::DOUBLE / s.n_ngrams, 4) AS hit_ratio
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id ORDER BY s.doc_id""".stripMargin,
    "text_vocabulary" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    // pmi is one double division of exact BIGINT products (< 2^53) —
    // deterministic IEEE in both engines, emitted unrounded
    "text_pmi_colloc" ->
      """WITH toks AS (SELECT string_split(lower(text), ' ') AS ws FROM documents),
        |idx AS (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS g FROM toks),
        |adj0 AS (SELECT ws[g] AS t, ws[g + 1] AS u FROM idx),
        |adj AS (SELECT t, u FROM adj0 UNION ALL SELECT u, t FROM adj0),
        |co AS (SELECT t, u, count(*) AS n FROM adj WHERE t <> u GROUP BY 1, 2),
        |c AS (SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(ws) AS tok FROM toks) GROUP BY 1),
        |scored AS (SELECT co.t, co.u, co.n, ct.c AS ct, cu.c AS cu,
        |  CAST(co.n AS DOUBLE) / (ct.c * cu.c) AS pmi
        |  FROM co JOIN c ct ON co.t = ct.tok JOIN c cu ON co.u = cu.tok),
        |best AS (SELECT *, row_number() OVER (PARTITION BY t
        |  ORDER BY pmi DESC, u) AS rk FROM scored)
        |SELECT t AS token, u AS associate, n AS n_cooccur, ct AS n_token,
        |  cu AS n_associate, pmi
        |FROM best WHERE rk = 1 ORDER BY token""".stripMargin,
    "text_ngram_counts" ->
      """WITH sh AS (SELECT doc_id,
        |  unnest([words[i]||' '||words[i+1] for i in range(1, len(words))]) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))
        |SELECT ngram, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM sh GROUP BY 1 ORDER BY tf DESC, ngram LIMIT 50""".stripMargin,
    "events_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS n_click,
        |  count(*) FILTER (event_type = 'view') AS n_view,
        |  count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (event_type = 'signup') AS n_signup,
        |  count(*) FILTER (event_type = 'error') AS n_error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_repetition" ->
      """WITH sh AS (SELECT doc_id,
        |  unnest([words[i]||' '||words[i+1] for i in range(1, len(words))]) AS ngram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
        |c AS (SELECT doc_id, ngram, count(*) AS c FROM sh GROUP BY 1, 2)
        |-- sum(BIGINT) is HUGEINT in DuckDB -> float64 in the driver's
        |-- pandas compare; cast back so the value-hash sees an integer
        |SELECT doc_id, max(c) AS top_bigram_n, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(max(c)::DOUBLE / sum(c), 4) AS rep_ratio
        |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_tfidf_top" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |scored AS (SELECT doc_id, token,
        |  round(tf * ln((n_docs + 1) / (df + 1)), 4) AS tfidf
        |  FROM tf JOIN dft USING (token), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |  ORDER BY tfidf DESC, token ASC) AS rk FROM scored)
        |SELECT doc_id, rk, token, tfidf FROM r WHERE rk <= 5
        |ORDER BY doc_id, rk""".stripMargin,
    "text_lang_confusion" ->
      s"""WITH $LANGID_SCORES
         |SELECT label_lang, pred_lang, count(*) AS n FROM pred
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_bm25" ->
      s"""WITH $BM25_SCORED
         |SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
         |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    "vs_hybrid_search" ->
      s"""WITH $BM25_SCORED,
         |kwr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_kw
         |  FROM (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
         |        ORDER BY bm25 DESC, doc_id LIMIT 20)),
         |emb AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS vec FROM embeddings),
         |q AS (SELECT vec AS qv FROM emb WHERE doc_id = 0),
         |vr AS (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank_vec
         |  FROM (SELECT e.doc_id, round(list_cosine_similarity(e.vec, q.qv), 4) AS cosine
         |        FROM emb e, q WHERE e.doc_id <> 0 ORDER BY cosine DESC, doc_id LIMIT 20)),
         |f AS (SELECT coalesce(kwr.doc_id, vr.doc_id) AS doc_id,
         |  coalesce(kwr.rank_kw, 0) AS rank_kw, coalesce(vr.rank_vec, 0) AS rank_vec,
         |  round(coalesce(CAST(1 AS DOUBLE) / (60 + kwr.rank_kw), 0)
         |      + coalesce(CAST(1 AS DOUBLE) / (60 + vr.rank_vec), 0), 6) AS rrf
         |  FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id),
         |r AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM f)
         |SELECT rank, doc_id, rank_kw, rank_vec, rrf FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "events_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id, count(c.ts) AS n_clicks,
        |  CAST(coalesce(sum(CAST(c.value AS DECIMAL(18,4))), 0) AS DOUBLE) AS click_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
        |GROUP BY 1, 2 ORDER BY purchase_id""".stripMargin,
    "dedup_embedding" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |pert AS (SELECT vec_id + 100000 AS vec_id, list_concat([vec[1] + 0.01], vec[2:]) AS vec
        |  FROM emb WHERE vec_id < 50),
        |alle AS (SELECT * FROM emb UNION ALL SELECT * FROM pert),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib, list_cosine_similarity(a.vec, b.vec) AS cs
        |  FROM alle a JOIN alle b ON a.vec_id < b.vec_id)
        |SELECT ia, ib, round(cs, 4) AS cosine FROM p WHERE cs >= 0.99 ORDER BY ia, ib""".stripMargin,
    "emb_dim_stats" ->
      """WITH vals AS (SELECT unnest(range(0, len(embedding))) AS dim,
        |  unnest([CAST(x::DOUBLE AS DECIMAL(18,10)) for x in embedding]) AS v
        |  FROM embeddings)
        |SELECT dim::BIGINT AS dim, count(*) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean,
        |  CAST(min(v) AS DOUBLE) AS min_v, CAST(max(v) AS DOUBLE) AS max_v,
        |  round((CAST(sum(v*v) AS DOUBLE)
        |    - CAST(sum(v) AS DOUBLE) * CAST(sum(v) AS DOUBLE) / count(*))
        |    / count(*), 6) AS variance
        |FROM vals GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_norm_stats" ->
      """WITH vals AS (SELECT label, vec_id,
        |  unnest([x::DOUBLE for x in embedding]) AS v FROM embeddings),
        |n AS (SELECT label, vec_id,
        |  CAST(round(sqrt(CAST(sum(CAST(v AS DECIMAL(18,10)) * CAST(v AS DECIMAL(18,10)))
        |    AS DOUBLE)), 4) AS DECIMAL(18,4)) AS norm
        |  FROM vals GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(norm) AS DOUBLE) / count(*), 4) AS mean_norm,
        |  CAST(min(norm) AS DOUBLE) AS min_norm, CAST(max(norm) AS DOUBLE) AS max_norm
        |FROM n GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_outlier_audit" ->
      """WITH vals AS (SELECT vec_id, label,
        |  unnest(range(0, len(embedding))) AS dim,
        |  CAST(unnest([x::DOUBLE for x in embedding]) AS DECIMAL(18,10)) AS v
        |  FROM embeddings),
        |c AS (SELECT label, dim, CAST(sum(v) AS DOUBLE) / count(*) AS c
        |  FROM vals GROUP BY 1, 2),
        |dist AS (SELECT vec_id, vals.label, CAST(round(sqrt(CAST(
        |    sum(CAST(round((v::DOUBLE - c) * (v::DOUBLE - c), 12) AS DECIMAL(28,12)))
        |    AS DOUBLE)), 6) AS DECIMAL(18,6)) AS dist
        |  FROM vals JOIN c ON vals.label = c.label AND vals.dim = c.dim
        |  GROUP BY 1, 2),
        |st AS (SELECT label, count(*) AS h, sum(dist) AS s1, sum(dist * dist) AS s2
        |  FROM dist GROUP BY 1),
        |sds AS (SELECT label, CAST(s1 AS DOUBLE) / h AS mean,
        |  sqrt(greatest(CAST(s2 AS DOUBLE) / h
        |    - (CAST(s1 AS DOUBLE) / h) * (CAST(s1 AS DOUBLE) / h), 0.0)) AS sd
        |  FROM st)
        |SELECT vec_id, d.label, round(CAST(dist AS DOUBLE), 4) AS dist,
        |  round((CAST(dist AS DOUBLE) - mean) / sd, 4) AS zscore
        |FROM dist d JOIN sds ON d.label = sds.label
        |WHERE sd > 0 AND abs(CAST(dist AS DOUBLE) - mean) > 1.5 * sd
        |ORDER BY vec_id""".stripMargin,
    "lineitem_corr_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
        |      / count(*)
        |    - (CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*))
        |    * (CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / count(*)),
        |    4) AS cov_qty_price,
        |  round((CAST(count(*) AS DOUBLE)
        |      * CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
        |    - CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |      * CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE))
        |    / sqrt((CAST(count(*) AS DOUBLE)
        |        * CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE))
        |      * (CAST(count(*) AS DOUBLE)
        |        * CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,8))) AS DOUBLE)
        |      - CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
        |        * CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE))), 4)
        |    AS corr_qty_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "keys_skew_audit" -> Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      s"""SELECT '$k' AS key_name, n_rows, n_keys, max_cnt,
         |  round(CAST(n_rows AS DOUBLE) / n_keys, 4) AS avg_cnt,
         |  round(max_cnt * CAST(n_keys AS DOUBLE) / n_rows, 4) AS skew_ratio,
         |  p95_cnt, n_heavy_keys
         |FROM (
         |  WITH pk AS (SELECT $k, count(*) AS cnt FROM lineitem GROUP BY 1),
         |  hist AS (SELECT cnt, count(*) AS nk FROM pk GROUP BY 1),
         |  tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
         |    CAST(sum(cnt * nk) AS BIGINT) AS n_rows, max(cnt) AS max_cnt FROM hist),
         |  cum AS (SELECT cnt, nk, CAST(sum(nk) OVER (ORDER BY cnt) AS BIGINT) AS cum FROM hist),
         |  p95 AS (SELECT min(cnt) AS p95_cnt FROM cum, tot WHERE cum >= ceil(n_keys * 0.95)),
         |  heavy AS (SELECT CAST(coalesce(sum(nk), 0) AS BIGINT) AS n_heavy_keys
         |    FROM hist, tot WHERE cnt * n_keys > n_rows * 2)
         |  SELECT * FROM tot, p95, heavy)""".stripMargin
    }.mkString("", " UNION ALL ", " ORDER BY key_name"),
    "keys_partition_plan" -> Seq("l_orderkey", "l_partkey", "l_suppkey").map { k =>
      s"""SELECT '$k' AS key_name, n_rows, n_keys,
         |  round(max_cnt * CAST(n_keys AS DOUBLE) / n_rows, 4) AS skew_ratio,
         |  greatest(1, CAST(ceil(CAST(n_rows AS DOUBLE) / 10000) AS BIGINT))
         |    AS rec_partitions,
         |  greatest(1, CAST(ceil(CAST(max_cnt AS DOUBLE) / 10000) AS BIGINT))
         |    AS rec_salt,
         |  max_cnt > p95_cnt * 5 AS aqe_skew_trigger
         |FROM (
         |  WITH pk AS (SELECT $k, count(*) AS cnt FROM lineitem GROUP BY 1),
         |  hist AS (SELECT cnt, count(*) AS nk FROM pk GROUP BY 1),
         |  tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n_keys,
         |    CAST(sum(cnt * nk) AS BIGINT) AS n_rows, max(cnt) AS max_cnt FROM hist),
         |  cum AS (SELECT cnt, nk, CAST(sum(nk) OVER (ORDER BY cnt) AS BIGINT) AS cum FROM hist),
         |  p95 AS (SELECT min(cnt) AS p95_cnt FROM cum, tot WHERE cum >= ceil(n_keys * 0.95))
         |  SELECT * FROM tot, p95)""".stripMargin
    }.mkString("", " UNION ALL ", " ORDER BY key_name"),
    "part_skyline" ->
      """WITH p AS (SELECT p_partkey, p_retailprice AS price, p_size::BIGINT AS size FROM part)
        |SELECT a.p_partkey, a.price, a.size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.price <= a.price AND b.size <= a.size
        |    AND (b.price < a.price OR b.size < a.size))
        |ORDER BY a.p_partkey""".stripMargin,
    "orders_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey AS ck, date_trunc('month', o_orderdate) AS mon,
        |  o_totalprice AS price FROM orders),
        |f AS (SELECT ck, min(mon) AS cohort FROM o GROUP BY 1)
        |SELECT f.cohort, date_diff('month', f.cohort, o.mon)::BIGINT AS age,
        |  count(DISTINCT o.ck) AS n_customers, count(*) AS n_orders,
        |  CAST(sum(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM o JOIN f ON o.ck = f.ck GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_session_stats" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tse,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tse - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM e),
        |g AS (SELECT user_id, event_id, tse,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tse, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |  max(tse) - min(tse) AS dur_us FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(sum(n_events) AS DOUBLE) / count(*) AS events_per_session,
        |  CAST(sum(dur_us) AS DOUBLE) / count(*) / 1e6 AS mean_dur_secs,
        |  CAST(max(dur_us) AS DOUBLE) / 1e6 AS max_dur_secs
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin,
    "parts_abc_analysis" ->
      """WITH rev AS (SELECT l_partkey,
        |  sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT l_partkey, rev,
        |  sum(rev) OVER (ORDER BY rev DESC, l_partkey ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(rev) OVER () AS total FROM rev),
        |k AS (SELECT *, CASE
        |  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.80 THEN 'A'
        |  WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.95 THEN 'B'
        |  ELSE 'C' END AS abc_class FROM c)
        |SELECT abc_class, count(*) AS n_parts, CAST(sum(rev) AS DOUBLE) AS revenue,
        |  round(CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE), 4) AS revenue_share
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
        |b AS (SELECT max(day) AS hi FROM ud),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |wd AS (SELECT user_id,
        |  unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wday
        |  FROM ud),
        |wau AS (SELECT wday AS day, count(DISTINCT user_id) AS wau FROM wd, b
        |  WHERE wday <= hi GROUP BY 1)
        |SELECT d.day, d.dau, u.wau,
        |  round(CAST(d.dau AS DOUBLE) / u.wau, 4) AS stickiness
        |FROM dau d JOIN wau u ON d.day = u.day ORDER BY 1""".stripMargin,
    "events_attribution" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts AS tts, event_type AS touch_type FROM events
        |  WHERE event_type IN ('view', 'click')),
        |j AS (SELECT p.purchase_id, p.value, t.touch_type FROM p JOIN t
        |  ON p.user_id = t.user_id AND t.tts >= p.ts - INTERVAL 1 HOUR AND t.tts < p.ts),
        |c AS (SELECT *, CAST(floor(value / count(*) OVER (PARTITION BY purchase_id) * 1e6) AS BIGINT) AS credit_micros
        |  FROM j)
        |SELECT touch_type, count(*) AS n_touches,
        |  count(DISTINCT purchase_id) AS n_purchases,
        |  CAST(sum(credit_micros) AS DOUBLE) / 1e6 AS credited_value
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_doc_sim_topk" ->
      s"""WITH ${SHINGLES(3)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |qg AS (SELECT doc_id AS query_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |inter AS (SELECT q.query_id, s.doc_id, count(*) AS c FROM qg q
         |  JOIN sh s ON q.shingle = s.shingle AND q.query_id <> s.doc_id GROUP BY 1, 2),
         |j AS (SELECT i.query_id, i.doc_id, i.c::DOUBLE / (sq.n + sd.n - i.c) AS jaccard
         |  FROM inter i JOIN sizes sq ON i.query_id = sq.doc_id
         |  JOIN sizes sd ON i.doc_id = sd.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY jaccard DESC, doc_id ASC) AS rank FROM j)
         |SELECT query_id, rank, doc_id, round(jaccard, 4) AS jaccard FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "dedup_attrition_funnel" ->
      s"""WITH RECURSIVE $CLUSTERS_CTE,
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |losers AS (SELECT doc_id FROM (SELECT doc_id,
         |  min(doc_id) OVER (PARTITION BY cluster_id) AS m FROM cl) WHERE doc_id <> m),
         |dw AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_words,
         |  md5(lower(trim(text))) AS k FROM documents)
         |SELECT (SELECT count(*) FROM dw) AS n_input,
         |  (SELECT count(DISTINCT k) FROM dw) AS n_exact_unique,
         |  (SELECT count(*) FROM dw
         |    WHERE doc_id NOT IN (SELECT doc_id FROM losers)) AS n_near_survivors,
         |  (SELECT CAST(sum(n_words) AS BIGINT) FROM dw) AS n_tokens_in,
         |  (SELECT CAST(sum(n_words) AS BIGINT) FROM dw
         |    WHERE doc_id NOT IN (SELECT doc_id FROM losers)) AS n_tokens_kept
         |ORDER BY 1""".stripMargin,
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $CLUSTERS_CTE,
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |cs AS (SELECT cluster_id, count(*) AS size FROM cl GROUP BY 1)
         |SELECT size, count(*) AS n_clusters,
         |  CAST(size * count(*) AS BIGINT) AS n_docs,
         |  CAST((size - 1) * count(*) AS BIGINT) AS n_removed
         |FROM cs GROUP BY size ORDER BY size""".stripMargin,
    "emb_centroid_drift" ->
      """WITH vals AS (SELECT vec_id, label,
        |  unnest(range(0, len(embedding))) AS dim,
        |  unnest([x::DOUBLE for x in embedding]) AS v FROM embeddings),
        |cent AS (SELECT label, dim,
        |  CAST(sum(CASE WHEN vec_id % 2 = 0 THEN CAST(v AS DECIMAL(18,10)) END) AS DOUBLE)
        |    / count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS ma,
        |  count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS na,
        |  CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN CAST(v AS DECIMAL(18,10)) END) AS DOUBLE)
        |    / count(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS mb,
        |  count(CASE WHEN vec_id % 2 <> 0 THEN 1 END) AS nb
        |  FROM vals GROUP BY 1, 2)
        |SELECT label, max(na) AS n_a, max(nb) AS n_b,
        |  round(sqrt(CAST(sum(CAST((ma - mb) * (ma - mb) AS DECIMAL(28,18))) AS DOUBLE)), 4)
        |    AS drift
        |FROM cent GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_label_centroids" ->
      """WITH vals AS (SELECT label,
        |  unnest(range(0, len(embedding))) AS dim,
        |  unnest([x::DOUBLE for x in embedding]) AS v FROM embeddings)
        |SELECT label, dim::BIGINT AS dim,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,10))) AS DOUBLE) / count(*), 6) AS mean,
        |  count(*) AS n
        |FROM vals GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "emb_quantize_sq" ->
      """WITH vals AS (SELECT vec_id,
        |  unnest(range(0, len(embedding))) AS dim,
        |  unnest([x::DOUBLE for x in embedding]) AS v FROM embeddings),
        |bounds AS (SELECT dim, min(v) AS lo, max(v) AS hi FROM vals GROUP BY 1)
        |SELECT vec_id, v.dim::BIGINT AS dim,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(floor((v - lo) / (hi - lo) * 256), 255)::BIGINT END AS code
        |FROM vals v JOIN bounds b ON v.dim = b.dim ORDER BY vec_id, dim""".stripMargin,
    // the quantization PARAM surface: method=sq, rescore=false,
    // oversampling=3 — stage 1 keeps ceil(10*3) candidates and serves
    // the QUANTIZED scores directly (the float column is never read)
    "emb_search_quantized" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |vals AS (SELECT vec_id, unnest(range(0, len(vec))) AS dim, unnest(vec) AS v FROM emb),
        |bdim AS (SELECT dim, min(v) AS lo, greatest(max(v) - min(v), 1e-300) AS rng
        |  FROM vals GROUP BY dim),
        |b AS (SELECT list(lo ORDER BY dim) AS lo, list(rng ORDER BY dim) AS rng FROM bdim),
        |recon AS (SELECT e.vec_id,
        |  list_transform(list_zip(e.vec, b.lo, b.rng),
        |    t -> t[2] + (least(floor((t[1] - t[2]) / t[3] * 256), 255) + 0.5) / 256 * t[3]) AS rv
        |  FROM emb e, b),
        |q AS (SELECT vec AS qv FROM emb WHERE vec_id = 0),
        |cand AS (SELECT r.vec_id, round(list_cosine_similarity(r.rv, q.qv), 4) AS ac
        |  FROM recon r, q WHERE r.vec_id <> 0
        |  ORDER BY ac DESC, vec_id LIMIT 30)
        |SELECT vec_id, ac AS cosine FROM cand
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "emb_sq_rerank" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |vals AS (SELECT vec_id, unnest(range(0, len(vec))) AS dim, unnest(vec) AS v FROM emb),
        |bdim AS (SELECT dim, min(v) AS lo, greatest(max(v) - min(v), 1e-300) AS rng
        |  FROM vals GROUP BY dim),
        |b AS (SELECT list(lo ORDER BY dim) AS lo, list(rng ORDER BY dim) AS rng FROM bdim),
        |recon AS (SELECT e.vec_id,
        |  list_transform(list_zip(e.vec, b.lo, b.rng),
        |    t -> t[2] + (least(floor((t[1] - t[2]) / t[3] * 256), 255) + 0.5) / 256 * t[3]) AS rv
        |  FROM emb e, b),
        |q AS (SELECT vec AS qv FROM emb WHERE vec_id = 0),
        |cand AS (SELECT r.vec_id, round(list_cosine_similarity(r.rv, q.qv), 4) AS ac
        |  FROM recon r, q WHERE r.vec_id <> 0
        |  ORDER BY ac DESC, vec_id LIMIT 50)
        |SELECT e.vec_id, round(list_cosine_similarity(e.vec, q.qv), 4) AS cosine
        |FROM emb e JOIN cand c ON e.vec_id = c.vec_id, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "emb_bq_search" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |q AS (SELECT vec AS qv FROM emb WHERE vec_id = 0),
        |ham AS (SELECT e.vec_id,
        |  len(list_filter(list_zip(e.vec, q.qv), t -> (t[1] >= 0) <> (t[2] >= 0)))::BIGINT
        |    AS hamming
        |  FROM emb e, q WHERE e.vec_id <> 0),
        |cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming ASC, vec_id LIMIT 100)
        |SELECT e.vec_id, c.hamming, round(list_cosine_similarity(e.vec, q.qv), 4) AS cosine
        |FROM emb e JOIN cand c ON e.vec_id = c.vec_id, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "emb_mrl_search" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |q AS (SELECT vec AS qv, vec[1:16] AS qp FROM emb WHERE vec_id = 0),
        |cand AS (SELECT e.vec_id,
        |  round(list_cosine_similarity(e.vec[1:16], q.qp), 4) AS pc
        |  FROM emb e, q WHERE e.vec_id <> 0
        |  ORDER BY pc DESC, vec_id LIMIT 50)
        |SELECT e.vec_id, round(list_cosine_similarity(e.vec, q.qv), 4) AS cosine
        |FROM emb e JOIN cand c ON e.vec_id = c.vec_id, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "ann_brute_topk" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |q AS (SELECT vec_id AS query_id, vec AS qvec FROM emb WHERE vec_id < 10),
        |c AS (SELECT vec_id, vec FROM emb WHERE vec_id >= 10),
        |scored AS (SELECT q.query_id, c.vec_id, list_cosine_similarity(c.vec, q.qvec) AS cs FROM c, q),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id, round(cs, 4) AS cosine FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, length(text)::BIGINT AS n_chars_m,
        |  len(words)::BIGINT AS n_words,
        |  round(len(list_distinct(words))::DOUBLE / len(words), 4) AS uniq_ratio,
        |  round((length(text) - len(words) + 1)::DOUBLE / len(words), 4) AS avg_word_len,
        |  round(len(list_intersect(words, ['the','a','an','and','or','of','to','in','is','on']))::DOUBLE
        |    / len(list_distinct(words)), 4) AS stopword_hit_ratio
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH $LANGID_SCORES
         |SELECT doc_id, label_lang, pred_lang, score
         |FROM pred ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' '))::BIGINT AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS n_re_tokens,
        |  len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+')))::BIGINT AS n_uniq_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "docs_cdc_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |t AS (SELECT doc_id, ws, len(ws) AS n, unnest(range(1, len(ws) + 1)) AS pos FROM d),
        |b AS (SELECT doc_id, ws, pos,
        |  CASE WHEN pos >= 3 AND pos < n AND
        |    CAST('0x' || substring(md5(ws[pos-2]||' '||ws[pos-1]||' '||ws[pos]), 1, 15)
        |      AS BIGINT) % 16 = 0 THEN 1 ELSE 0 END AS bnd
        |  FROM t),
        |c AS (SELECT doc_id, pos,
        |  (sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos) - bnd)::BIGINT AS chunk_idx FROM b),
        |g AS (SELECT doc_id, chunk_idx, min(pos) AS p0, max(pos) AS p1,
        |  count(*)::BIGINT AS n_words FROM c GROUP BY 1, 2),
        |m AS (SELECT g.doc_id, g.chunk_idx, g.n_words,
        |  md5(array_to_string(d.ws[g.p0 : g.p1], ' ')) AS chunk_md5
        |  FROM g JOIN d ON g.doc_id = d.doc_id)
        |SELECT doc_id, chunk_idx, n_words, chunk_md5,
        |  count(*) OVER (PARTITION BY chunk_md5)::BIGINT AS n_copies
        |FROM m ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_zipf_slope" ->
      """WITH tf AS (SELECT token, count(*)::BIGINT AS tf
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1 ORDER BY tf DESC, token LIMIT 200),
        |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS r FROM tf),
        |xy AS (SELECT CAST(round(ln(r), 6) AS DECIMAL(12,6)) AS x,
        |  CAST(round(ln(tf), 6) AS DECIMAL(12,6)) AS y FROM r),
        |a AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x*y) AS sxy, sum(x*x) AS sxx FROM xy),
        |m AS (SELECT n, n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
        |  sxy::DOUBLE AS sxyd, sxx::DOUBLE AS sxxd FROM a)
        |SELECT n AS n_terms,
        |  (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope,
        |  (syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd) / nd
        |    AS intercept
        |FROM m""".stripMargin,
    "docs_winnow_matches" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, len(ws) - 2)) AS pos, ws FROM d),
        |h AS (SELECT doc_id, pos,
        |  CAST('0x' || substring(md5(
        |    ws[pos]||' '||ws[pos+1]||' '||ws[pos+2]||' '||ws[pos+3]), 1, 15) AS BIGINT) AS h
        |  FROM g),
        |w AS (SELECT doc_id,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
        |  count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wn
        |  FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE wn = 5),
        |hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 64),
        |cold AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)),
        |p AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*)::BIGINT AS shared_fp
        |  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia, ib, shared_fp FROM p WHERE shared_fp >= 2 ORDER BY ia, ib""".stripMargin,
    "text_winnowing" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, len(ws) - 2)) AS pos, ws FROM d),
        |h AS (SELECT doc_id, pos,
        |  CAST('0x' || substring(md5(
        |    ws[pos]||' '||ws[pos+1]||' '||ws[pos+2]||' '||ws[pos+3]), 1, 15) AS BIGINT) AS h
        |  FROM g),
        |w AS (SELECT doc_id,
        |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
        |  count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |    ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS wn
        |  FROM h)
        |SELECT DISTINCT doc_id, fp FROM w WHERE wn = 5 ORDER BY doc_id, fp""".stripMargin,
    "text_fingerprint" ->
      """WITH h AS (SELECT doc_id,
        |  list_sort(list_distinct([CAST('0x' || substring(md5(
        |    words[i]||' '||words[i+1]||' '||words[i+2]||' '||words[i+3]), 1, 15) AS BIGINT)
        |    for i in range(1, len(words)-2)])) AS hs
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))
        |SELECT doc_id, hs[1] AS fp0, hs[2] AS fp1, hs[3] AS fp2, hs[4] AS fp3
        |FROM h WHERE len(hs) >= 4 ORDER BY doc_id""".stripMargin,
    "docs_shard_export" ->
      """SELECT CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 8
        |    AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))::BIGINT) AS BIGINT) AS n_words,
        |  CAST(sum(length(text)::BIGINT) AS BIGINT) AS n_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_sample_hash" ->
      """SELECT doc_id, lang, bucket FROM (SELECT doc_id, lang,
        |  CAST('0x' || substring(md5(text), 1, 4) AS BIGINT) AS bucket FROM documents)
        |WHERE bucket < 6553 ORDER BY doc_id""".stripMargin,
    "docs_sample_stratified" ->
      """WITH r AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, rk FROM r WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "docs_stats_by_source" ->
      """WITH m AS (SELECT source, len(words)::BIGINT AS nw,
        |  len(list_distinct(words))::BIGINT AS nu, length(text)::BIGINT AS nc
        |  FROM (SELECT source, text, string_split(text, ' ') AS words FROM documents))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(nw AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_words,
        |  CAST(sum(CAST(nc AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS mean_chars,
        |  CAST(sum(CAST(nu AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(sum(CAST(nw AS DECIMAL(18,4))) AS DOUBLE) AS uniq_per_word
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_quantiles" ->
      """WITH q AS (SELECT event_type,
        |  quantile_cont(value, [0.25, 0.5, 0.75, 0.95]) AS qs FROM events GROUP BY 1)
        |SELECT event_type, (i - 1)::BIGINT AS qi, round(qs[i], 4) AS qv
        |FROM q CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i)
        |ORDER BY event_type, qi""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "topk_per_group" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
        |SELECT o_orderpriority, rk, o_orderkey, o_totalprice AS price FROM r
        |WHERE rk <= 5 ORDER BY o_orderpriority, rk""".stripMargin,
    "topk_per_group_fast" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders)
        |SELECT o_orderpriority, o_orderkey, o_totalprice AS price FROM r
        |WHERE rk <= 5 ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap,
        |  row_number() OVER (PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC) AS rk
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, user_id, click_id AS last_click_id, gap AS gap_us
        |FROM j WHERE rk = 1 ORDER BY purchase_id""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) AS tse,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR tse - prev > 1800000000 THEN 1 ELSE 0 END AS new_sess FROM e),
        |g AS (SELECT user_id, event_id, value,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tse, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM s)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_json_props" ->
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_gap_fill" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        |  FROM events),
        |g AS (SELECT t.event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM events) t, b),
        |h AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT g.event_type, g.hour, coalesce(h.n, 0) AS n, coalesce(h.sv, 0.0) AS sum_value
        |FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hour = h.hour
        |ORDER BY 1, 2""".stripMargin,
    "events_anomaly" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (SELECT event_type,
        |  sum(n)::DOUBLE / count(*) AS mean,
        |  sqrt(greatest(sum(n * n)::DOUBLE / count(*)
        |    - (sum(n)::DOUBLE / count(*)) * (sum(n)::DOUBLE / count(*)), 0.0)) AS sd
        |  FROM hourly GROUP BY 1)
        |SELECT h.event_type, h.hour, h.n, round((h.n - s.mean) / s.sd, 4) AS zscore
        |FROM hourly h JOIN stats s ON h.event_type = s.event_type
        |WHERE s.sd > 0 AND abs(h.n - s.mean) > 2.0 * s.sd
        |ORDER BY h.event_type, h.hour""".stripMargin,
    "events_cube" ->
      """SELECT event_type, hod, CAST(GROUPING(event_type, hod) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, date_part('hour', ts)::BIGINT AS hod, value FROM events)
        |GROUP BY CUBE(event_type, hod)
        |ORDER BY gid, event_type NULLS FIRST, hod NULLS FIRST""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tse FROM events),
        |t1 AS (SELECT user_id, min(tse) AS t FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(tse) AS t FROM e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE event_type = 'click' AND tse > t1.t AND tse <= t1.t + 86400000000 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(tse) AS t FROM e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE event_type = 'purchase' AND tse > t2.t AND tse <= t2.t + 86400000000 GROUP BY 1)
        |SELECT 1::BIGINT AS stage, count(*) AS n_users FROM t1
        |UNION ALL SELECT 2::BIGINT, count(*) FROM t2
        |UNION ALL SELECT 3::BIGINT, count(*) FROM t3 ORDER BY stage""".stripMargin,
    "events_sliding_value" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_1h
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "events_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour FROM events),
        |active AS (SELECT hour, count(DISTINCT user_id) AS n_active FROM act GROUP BY 1),
        |ret AS (SELECT a.hour, count(DISTINCT a.user_id) AS n_retained
        |  FROM act a JOIN act b ON a.user_id = b.user_id
        |    AND b.hour = a.hour + INTERVAL 1 HOUR
        |  GROUP BY 1)
        |SELECT active.hour, n_active, coalesce(n_retained, 0) AS n_retained
        |FROM active LEFT JOIN ret ON active.hour = ret.hour ORDER BY active.hour""".stripMargin,
    "docs_embedding_coverage" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_embedding,
        |  CAST(count(*) - sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_missing
        |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_ntile" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ntile(4) OVER w AS quartile, row_number() OVER w AS rk
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_orderpriority, rk""".stripMargin,
    "events_moving_avg" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_window,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS mavg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "part_price_histogram" ->
      """WITH b AS (SELECT min(p_retailprice) AS lo, max(p_retailprice) AS hi FROM part)
        |SELECT least(floor((p_retailprice - lo) / (hi - lo) * 20), 19)::BIGINT AS bucket,
        |  count(*) AS n
        |FROM part, b GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "orders_count_distribution" ->
      """WITH c AS (SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1)
        |SELECT n_orders, count(*) AS n_customers FROM c
        |GROUP BY 1 ORDER BY n_orders DESC""".stripMargin,
    "q17_small_quantity" ->
      """WITH pa AS (SELECT l_partkey AS p_key,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_items
        |FROM lineitem JOIN pa ON l_partkey = p_key
        |WHERE l_quantity < avg_qty * 0.2""".stripMargin,
    "q7_nation_volume" ->
      """WITH n2 AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2')),
        |sup AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN n2 ON s_nationkey = n_nationkey),
        |cust AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN n2 ON c_nationkey = n_nationkey)
        |SELECT supp_nation, cust_nation, year(l_shipdate)::BIGINT AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust ON o_custkey = c_custkey
        |  JOIN sup ON l_suppkey = s_suppkey
        |WHERE l_shipdate >= '1996-01-01'::TIMESTAMP AND l_shipdate < '1998-01-01'::TIMESTAMP
        |  AND ((supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
        |    OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      """WITH rn AS (SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'),
        |cust AS (SELECT c_custkey FROM customer JOIN rn ON c_nationkey = n_nationkey),
        |sup AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey)
        |SELECT year(o_orderdate)::BIGINT AS o_year,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |    4) AS mkt_share
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cust ON o_custkey = c_custkey
        |  JOIN sup ON l_suppkey = s_suppkey
        |WHERE o_orderdate >= '1996-01-01'::TIMESTAMP AND o_orderdate < '1998-01-01'::TIMESTAMP
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= '1997-01-01'::TIMESTAMP AND o_orderdate < '1997-04-01'::TIMESTAMP
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q12_ship_delay" ->
      """SELECT floor(date_diff('day', o_orderdate::DATE, l_shipdate::DATE) / 365.0)::BIGINT
        |    AS delay_years,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
        |    AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT round(100.0 *
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |    4) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1997-06-01'::TIMESTAMP AND l_shipdate < '1997-07-01'::TIMESTAMP""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 250)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,
    "q19_disjunctive" ->
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q22_idle_balance" ->
      """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |    AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
        |FROM customer, ab, nation
        |WHERE c_nationkey = n_nationkey AND c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= '2000-09-01'::TIMESTAMP)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_chunk_overlap" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws,
        |  len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, ws, n,
        |  unnest(range(0, (n - 1) // 40 + 1)) AS chunk_id FROM w)
        |SELECT doc_id, chunk_id,
        |  len(ws[chunk_id*40+1 : least(chunk_id*40+50, n)])::BIGINT AS n_words,
        |  md5(array_to_string(ws[chunk_id*40+1 : least(chunk_id*40+50, n)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "text_lm_score" ->
      """WITH b AS (SELECT doc_id,
        |  unnest([words[i]||' '||words[i+1] for i in range(1, len(words))]) AS bg,
        |  unnest([words[i] for i in range(1, len(words))]) AS w1
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |t AS (SELECT doc_id,
        |  CAST(round(-log2(c2.c2::DOUBLE / c1.c1), 6) AS DECIMAL(18,6)) AS nll
        |  FROM b JOIN c2 USING (bg) JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_nll
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_multivec_maxsim" ->
      """WITH t AS (SELECT vec_id // 4 AS doc, vec_id AS tid,
        |  embedding::DOUBLE[] AS vec FROM embeddings),
        |q AS (SELECT tid AS qt, vec AS qvec FROM t WHERE doc = 0),
        |m AS (SELECT c.doc, q.qt,
        |  CAST(round(max(list_cosine_similarity(c.vec, q.qvec)), 6) AS DECIMAL(18,6)) AS mx6
        |  FROM t c, q WHERE c.doc <> 0 GROUP BY 1, 2),
        |sc AS (SELECT doc, sum(mx6) AS s FROM m GROUP BY 1)
        |SELECT doc, CAST(s AS DOUBLE) AS maxsim
        |FROM sc ORDER BY s DESC, doc LIMIT 10""".stripMargin,
    // Qdrant sparse modifier: idf — stored weights stay raw tf, the
    // QUERY weights re-weight by ln(1 + (N - df + 0.5)/(df + 0.5))
    // from the corpus's own df stats (the documented Qdrant formula)
    "vs_sparse_search_idf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |q AS (SELECT term,
        |  round(tf * ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6) AS qw
        |  FROM tf JOIN dft USING (term), n WHERE doc_id = 0),
        |sc AS (SELECT tf.doc_id,
        |  sum(CAST(round(tf.tf * q.qw, 6) AS DECIMAL(18,6))) AS s
        |  FROM tf JOIN q USING (term) WHERE tf.doc_id <> 0 GROUP BY 1)
        |SELECT doc_id, CAST(s AS DOUBLE) AS score
        |FROM sc WHERE s > 0 ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "vs_sparse_search" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |wt AS (SELECT doc_id, term,
        |  round(tf * ln((n_docs + 1) / (df + 1)), 6) AS w
        |  FROM tf JOIN dft USING (term), n),
        |q AS (SELECT term, w AS qw FROM wt WHERE doc_id = 0),
        |sc AS (SELECT wt.doc_id,
        |  sum(CAST(round(wt.w * q.qw, 6) AS DECIMAL(18,6))) AS s
        |  FROM wt JOIN q USING (term) WHERE wt.doc_id <> 0 GROUP BY 1)
        |SELECT doc_id, CAST(s AS DOUBLE) AS score
        |FROM sc WHERE s > 0 ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,
    "events_markov" ->
      """WITH e AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM t GROUP BY 1)
        |SELECT from_type, to_type, n, round(n::DOUBLE / tot, 4) AS p
        |FROM t JOIN tot USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH rs AS (SELECT s_suppkey, s_name, n_name AS nation
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'),
        |pc AS (SELECT p_partkey, p_name, s_suppkey, s_name, nation,
        |  round(min(l_extendedprice / l_quantity), 4) AS unit_cost
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_size % 5 = 0
        |  JOIN rs ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2, 3, 4, 5),
        |mc AS (SELECT p_partkey AS mk, min(unit_cost) AS min_cost FROM pc GROUP BY 1)
        |SELECT p_partkey, p_name, s_suppkey, s_name, nation, unit_cost
        |FROM pc JOIN mc ON p_partkey = mk AND unit_cost = min_cost
        |ORDER BY p_partkey, s_suppkey LIMIT 100""".stripMargin,
    "q16_part_suppliers" ->
      """WITH supplies AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ok AS (SELECT l_partkey, l_suppkey FROM supplies
        |  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ok JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
        |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "q11_important_stock" ->
      """WITH ns AS (SELECT s_suppkey FROM supplier JOIN nation
        |    ON s_nationkey = n_nationkey WHERE n_name IN ('NATION_3', 'NATION_7')),
        |v AS (SELECT l_partkey AS partkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |      AS value
        |  FROM lineitem JOIN ns ON l_suppkey = s_suppkey GROUP BY 1),
        |t AS (SELECT CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS tot FROM v)
        |SELECT partkey, round(value, 4) AS value FROM v, t
        |WHERE value > 0.001 * tot ORDER BY value DESC, partkey""".stripMargin,
    "q20_excess_suppliers" ->
      """WITH big AS (SELECT DISTINCT l_suppkey FROM (
        |  SELECT l_suppkey, l_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  WHERE l_shipdate >= '1997-01-01'::TIMESTAMP
        |    AND l_shipdate < '1998-01-01'::TIMESTAMP
        |  GROUP BY 1, 2) q WHERE qty > 50)
        |SELECT s_suppkey, s_name, n_name AS nation
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM big)
        |ORDER BY s_suppkey""".stripMargin,
    "events_path_topn" ->
      """WITH p AS (SELECT user_id, event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS step3
        |  FROM events)
        |SELECT step1, step2, step3, count(*) AS n FROM p WHERE step3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, step1, step2, step3 LIMIT 25""".stripMargin,
    "customer_rfm" ->
      """WITH pc AS (SELECT o_custkey, max(o_orderdate) AS last_order,
        |  count(*) AS freq,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |med AS (SELECT quantile_cont(freq, 0.5) AS f_med,
        |  quantile_cont(monetary, 0.5) AS m_med FROM pc)
        |SELECT CAST(last_order >= '2000-01-01'::TIMESTAMP AS BIGINT) AS r,
        |  CAST(freq > f_med AS BIGINT) AS f,
        |  CAST(monetary > m_med AS BIGINT) AS m,
        |  count(*) AS n_customers,
        |  CAST(sum(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM pc, med GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "text_bpe_pairs" ->
      """WITH wf AS (SELECT w, count(*) AS c FROM
        |  (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
        |p AS (SELECT c, unnest([substring(w, i, 2) for i in range(1, length(w))]) AS pair
        |  FROM wf WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(c) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "orders_window_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd,
        |  first_value(o_orderkey) OVER w2 AS cheapest_key,
        |  last_value(o_orderkey) OVER w2 AS priciest_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
        |  w2 AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "docs_set_ops" ->
      """WITH a AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE source = 'src0'),
        |b AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE source = 'src1'),
        |c AS (SELECT count(*) AS n_common FROM (SELECT w FROM a INTERSECT SELECT w FROM b)),
        |oa AS (SELECT count(*) AS n_only_a FROM (SELECT w FROM a EXCEPT SELECT w FROM b)),
        |ob AS (SELECT count(*) AS n_only_b FROM (SELECT w FROM b EXCEPT SELECT w FROM a))
        |SELECT n_only_a, n_common, n_only_b FROM oa, c, ob""".stripMargin,
    "orders_yoy_growth" ->
      """WITH y AS (SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, o_year, revenue,
        |  round(revenue / lag(revenue) OVER (PARTITION BY nation ORDER BY o_year) - 1, 4)
        |    AS growth
        |FROM y ORDER BY nation, o_year""".stripMargin,
    "text_gopher_rules" ->
      """WITH m AS (SELECT doc_id, len(words)::BIGINT AS n_words,
        |  round((length(text) - len(words) + 1)::DOUBLE / len(words), 4) AS mean_word_len,
        |  round(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::DOUBLE
        |    / len(words), 4) AS alpha_ratio,
        |  len(list_intersect(list_distinct(words),
        |    ['the','a','an','and','or','of','to','in','is','on']))::BIGINT AS n_stop_hits
        |  FROM (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents))
        |SELECT doc_id, n_words, mean_word_len, alpha_ratio, n_stop_hits,
        |  CAST(n_words BETWEEN 15 AND 100000 AND mean_word_len BETWEEN 2.0 AND 10.0
        |    AND alpha_ratio >= 0.8 AND n_stop_hits >= 2 AS BIGINT) AS passes
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_token_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT doc_id, w, count(*) AS c FROM t GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_uniq,
        |  CAST(sum(CAST(round(c * log2(c::DOUBLE), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_clc
        |  FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, n_uniq,
        |  round(log2(n_tokens::DOUBLE) - sum_clc / n_tokens, 4) AS entropy
        |FROM a ORDER BY doc_id""".stripMargin,
    "text_ccnet_buckets" ->
      """WITH b AS (SELECT doc_id,
        |  unnest([words[i]||' '||words[i+1] for i in range(1, len(words))]) AS bg,
        |  unnest([words[i] for i in range(1, len(words))]) AS w1
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
        |c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY 1),
        |c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        |t AS (SELECT doc_id,
        |  CAST(round(-log2(c2.c2::DOUBLE / c1.c1), 6) AS DECIMAL(18,6)) AS nll
        |  FROM b JOIN c2 USING (bg) JOIN c1 USING (w1)),
        |l AS (SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / count(*), 4) AS avg_nll
        |  FROM t GROUP BY 1),
        |j AS (SELECT l.doc_id, d.lang, l.avg_nll,
        |  ntile(3) OVER (PARTITION BY d.lang ORDER BY l.avg_nll ASC, l.doc_id ASC) AS nt
        |  FROM l JOIN documents d USING (doc_id))
        |SELECT lang, ['head','middle','tail'][nt] AS bucket, count(*) AS n_docs,
        |  min(avg_nll) AS min_nll, max(avg_nll) AS max_nll
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "docs_jsd_drift" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS t_s FROM c GROUP BY 1),
        |cw AS (SELECT w, CAST(sum(c) AS BIGINT) AS c_w FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(c_w) AS BIGINT) AS t FROM cw),
        |j AS (SELECT c.source, t_s, c.c::DOUBLE / t_s AS p, c_w::DOUBLE / t AS q
        |  FROM c JOIN st USING (source) JOIN cw USING (w), t),
        |terms AS (SELECT source, t_s,
        |  CAST(round(p * log2(p / ((p + q) / 2)), 6) AS DECIMAL(18,6)) AS tp,
        |  CAST(round(q * log2(q / ((p + q) / 2)), 6) AS DECIMAL(18,6)) AS tq,
        |  CAST(round(q, 6) AS DECIMAL(18,6)) AS q6 FROM j)
        |SELECT source, max(t_s) AS n_tokens, count(*) AS n_terms,
        |  CAST((sum(tp) + sum(tq) + CAST(1.0 AS DECIMAL(2,1)) - sum(q6))
        |    * CAST(0.5 AS DECIMAL(1,1)) AS DOUBLE) AS jsd
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "orders_basket_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |f AS (SELECT pk FROM i GROUP BY 1 HAVING count(*) >= 2),
        |p AS (SELECT ok, pk FROM i JOIN f USING (pk)),
        |s AS (SELECT a.pk AS part1, b.pk AS part2, count(*) AS support
        |  FROM p a JOIN p b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2)
        |SELECT part1, part2, support FROM s WHERE support >= 2
        |ORDER BY support DESC, part1, part2 LIMIT 50""".stripMargin,
    // metrics are single double divisions of exact integer counts
    // (< 2^53) — deterministic IEEE in both engines, no rounding step
    "orders_basket_lift" ->
      """WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |f AS (SELECT pk FROM i GROUP BY 1 HAVING count(*) >= 2),
        |p AS (SELECT ok, pk FROM i JOIN f USING (pk)),
        |s AS (SELECT a.pk AS part1, b.pk AS part2, count(*) AS support
        |  FROM p a JOIN p b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |top AS (SELECT part1, part2, support FROM s WHERE support >= 2
        |  ORDER BY support DESC, part1, part2 LIMIT 20),
        |c AS (SELECT pk, count(*) AS n FROM i GROUP BY 1),
        |nb AS (SELECT count(DISTINCT ok) AS n_baskets FROM i)
        |SELECT t.part1, t.part2, t.support,
        |  CAST(t.support AS DOUBLE) / CAST(ca.n AS DOUBLE) AS confidence,
        |  CAST(t.support * nb.n_baskets AS DOUBLE)
        |    / CAST(ca.n * cb.n AS DOUBLE) AS lift
        |FROM top t, c ca, c cb, nb
        |WHERE ca.pk = t.part1 AND cb.pk = t.part2
        |ORDER BY t.support DESC, t.part1, t.part2""".stripMargin,
    "q9_profit_nation" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    - 0.6 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,
    "events_zorder_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
        |bd AS (SELECT min(user_id) lu, max(user_id) hu, min(hr) lh, max(hr) hh FROM e),
        |q AS (SELECT ((user_id - lu) * 65535) // greatest(hu - lu, 1) AS qx,
        |  ((hr - lh) * 65535) // greatest(hh - lh, 1) AS qy FROM e, bd),
        |z AS (SELECT qx, qy,
        |  CAST(list_sum([((qx >> i) & 1) * (1::BIGINT << (2*i))
        |    + ((qy >> i) & 1) * (1::BIGINT << (2*i+1)) for i in range(0, 16)]) AS BIGINT) AS zv
        |  FROM q)
        |SELECT zv >> 27 AS bucket, count(*) AS n,
        |  min(qx) AS min_u, max(qx) AS max_u, min(qy) AS min_h, max(qy) AS max_h
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= '1997-01-01'::TIMESTAMP AND l_shipdate < '1998-01-01'::TIMESTAMP
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 25""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
        |    AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= '1997-01-01'::TIMESTAMP AND l_shipdate < '1997-04-01'::TIMESTAMP
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, round(total_revenue, 4) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    // valid in the sketch's EXACT regime: the default capacity (2048)
    // clears the distinct-user count at BOTH verify SFs (sf0.01 ≈ 150,
    // sf0.1 = 1500), so Misra-Gries never decrements and reported
    // counts equal truth at the gate AND the sf0.1 sweep; the
    // over-capacity approx regime is spec-bounded (capacity-64 spec)
    "events_heavy_users" ->
      """WITH c AS (SELECT event_type, user_id, count(*) AS approx_n
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1),
        |r AS (SELECT c.event_type, n.n_events, c.user_id, c.approx_n,
        |  row_number() OVER (PARTITION BY c.event_type
        |    ORDER BY c.approx_n DESC, c.user_id) AS rk
        |  FROM c JOIN n USING (event_type))
        |SELECT event_type, n_events, user_id, approx_n, rk FROM r WHERE rk <= 10
        |ORDER BY event_type, rk""".stripMargin,
    "q21_waiting_supplier" ->
      """WITH po AS (SELECT l_orderkey,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    THEN l_suppkey END) AS n_late,
        |  max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    THEN l_suppkey END) AS late_supp
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1)
        |SELECT s_name, count(*) AS numwait
        |FROM po JOIN supplier ON s_suppkey = late_supp
        |WHERE n_supp >= 2 AND n_late = 1
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "segment_distinct_buyers" ->
      """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_buyers, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // real WAV header decode: 8-bit mono at 8 kHz wraps the UTF-8 text
    // BYTES, so fields re-derive from strlen (byte length — char length
    // would diverge on any non-ASCII doc); exact integer floor division
    // real ISO-BMFF box-tree parse: timescale 600, duration = one unit
    // per text byte, one track per doc_id mod 3 + 1 — all re-derivable
    "mm_video_meta" ->
      """SELECT doc_id, 'isom' AS brand, CAST(600 AS BIGINT) AS timescale,
        |  CAST(length(text) AS BIGINT) AS duration_units,
        |  (CAST(length(text) AS BIGINT) * 1000) // 600 AS duration_ms,
        |  CAST(doc_id % 3 + 1 AS BIGINT) AS n_tracks
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_audio_meta" ->
      """SELECT doc_id, 'wav' AS container, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(8 AS BIGINT) AS bits,
        |  CAST(strlen(text) AS BIGINT) AS n_samples,
        |  (CAST(strlen(text) AS BIGINT) * 1000) // 8000 AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_decode_meta" ->
      """SELECT doc_id,
        |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        |  strlen(text)::BIGINT AS byte_len,
        |  (strlen(text) % 640 + 16)::BIGINT AS width,
        |  (strlen(text) * 7 % 480 + 16)::BIGINT AS height,
        |  (CASE WHEN doc_id % 3 = 2 THEN strlen(text) % 30 + 1 ELSE 1 END)::BIGINT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH v AS (SELECT doc_id, strlen(text)::BIGINT AS bl,
        |  (strlen(text) % 30 + 1)::BIGINT AS n
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, bl,
        |  unnest(list_distinct([(j * (n - 1)) // 3 for j in [0, 1, 2, 3]])) AS fi FROM v)
        |SELECT doc_id, fi::BIGINT AS frame_idx, (bl * 31 + fi)::BIGINT AS frame_key
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize_plan" ->
      """WITH m AS (SELECT doc_id, (strlen(text) % 640 + 16)::BIGINT AS width,
        |  (strlen(text) * 7 % 480 + 16)::BIGINT AS height FROM documents)
        |SELECT doc_id, width, height,
        |  floor(width * (224.0 / greatest(width, height)))::BIGINT AS out_w,
        |  floor(height * (224.0 / greatest(width, height)))::BIGINT AS out_h
        |FROM m ORDER BY doc_id""".stripMargin,
    "mm_dedup_bytes" ->
      """WITH m AS (SELECT doc_id,
        |  ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
        |  md5(text) AS digest FROM documents)
        |SELECT media_type, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM m GROUP BY media_type, digest ORDER BY media_type, keep_id""".stripMargin,
    "mm_feature_extract" ->
      """WITH chars AS (SELECT doc_id,
        |  unnest([ascii(c) // 16 for c in string_split(text, '')]) AS bucket
        |  FROM documents),
        |counts AS (SELECT doc_id, bucket, count(*) AS n FROM chars GROUP BY 1, 2),
        |grid AS (SELECT doc_id, unnest(range(0, 8)) AS dim FROM documents)
        |SELECT g.doc_id, g.dim::BIGINT AS dim, coalesce(c.n, 0) AS count
        |FROM grid g LEFT JOIN counts c ON g.doc_id = c.doc_id AND g.dim = c.bucket
        |ORDER BY g.doc_id, g.dim""".stripMargin,
    "mm_phash_dedup" ->
      s"""WITH $PHASH_CTE
         |SELECT ia, ib, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 8 ORDER BY ia, ib""".stripMargin,
    "mm_phash_search" ->
      s"""WITH $PHASH_CTE,
         |q AS (SELECT sig AS qs FROM sigs WHERE doc_id = 1),
         |m AS (SELECT s.doc_id, CAST(bit_count(xor(s.sig, q.qs)) AS BIGINT) AS hamming
         |  FROM sigs s, q WHERE s.doc_id <> 1),
         |rk AS (SELECT *, row_number() OVER (ORDER BY hamming ASC, doc_id ASC) AS rank
         |  FROM m)
         |SELECT rank, doc_id, hamming FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $PHASH_CTE,
         |p AS (SELECT ia, ib FROM cand WHERE bit_count(xor(sa, sb)) <= 8),
         |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
         |preach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN preach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(r) AS cluster_id FROM preach GROUP BY id
         |ORDER BY doc_id""".stripMargin,
    "vs_snapshot_diff" ->
      s"""WITH $PTS,
         |base AS (SELECT id, seq FROM pts),
         |nxt AS (SELECT id, CASE WHEN id % 5 = 0 THEN seq + 1000000 ELSE seq END AS seq
         |  FROM base WHERE id % 7 <> 3
         |  UNION ALL SELECT id + 100000, seq + 2000000 FROM base WHERE id < 50),
         |d AS (SELECT coalesce(b.id, n.id) AS id, b.seq AS old_seq, n.seq AS new_seq
         |  FROM base b FULL OUTER JOIN nxt n ON b.id = n.id)
         |SELECT CASE WHEN old_seq IS NULL THEN 'added'
         |  WHEN new_seq IS NULL THEN 'removed'
         |  WHEN old_seq <> new_seq THEN 'updated' ELSE 'unchanged' END AS status,
         |count(*) AS n, min(id) AS min_id, max(id) AS max_id
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_incremental" -> {
      val w = 8
      val gram = (0 until w).map(j => s"words[i+$j]").mkString("||' '||")
      s"""WITH sh0 AS (SELECT doc_id, list_distinct([$gram for i in range(1, len(words) - ${w - 2})]) AS sh
         |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
         |sh AS (SELECT doc_id, unnest(sh) AS shingle FROM sh0 WHERE len(sh) > 0),
         |bsh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0),
         |ish AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
         |ik AS (SELECT DISTINCT md5(lower(trim(text))) AS k FROM documents WHERE doc_id % 10 <> 0),
         |ex AS (SELECT d.doc_id, CASE WHEN ik.k IS NULL THEN 0 ELSE 1 END AS exact_dup
         |  FROM (SELECT doc_id, md5(lower(trim(text))) AS k FROM documents WHERE doc_id % 10 = 0) d
         |  LEFT JOIN ik ON d.k = ik.k),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM bsh GROUP BY 1),
         |hits AS (SELECT b.doc_id, count(*) AS n_hit FROM bsh b JOIN ish i ON b.shingle = i.shingle GROUP BY 1)
         |SELECT ex.doc_id, CAST(ex.exact_dup AS BIGINT) AS exact_dup,
         |  coalesce(s.n_grams, 0) AS n_grams,
         |  CASE WHEN coalesce(s.n_grams, 0) > 0
         |    THEN round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams, 4) ELSE 0.0 END
         |    AS containment,
         |  CAST(CASE WHEN ex.exact_dup = 0 AND (CASE WHEN coalesce(s.n_grams, 0) > 0
         |    THEN CAST(coalesce(h.n_hit, 0) AS DOUBLE) / s.n_grams ELSE 0.0 END) < 0.5
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM ex LEFT JOIN sizes s ON ex.doc_id = s.doc_id
         |LEFT JOIN hits h ON ex.doc_id = h.doc_id
         |ORDER BY ex.doc_id""".stripMargin
    },
    "docs_pack_chunks" ->
      """WITH t AS (SELECT doc_id, lang,
        |  len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |c AS (SELECT lang, n_tokens,
        |  ((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) - n_tokens) // 2048)::BIGINT
        |    AS chunk_id
        |  FROM t)
        |SELECT lang, chunk_id, count(*) AS n_docs, sum(n_tokens)::BIGINT AS chunk_tokens
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "docs_mix_sources" ->
      """WITH counts AS (SELECT source, count(*) AS n_in FROM documents GROUP BY 1),
        |wts AS (SELECT source, n_in, CAST(sqrt(n_in) AS DECIMAL(18,10)) AS w FROM counts),
        |tot AS (SELECT sum(w) AS tw FROM wts),
        |rates AS (SELECT source, n_in,
        |  least(1.0::DOUBLE, 200.0 * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) / n_in) AS rate
        |  FROM wts, tot),
        |sel AS (SELECT d.source FROM documents d JOIN rates r ON d.source = r.source
        |  WHERE CAST('0x' || substring(md5(d.text), 1, 4) AS BIGINT) < r.rate * 65536.0),
        |oc AS (SELECT source, count(*) AS n_out FROM sel GROUP BY 1)
        |SELECT r.source, r.n_in, coalesce(oc.n_out, 0) AS n_out, round(r.rate, 4) AS rate
        |FROM rates r LEFT JOIN oc ON r.source = oc.source ORDER BY r.source""".stripMargin,
    "text_pii_redact" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '\b(key|hash)\b'))::BIGINT AS n_masked,
        |  md5(regexp_replace(text, '\b(key|hash)\b', '<MASK>', 'g')) AS redacted_md5,
        |  length(regexp_replace(text, '\b(key|hash)\b', '<MASK>', 'g'))::BIGINT AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, greatest(len(words) - 3, 1))) AS pos,
        |  words FROM t),
        |gp AS (SELECT doc_id, pos, words[pos] || ' ' || words[pos+1] || ' ' ||
        |  words[pos+2] || ' ' || words[pos+3] || ' ' || words[pos+4] AS shingle FROM g),
        |dup AS (SELECT shingle FROM gp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM gp JOIN dup USING (shingle)),
        |isl AS (SELECT doc_id,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
        |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp
        |  HAVING count(*) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM gp GROUP BY 1),
        |agg AS (SELECT doc_id, count(*) AS n_dup_runs, CAST(max(run) AS BIGINT)
        |    AS max_run, CAST(sum(run) AS BIGINT) AS dup_grams FROM runs GROUP BY 1)
        |SELECT s.doc_id, s.n_grams, coalesce(a.n_dup_runs, 0) AS n_dup_runs,
        |  coalesce(a.max_run, 0) AS max_run,
        |  round(coalesce(a.dup_grams, 0)::DOUBLE / s.n_grams, 4) AS dup_run_ratio
        |FROM sizes s LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,
    "text_dedup_excise" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, unnest(range(1, greatest(len(words) - 3, 1))) AS pos,
        |  words FROM t),
        |gp AS (SELECT doc_id, pos, words[pos] || ' ' || words[pos+1] || ' ' ||
        |  words[pos+2] || ' ' || words[pos+3] || ' ' || words[pos+4] AS shingle FROM g),
        |dup AS (SELECT shingle FROM gp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |dp AS (SELECT doc_id, pos FROM gp JOIN dup USING (shingle)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp),
        |runs AS (SELECT doc_id, min(pos) AS p0, count(*) AS run FROM isl
        |  GROUP BY doc_id, grp HAVING count(*) >= 3),
        |cov AS (SELECT DISTINCT doc_id, tpos FROM
        |  (SELECT doc_id, unnest(range(p0, p0 + run + 4)) AS tpos FROM runs)),
        |tok AS (SELECT doc_id, unnest(range(1, len(words) + 1)) AS tpos, words FROM t),
        |kept AS (SELECT tok.doc_id, tok.tpos, words[tpos] AS w FROM tok
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |    WHERE cov.doc_id = tok.doc_id AND cov.tpos = tok.tpos)),
        |cl AS (SELECT doc_id, string_agg(w, ' ' ORDER BY tpos) AS clean_text,
        |  count(*) AS n_kept FROM kept GROUP BY 1)
        |SELECT t.doc_id, len(words)::BIGINT AS n_tokens,
        |  (len(words) - coalesce(n_kept, 0))::BIGINT AS n_removed,
        |  md5(coalesce(clean_text, '')) AS clean_md5,
        |  length(coalesce(clean_text, ''))::BIGINT AS clean_len
        |FROM t LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin,
    "docs_dsir_weights" ->
      s"""WITH $DSIR_CTE
         |SELECT doc_id, n_tokens, dsir_weight FROM dw ORDER BY doc_id""".stripMargin,
    "docs_dsir_sample" ->
      s"""WITH $DSIR_CTE,
         |bounds AS (SELECT min(dsir_weight) AS lo, max(dsir_weight) AS hi FROM dw),
         |k AS (SELECT d.source, w.n_tokens,
         |  CAST('0x' || substring(md5(d.text), 1, 4) AS BIGINT) AS bucket,
         |  (w.dsir_weight - b.lo) / (b.hi - b.lo) AS rate
         |  FROM documents d JOIN dw w USING (doc_id), bounds b)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN bucket < rate * 65536 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN bucket < rate * 65536 THEN n_tokens ELSE 0 END) AS BIGINT)
         |    AS n_tokens_kept
         |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_dup_ngrams" ->
      s"""WITH ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n_ngrams FROM sh GROUP BY 1),
         |shared AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) >= 2),
         |hits AS (SELECT doc_id, count(*) AS n_dup FROM sh JOIN shared USING (shingle)
         |  GROUP BY 1)
         |SELECT s.doc_id, s.n_ngrams, coalesce(h.n_dup, 0) AS n_dup,
         |  round(coalesce(h.n_dup, 0)::DOUBLE / s.n_ngrams, 4) AS dup_ratio
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "vs_recommend" ->
      s"""WITH $PTS,
         |ex AS (SELECT id, unnest(range(0, len(vector))) AS dim, unnest(vector) AS v
         |  FROM pts WHERE id >= 1 AND id <= 8),
         |rec0 AS (SELECT dim,
         |  CAST(3 * sum(CASE WHEN id <= 5 THEN CAST(v AS DECIMAL(18,10))
         |        ELSE CAST(0 AS DECIMAL(18,10)) END)
         |    - 5 * sum(CASE WHEN id > 5 THEN CAST(v AS DECIMAL(18,10))
         |        ELSE CAST(0 AS DECIMAL(18,10)) END) AS DOUBLE) AS rv
         |  FROM ex GROUP BY 1),
         |rec AS (SELECT list(rv ORDER BY dim) AS qvec FROM rec0),
         |scored AS (SELECT p.id, list_cosine_similarity(p.vector, r.qvec) AS cs
         |  FROM pts p, rec r WHERE p.id < 1 OR p.id > 8),
         |rk AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, round(cs, 4) AS score FROM rk WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    // recommend with a RAW vector example mixed with stored ids:
    // stored examples unnest, the raw example unions in as literal
    // (is_pos, dim, v) rows through the same DECIMAL aggregate; only
    // stored ids are excluded from results. nPos = 3 (ids 1, 2 + one
    // raw), negWeight = 1 (id 6)
    "vs_recommend_raw" ->
      s"""WITH $PTS,
         |ex AS (
         |  SELECT (id IN (1, 2)) AS is_pos,
         |    unnest(range(0, len(vector))) AS dim, unnest(vector) AS v
         |  FROM pts WHERE id IN (1, 2, 6)
         |  UNION ALL
         |  SELECT TRUE AS is_pos, unnest(range(0, 64)) AS dim,
         |    unnest([${VectorStore.rawExample.mkString(", ")}]) AS v),
         |rec0 AS (SELECT dim,
         |  CAST(1 * sum(CASE WHEN is_pos THEN CAST(v AS DECIMAL(18,10))
         |        ELSE CAST(0 AS DECIMAL(18,10)) END)
         |    - 3 * sum(CASE WHEN NOT is_pos THEN CAST(v AS DECIMAL(18,10))
         |        ELSE CAST(0 AS DECIMAL(18,10)) END) AS DOUBLE) AS rv
         |  FROM ex GROUP BY 1),
         |rec AS (SELECT list(rv ORDER BY dim) AS qvec FROM rec0),
         |scored AS (SELECT p.id, list_cosine_similarity(p.vector, r.qvec) AS cs
         |  FROM pts p, rec r WHERE p.id NOT IN (1, 2, 6)),
         |rk AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, round(cs, 4) AS score FROM rk WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "vs_named_vectors" ->
      s"""WITH $PTS,
         |q AS (SELECT vector[1:8] AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id,
         |    round(list_cosine_similarity(p.vector[1:8], q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0 AND p.user_id = 7),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "vs_batch_ops" ->
      s"""WITH $PTS,
         |uni AS (
         |  SELECT id, user_id, site, lang, seq FROM pts
         |  UNION ALL
         |  SELECT id, user_id, 'batch-upsert' AS site, lang, seq + 1000000 AS seq
         |  FROM pts WHERE id % 7 = 0),
         |lw AS (SELECT *, row_number() OVER (PARTITION BY id ORDER BY seq DESC) AS rk
         |  FROM uni),
         |snap AS (SELECT id, user_id, site,
         |    CASE WHEN site = 'src3' THEN 'xx' ELSE lang END AS lang, seq
         |  FROM lw WHERE rk = 1 AND user_id <> 4)
         |SELECT user_id, count(*) AS n, max(seq) AS max_seq,
         |  CAST(sum(CASE WHEN lang = 'xx' THEN 1 ELSE 0 END) AS BIGINT) AS n_patched,
         |  CAST(sum(CASE WHEN site = 'batch-upsert' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_upserted
         |FROM snap GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_search_match_text" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || p.text || ' ', ' the ')
         |    AND contains(' ' || p.text || ' ', ' data ')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the text-index route: same question, postings-prefiltered
    "vs_search_match_text_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || p.text || ' ', ' the ')
         |    AND contains(' ' || p.text || ' ', ' data ')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the LOWERCASED text index's case-insensitive MatchText: the scan
    // truth folds the text, the indexed route folds the postings —
    // same question, two routes
    "vs_search_match_text_ci_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || lower(p.text) || ' ', ' the ')
         |    AND contains(' ' || lower(p.text) || ' ', ' data ')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the PREFIX tokenizer: starts-with per word (leading-space probe
    // only) on the folded text — indexed route ≡ this prefix-LIKE scan
    "vs_search_match_prefix_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || lower(p.text) || ' ', ' dat')
         |    AND contains(' ' || lower(p.text) || ' ', ' th')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // the POSITIONAL-postings phrase route answers the same question as
    // the scan-filter phrase form (adjacency from (row, pos) windows
    // instead of the padded-contains scan)
    "vs_search_match_phrase_indexed" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || p.text || ' ', ' the data ')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // per-example cosines are rounded to 4dp BEFORE max/compare in both
    // engines, so bp/bn (and bp, -bn*bn — deterministic IEEE ops on the
    // identical rounded doubles) hash-match exactly
    "vs_recommend_best_score" ->
      s"""WITH $PTS,
         |ex AS (SELECT id, vector FROM pts WHERE id >= 1 AND id <= 8),
         |best AS (SELECT p.id,
         |  max(CASE WHEN e.id <= 5
         |        THEN round(list_cosine_similarity(p.vector, e.vector), 4) END) AS bp,
         |  max(CASE WHEN e.id > 5
         |        THEN round(list_cosine_similarity(p.vector, e.vector), 4) END) AS bn
         |  FROM pts p, ex e WHERE p.id < 1 OR p.id > 8 GROUP BY p.id),
         |scored AS (SELECT id,
         |  CASE WHEN bp > bn THEN bp ELSE -(bn * bn) END AS score FROM best),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank
         |  FROM scored)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "vs_search_groups" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.site, p.id, round(list_distance(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0),
         |h AS (SELECT *, row_number() OVER (PARTITION BY site ORDER BY score ASC, id ASC)
         |    AS hit_rank FROM scored),
         |hits AS (SELECT * FROM h WHERE hit_rank <= 2),
         |tg AS (SELECT site, score AS best_score FROM hits WHERE hit_rank = 1),
         |g AS (SELECT site,
         |  row_number() OVER (ORDER BY best_score ASC, site ASC) AS group_rank FROM tg)
         |SELECT g.group_rank, hits.site, hits.hit_rank, hits.id, hits.score
         |FROM hits JOIN g ON hits.site = g.site
         |WHERE g.group_rank <= 3
         |ORDER BY group_rank, hit_rank""".stripMargin,
    "vs_facet_counts" ->
      s"""WITH $PTS
         |SELECT site, lang, count(*) AS n, count(DISTINCT user_id) AS n_tenants
         |FROM pts WHERE lang IN ('en', 'fr') GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "vs_scroll_page" ->
      s"""WITH $PTS
         |SELECT id, user_id, seq FROM pts WHERE id > 100
         |ORDER BY id LIMIT 50""".stripMargin,
    "vs_search_threshold" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.id, list_cosine_similarity(p.vector, q.qvec) AS cs
         |  FROM pts p, q WHERE p.user_id = 7 AND p.id <> 0)
         |SELECT id, round(cs, 4) AS score FROM scored WHERE cs >= 0.05
         |ORDER BY cs DESC, id""".stripMargin,
    "vs_scroll_order_by" ->
      s"""WITH $PTS
         |SELECT site, id, user_id, lang FROM pts
         |WHERE site > 'src12' OR (site = 'src12' AND id > 120)
         |ORDER BY site, id LIMIT 50""".stripMargin,
    "vs_set_payload" ->
      s"""WITH $PTS,
         |patch AS (SELECT id AS u_id, 'curated' AS u_site, upper(lang) AS u_lang
         |  FROM pts WHERE id % 7 = 0)
         |SELECT id, user_id, coalesce(u_site, site) AS site,
         |  coalesce(u_lang, lang) AS lang, seq
         |FROM pts LEFT JOIN patch ON id = u_id ORDER BY id""".stripMargin,
    "vs_discover" ->
      s"""WITH $PTS,
         |tv AS (SELECT vector AS t FROM pts WHERE id = 0),
         |p1 AS (SELECT vector AS p FROM pts WHERE id = 1),
         |n1 AS (SELECT vector AS n FROM pts WHERE id = 2),
         |p2 AS (SELECT vector AS p FROM pts WHERE id = 3),
         |n2 AS (SELECT vector AS n FROM pts WHERE id = 4)
         |SELECT id,
         |  round(least(0, round(list_cosine_similarity(vector, p1.p), 4)
         |      - round(list_cosine_similarity(vector, n1.n), 4))
         |    + least(0, round(list_cosine_similarity(vector, p2.p), 4)
         |      - round(list_cosine_similarity(vector, n2.n), 4)), 4) AS ctx_score,
         |  round(list_cosine_similarity(vector, tv.t), 4) AS target_cos
         |FROM pts, tv, p1, n1, p2, n2
         |WHERE id NOT IN (0, 1, 2, 3, 4)
         |ORDER BY ctx_score DESC, target_cos DESC, id LIMIT 10""".stripMargin,
    "vs_distance_matrix" ->
      s"""WITH $PTS,
         |smp AS (SELECT id, vector FROM pts WHERE id < 20),
         |pairs AS (SELECT a.id AS a_id, b.id AS b_id,
         |  round(list_cosine_similarity(a.vector, b.vector), 4) AS cosine
         |  FROM smp a JOIN smp b ON a.id <> b.id),
         |r AS (SELECT *, row_number() OVER
         |  (PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rk FROM pairs)
         |SELECT a_id, b_id, cosine, rk FROM r WHERE rk <= 5
         |ORDER BY a_id, rk""".stripMargin,
    "vs_search_match_phrase" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |m AS (SELECT p.id, round(list_cosine_similarity(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0
         |    AND contains(' ' || p.text || ' ', ' the data ')),
         |rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, id ASC) AS rank FROM m)
         |SELECT rank, id, score FROM rk WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "vs_delete_payload_keys" ->
      s"""WITH $PTS
         |SELECT id, user_id,
         |  CASE WHEN id % 11 = 0 THEN NULL ELSE site END AS site,
         |  CASE WHEN id % 11 = 0 OR site = 'src3' THEN NULL ELSE lang END AS lang,
         |  seq
         |FROM pts ORDER BY id""".stripMargin,
    "vs_payload_index_plan" ->
      s"""WITH $PTS,
         |kv AS (SELECT 'user_id' AS field, user_id::VARCHAR AS value FROM pts
         |  UNION ALL SELECT 'site', site FROM pts
         |  UNION ALL SELECT 'lang', lang FROM pts),
         |pv AS (SELECT field, value, count(*) AS cnt FROM kv GROUP BY 1, 2),
         |agg AS (SELECT field, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  count(*) AS n_distinct, max(cnt) AS top_cnt,
         |  min(CASE WHEN regexp_matches(value, '^[0-9]+$$') THEN 1 ELSE 0 END) AS all_num
         |  FROM pv GROUP BY 1)
         |SELECT field, n_rows, n_distinct,
         |  round(n_rows::DOUBLE / n_distinct, 2) AS rows_per_value,
         |  round(top_cnt::DOUBLE / n_rows, 4) AS top_share,
         |  CASE WHEN top_cnt * 10 > n_rows * 9 THEN 'skip'
         |       WHEN all_num = 1 THEN 'integer'
         |       WHEN n_distinct <= 64 THEN 'keyword'
         |       ELSE 'text' END AS index_kind
         |FROM agg ORDER BY field""".stripMargin,
    "docs_dup_rate_by_source" ->
      s"""WITH ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |near AS (SELECT DISTINCT ib AS doc_id FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE sb.n >= sa.n * 0.7 AND sa.n >= sb.n * 0.7
         |    AND c::DOUBLE / (sa.n + sb.n - c) >= 0.7),
         |ex AS (SELECT doc_id FROM (SELECT doc_id,
         |    min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
         |  FROM documents) WHERE doc_id <> keep_id),
         |flags AS (SELECT d.doc_id, d.source,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 1 END AS is_exact,
         |  CASE WHEN n2.doc_id IS NOT NULL THEN 1 END AS is_near
         |  FROM documents d LEFT JOIN ex e ON d.doc_id = e.doc_id
         |  LEFT JOIN near n2 ON d.doc_id = n2.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(coalesce(sum(is_exact), 0) AS BIGINT) AS n_exact_dup,
         |  CAST(coalesce(sum(is_near), 0) AS BIGINT) AS n_near_dup,
         |  round(CAST(count(CASE WHEN is_exact IS NOT NULL OR is_near IS NOT NULL
         |    THEN 1 END) AS DOUBLE) / count(*), 4) AS dup_rate
         |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_token_histogram" ->
      """WITH t AS (SELECT len(string_split(text, ' '))::BIGINT AS n FROM documents),
        |b AS (SELECT n // 10 AS bucket, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
        |c AS (SELECT *,
        |  CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
        |  CAST(sum(n_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
        |  CAST(sum(n_docs) OVER () AS BIGINT) AS tot_docs,
        |  CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens FROM b)
        |SELECT bucket, n_docs, n_tokens,
        |  round(cum_docs::DOUBLE / tot_docs, 4) AS cum_doc_share,
        |  round(cum_tokens::DOUBLE / tot_tokens, 4) AS cum_token_share
        |FROM c ORDER BY bucket""".stripMargin,
    "emb_knn_self_eval" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec, label FROM embeddings),
        |q AS (SELECT vec_id AS qid, vec AS qvec, label AS true_label FROM emb
        |  WHERE vec_id % 10 = 0),
        |sc AS (SELECT q.qid, q.true_label, e.vec_id, e.label,
        |  round(list_cosine_similarity(e.vec, q.qvec), 4) AS score
        |  FROM emb e JOIN q ON e.vec_id <> q.qid),
        |rk AS (SELECT *, row_number() OVER
        |  (PARTITION BY qid ORDER BY score DESC, vec_id ASC) AS rk FROM sc),
        |votes AS (SELECT qid, true_label, label, count(*) AS cnt
        |  FROM rk WHERE rk <= 5 GROUP BY 1, 2, 3),
        |pred AS (SELECT qid, true_label, label AS pred_label,
        |  row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, label ASC) AS vr
        |  FROM votes)
        |SELECT CAST(true_label AS BIGINT) AS label, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 4) AS accuracy
        |FROM pred WHERE vr = 1 GROUP BY 1 ORDER BY 1""".stripMargin,
    "emb_query_prefetch" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |q AS (SELECT vec AS qv FROM emb WHERE vec_id = 0),
        |ham AS (SELECT e.vec_id,
        |  len(list_filter(list_zip(e.vec, q.qv), t -> (t[1] >= 0) <> (t[2] >= 0)))::BIGINT
        |    AS hamming
        |  FROM emb e, q WHERE e.vec_id <> 0),
        |c1 AS (SELECT vec_id, hamming FROM ham ORDER BY hamming ASC, vec_id LIMIT 200),
        |vals AS (SELECT vec_id, unnest(range(0, len(vec))) AS dim, unnest(vec) AS v FROM emb),
        |bdim AS (SELECT dim, min(v) AS lo, greatest(max(v) - min(v), 1e-300) AS rng
        |  FROM vals GROUP BY dim),
        |b AS (SELECT list(lo ORDER BY dim) AS lo, list(rng ORDER BY dim) AS rng FROM bdim),
        |recon AS (SELECT e.vec_id,
        |  list_transform(list_zip(e.vec, b.lo, b.rng),
        |    t -> t[2] + (least(floor((t[1] - t[2]) / t[3] * 256), 255) + 0.5) / 256 * t[3]) AS rv
        |  FROM emb e JOIN c1 ON e.vec_id = c1.vec_id, b),
        |c2 AS (SELECT r.vec_id, c1.hamming,
        |  round(list_cosine_similarity(r.rv, q.qv), 4) AS approx_cosine
        |  FROM recon r JOIN c1 ON r.vec_id = c1.vec_id, q
        |  ORDER BY approx_cosine DESC, r.vec_id LIMIT 50)
        |SELECT e.vec_id, c2.hamming, c2.approx_cosine,
        |  round(list_cosine_similarity(e.vec, q.qv), 4) AS cosine
        |FROM emb e JOIN c2 ON e.vec_id = c2.vec_id, q
        |ORDER BY cosine DESC, e.vec_id LIMIT 10""".stripMargin,
    "vs_recommend_lookup" ->
      s"""WITH $PTS,
         |vals AS (SELECT label, unnest(range(0, len(embedding))) AS dim,
         |  unnest(embedding::DOUBLE[]) AS v FROM embeddings WHERE label IN (1, 2, 3)),
         |cent AS (SELECT label, dim,
         |  CAST(sum(CAST(v AS DECIMAL(18,10))) AS DOUBLE) / count(*) AS cv
         |  FROM vals GROUP BY 1, 2),
         |rec AS (SELECT dim,
         |  1 * sum(CASE WHEN label IN (1, 2) THEN cv ELSE 0.0 END)
         |  - 2 * sum(CASE WHEN label = 3 THEN cv ELSE 0.0 END) AS rv
         |  FROM cent GROUP BY 1),
         |qv AS (SELECT list(rv ORDER BY dim) AS qvec FROM rec),
         |scored AS (SELECT p.id, list_cosine_similarity(p.vector, qv.qvec) AS cs
         |  FROM pts p, qv),
         |r AS (SELECT *, row_number() OVER (ORDER BY cs DESC, id ASC) AS rank FROM scored)
         |SELECT rank, id, round(cs, 4) AS score FROM r WHERE rank <= 10
         |ORDER BY rank""".stripMargin,
    "events_count_min" ->
      """WITH h AS (SELECT * FROM (VALUES (0, 131071, 12345), (1, 524287, 67890),
        |  (2, 8191, 111213), (3, 127, 141516)) AS t(r, a, b)),
        |rb AS (SELECT e.user_id, h.r,
        |  ((h.a * (e.user_id % 2147483647) + h.b) % 2147483647) % 256 AS bucket
        |  FROM events e, h),
        |cm AS (SELECT r, bucket, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |truth AS (SELECT user_id, count(*) AS true_cnt FROM events
        |  WHERE user_id < 20 GROUP BY 1),
        |pr AS (SELECT t.user_id, t.true_cnt, h.r,
        |  ((h.a * (t.user_id % 2147483647) + h.b) % 2147483647) % 256 AS bucket
        |  FROM truth t, h)
        |SELECT p.user_id, p.true_cnt, min(c.cnt) AS cm_est,
        |  min(c.cnt) - p.true_cnt AS overcount
        |FROM pr p JOIN cm c ON p.r = c.r AND p.bucket = c.bucket
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "docs_train_val_split" ->
      s"""WITH ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT ia, ib FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE sb.n >= sa.n * 0.7 AND sa.n >= sb.n * 0.7
         |    AND c::DOUBLE / (sa.n + sb.n - c) >= 0.7),
         |sp AS (SELECT doc_id, CASE WHEN CAST('0x' || substring(md5(text), 1, 4)
         |    AS BIGINT) < 6553 THEN 'val' ELSE 'train' END AS split FROM documents),
         |cp AS (SELECT j.ia, j.ib FROM j
         |  JOIN sp a ON j.ia = a.doc_id JOIN sp b ON j.ib = b.doc_id
         |  WHERE a.split <> b.split),
         |leaky AS (SELECT DISTINCT doc_id FROM
         |  (SELECT ia AS doc_id FROM cp UNION ALL SELECT ib FROM cp))
         |SELECT s.split, count(*) AS n_docs,
         |  CAST(count(l.doc_id) AS BIGINT) AS n_leak_docs,
         |  round(CAST(count(l.doc_id) AS DOUBLE) / count(*), 4) AS leak_rate
         |FROM sp s LEFT JOIN leaky l ON s.doc_id = l.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "docs_split_by_cluster" ->
      s"""WITH RECURSIVE ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT ia, ib FROM inter
         |  JOIN sizes sa ON ia = sa.doc_id JOIN sizes sb ON ib = sb.doc_id
         |  WHERE sb.n >= sa.n * 0.7 AND sa.n >= sb.n * 0.7
         |    AND c::DOUBLE / (sa.n + sb.n - c) >= 0.7),
         |edges AS (SELECT ia AS src, ib AS dst FROM j UNION SELECT ib, ia FROM j),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |lab AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |sp AS (SELECT doc_id, cluster_id,
         |  CASE WHEN CAST('0x' || substring(md5(cluster_id::VARCHAR), 1, 4) AS BIGINT)
         |    < 6553 THEN 'val' ELSE 'train' END AS split FROM lab),
         |cp AS (SELECT j.ia, j.ib FROM j
         |  JOIN sp a ON j.ia = a.doc_id JOIN sp b ON j.ib = b.doc_id
         |  WHERE a.split <> b.split),
         |leaky AS (SELECT DISTINCT doc_id FROM
         |  (SELECT ia AS doc_id FROM cp UNION ALL SELECT ib FROM cp))
         |SELECT s.split, count(*) AS n_docs, count(DISTINCT s.cluster_id) AS n_clusters,
         |  CAST(count(l.doc_id) AS BIGINT) AS n_leak_docs
         |FROM sp s LEFT JOIN leaky l ON s.doc_id = l.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_count_points" ->
      s"""WITH $PTS
         |SELECT user_id, count(*) AS n_points, count(DISTINCT site) AS n_sites
         |FROM pts WHERE lang IN ('en', 'fr') AND site <> 'src0'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "vs_retrieve_points" ->
      s"""WITH $PTS
         |SELECT id, user_id, site, lang, seq,
         |  round(vector[1], 4) AS v0, round(vector[2], 4) AS v1,
         |  round(vector[3], 4) AS v2, round(vector[4], 4) AS v3
         |FROM pts WHERE id IN (3, 17, 99999999, 42, 250) ORDER BY id""".stripMargin,
    "events_user_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |ov AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, sa.n AS na, sb.n AS nb, n_both,
        |  round(n_both::DOUBLE / (sa.n + sb.n - n_both), 4) AS jaccard
        |FROM ov JOIN sizes sa ON ta = sa.event_type
        |JOIN sizes sb ON tb = sb.event_type
        |ORDER BY ta, tb""".stripMargin,
    "docs_ngram_novelty" ->
      s"""WITH ${SHINGLES(5)},
         |f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY shingle) AS first_doc
         |  FROM sh)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS novelty
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_inter_arrival" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |g AS (SELECT user_id,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
        |  FROM e),
        |a AS (SELECT user_id, count(gap) AS n_gaps,
        |  sum(CAST(gap AS DECIMAL(28,0))) AS sg,
        |  sum(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS sg2,
        |  max(gap) AS max_us
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_gaps,
        |  CAST(sg AS DOUBLE) / n_gaps / 1e6 AS mean_gap_s,
        |  round(sqrt(greatest(0.0,
        |    CAST(sg2 AS DOUBLE) / n_gaps -
        |      (CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) / n_gaps)))
        |    / 1e6, 4) AS sd_gap_s,
        |  CAST(max_us AS DOUBLE) / 1e6 AS max_gap_s
        |FROM a WHERE n_gaps >= 4 ORDER BY 1""".stripMargin,
    "docs_curriculum_order" ->
      """WITH sc AS (SELECT doc_id,
        |  round(len(list_distinct(string_split(text, ' ')))::DOUBLE
        |    / len(string_split(text, ' ')), 4) AS uniq_ratio,
        |  CAST('0x' || substring(md5(text), 1, 8) AS BIGINT) AS shuf
        |  FROM documents),
        |r AS (SELECT *, ntile(3) OVER (ORDER BY uniq_ratio DESC, doc_id ASC) AS phase
        |  FROM sc)
        |SELECT doc_id, CAST(phase AS BIGINT) AS phase,
        |  row_number() OVER (PARTITION BY phase ORDER BY shuf, doc_id) AS phase_rank
        |FROM r ORDER BY phase, phase_rank""".stripMargin,
    "emb_cosine_hist" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
        |n AS (SELECT count(*) // 2 AS half FROM emb),
        |a AS (SELECT vec_id AS pair_id, vec AS va FROM emb, n WHERE vec_id < half),
        |b AS (SELECT vec_id - n.half AS pair_id, vec AS vb FROM emb, n
        |  WHERE vec_id >= n.half AND vec_id < n.half * 2),
        |d AS (SELECT CAST(floor(round(list_cosine_similarity(va, vb), 4) * 10)
        |    AS BIGINT) AS decile
        |  FROM a JOIN b ON a.pair_id = b.pair_id),
        |g AS (SELECT decile, count(*) AS n_pairs FROM d GROUP BY 1)
        |SELECT decile, n_pairs,
        |  round(n_pairs::DOUBLE / sum(n_pairs) OVER (), 4) AS share
        |FROM g ORDER BY decile""".stripMargin,
    "docs_source_overlap" ->
      s"""WITH ${SHINGLES(5)},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT ia, ib, round(c::DOUBLE / (za.n + zb.n - c), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes za ON ia = za.doc_id JOIN sizes zb ON ib = zb.doc_id
         |  WHERE zb.n >= za.n * 0.7 AND za.n >= zb.n * 0.7
         |    AND c::DOUBLE / (za.n + zb.n - c) >= 0.7),
         |sp AS (SELECT doc_id, source FROM documents),
         |p AS (SELECT least(a.source, b.source) AS sa,
         |  greatest(a.source, b.source) AS sb, j.jaccard, j.ia, j.ib
         |  FROM j JOIN sp a ON j.ia = a.doc_id JOIN sp b ON j.ib = b.doc_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY sa, sb
         |    ORDER BY jaccard DESC, ia DESC, ib DESC) AS rk,
         |  count(*) OVER (PARTITION BY sa, sb) AS n_pairs FROM p)
         |SELECT sa, sb, CAST(n_pairs AS BIGINT) AS n_pairs, jaccard AS max_jaccard,
         |  ia AS example_ia, ib AS example_ib
         |FROM r WHERE rk = 1 ORDER BY sa, sb""".stripMargin,
    "docs_anneal_mixture" ->
      """WITH bs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |ph AS (SELECT * FROM (VALUES (1, 'size'), (2, 'sqrt'), (3, 'equal'))
        |  AS t(phase, mode)),
        |raw AS (SELECT ph.phase, bs.source, bs.n_docs,
        |  CASE ph.mode WHEN 'size' THEN CAST(bs.n_docs AS DECIMAL(18,6))
        |    WHEN 'sqrt' THEN CAST(round(sqrt(CAST(bs.n_docs AS DOUBLE)), 6)
        |      AS DECIMAL(18,6))
        |    ELSE CAST(1.0 AS DECIMAL(18,6)) END AS rw
        |  FROM bs, ph),
        |w AS (SELECT phase, source, n_docs,
        |  CAST(rw AS DOUBLE) / CAST(sum(rw) OVER (PARTITION BY phase) AS DOUBLE) AS w
        |  FROM raw)
        |SELECT CAST(phase AS BIGINT) AS phase, source, n_docs,
        |  round(w, 4) AS weight,
        |  CAST(round(w * 10000, 0) AS BIGINT) AS target_docs
        |FROM w ORDER BY phase, source""".stripMargin,
    "vs_search_groups_lookup" ->
      s"""WITH $PTS,
         |q AS (SELECT vector AS qvec FROM pts WHERE id = 0),
         |scored AS (SELECT p.site, p.id, round(list_distance(p.vector, q.qvec), 4) AS score
         |  FROM pts p, q WHERE p.id <> 0),
         |h AS (SELECT *, row_number() OVER (PARTITION BY site ORDER BY score ASC, id ASC)
         |    AS hit_rank FROM scored),
         |hits AS (SELECT * FROM h WHERE hit_rank <= 2),
         |tg AS (SELECT site, score AS best_score FROM hits WHERE hit_rank = 1),
         |g AS (SELECT site,
         |  row_number() OVER (ORDER BY best_score ASC, site ASC) AS group_rank FROM tg),
         |pr AS (SELECT site, id AS lookup_id, substring(text, 1, 20) AS lookup_head
         |  FROM (SELECT site, id, text,
         |    row_number() OVER (PARTITION BY site ORDER BY id) AS rk FROM pts)
         |  WHERE rk = 1)
         |SELECT g.group_rank, hits.site, pr.lookup_id, pr.lookup_head,
         |  hits.hit_rank, hits.id, hits.score
         |FROM hits JOIN g ON hits.site = g.site JOIN pr ON hits.site = pr.site
         |WHERE g.group_rank <= 3
         |ORDER BY group_rank, hit_rank""".stripMargin,
    "dedup_cost_report" ->
      s"""WITH ${SHINGLES(5)},
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
         |b AS (SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS log2_df,
         |  CAST(df AS HUGEINT) * (df - 1) // 2 AS pr FROM dfs),
         |g AS (SELECT log2_df, count(*) AS n_grams, sum(pr) AS pairs FROM b
         |  GROUP BY 1)
         |SELECT log2_df, n_grams, CAST(pairs AS BIGINT) AS n_candidate_pairs,
         |  round(CAST(pairs AS DOUBLE) / CAST(sum(pairs) OVER () AS DOUBLE), 4)
         |    AS pair_share
         |FROM g ORDER BY log2_df""".stripMargin,
    // exact in the sub-2^lgK theta regime (capacity 16384 > distinct
    // KLL exact regime (capacity above the 7-day window count at both
    // verify SFs): every quantile is the exact order statistic — the
    // smallest value whose inclusive rank rn/n reaches p, mirroring the
    // sketch's GE search on normalized ranks (a ceil(p*n) formulation
    // would reintroduce the double-rounding boundary the sketch avoids)
    "events_kll_daily" ->
      """WITH v AS (SELECT date_trunc('day', ts) AS day, value FROM events),
        |r AS (SELECT day, value,
        |  row_number() OVER (PARTITION BY day ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY day) AS n FROM v),
        |q AS (SELECT day, max(n) AS n_values,
        |  min(value) FILTER (CAST(rn AS DOUBLE) / n >= 0.5) AS p50,
        |  min(value) FILTER (CAST(rn AS DOUBLE) / n >= 0.9) AS p90,
        |  min(value) FILTER (CAST(rn AS DOUBLE) / n >= 0.99) AS p99
        |  FROM r GROUP BY 1),
        |w AS (SELECT a.day AS day, b.value
        |  FROM (SELECT DISTINCT day FROM v) a JOIN v b
        |    ON b.day BETWEEN a.day - INTERVAL 6 DAY AND a.day),
        |rw AS (SELECT day, value,
        |  row_number() OVER (PARTITION BY day ORDER BY value) AS rn,
        |  count(*) OVER (PARTITION BY day) AS n FROM w),
        |qw AS (SELECT day, max(n) AS n_7d,
        |  min(value) FILTER (CAST(rn AS DOUBLE) / n >= 0.99) AS p99_7d
        |  FROM rw GROUP BY 1)
        |SELECT q.day, q.n_values, q.p50, q.p90, q.p99, qw.n_7d, qw.p99_7d
        |FROM q JOIN qw ON q.day = qw.day ORDER BY q.day""".stripMargin,
    // users at both verify SFs), like events_heavy_users' MG discipline
    "events_theta_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |ov AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type GROUP BY 1, 2),
        |pairs AS (SELECT sa.event_type AS ta, sb.event_type AS tb,
        |  sa.n AS users_a, sb.n AS users_b
        |  FROM sizes sa JOIN sizes sb ON sa.event_type < sb.event_type)
        |SELECT p.ta, p.tb, p.users_a, p.users_b,
        |  CAST(coalesce(ov.n, 0) AS BIGINT) AS est_both
        |FROM pairs p LEFT JOIN ov ON p.ta = ov.ta AND p.tb = ov.tb
        |ORDER BY p.ta, p.tb""".stripMargin,
    // exact sub-capacity regime: only_a = |A| − |A∩B|
    "events_theta_anotb" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |ov AS (SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type <> b.event_type GROUP BY 1, 2),
        |pairs AS (SELECT sa.event_type AS ta, sb.event_type AS tb
        |  FROM sizes sa JOIN sizes sb ON sa.event_type <> sb.event_type)
        |SELECT p.ta, p.tb, sa.n AS users_a,
        |  CAST(sa.n - coalesce(ov.n, 0) AS BIGINT) AS only_a
        |FROM pairs p JOIN sizes sa ON p.ta = sa.event_type
        |LEFT JOIN ov ON p.ta = ov.ta AND p.tb = ov.tb
        |ORDER BY p.ta, p.tb""".stripMargin,
    "docs_novelty_trend" ->
      s"""WITH ${SHINGLES(5)},
         |f AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY shingle) AS first_doc
         |  FROM sh),
         |nv AS (SELECT doc_id,
         |  round(CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 4) AS novelty FROM f GROUP BY 1),
         |j AS (SELECT nv.doc_id, nv.novelty, d.source
         |  FROM nv JOIN documents d ON nv.doc_id = d.doc_id),
         |h AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk,
         |  count(*) OVER (PARTITION BY source) AS n_src FROM j),
         |a AS (SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rk * 2 <= n_src
         |      THEN CAST(novelty AS DECIMAL(18,4)) END) AS DOUBLE)
         |    / sum(CASE WHEN rk * 2 <= n_src THEN 1 END) AS early_novelty,
         |  CAST(sum(CASE WHEN rk * 2 > n_src
         |      THEN CAST(novelty AS DECIMAL(18,4)) END) AS DOUBLE)
         |    / sum(CASE WHEN rk * 2 > n_src THEN 1 END) AS late_novelty
         |  FROM h GROUP BY 1)
         |SELECT source, n_docs, early_novelty, late_novelty,
         |  late_novelty - early_novelty AS trend
         |FROM a ORDER BY 1""".stripMargin,
    "customer_gini" ->
      """WITH rev AS (SELECT o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY rev ASC, o_custkey ASC) AS i,
        |  count(*) OVER () AS n FROM rev),
        |a AS (SELECT max(n) AS n, sum(CAST(rev AS DECIMAL(28,4))) AS sx,
        |  sum(CAST(CAST(i AS DECIMAL(10,0)) * CAST(rev AS DECIMAL(18,4))
        |    AS DECIMAL(38,4))) AS six FROM r)
        |SELECT n AS n_customers, CAST(sx AS DOUBLE) AS total_revenue,
        |  (2.0 * CAST(six AS DOUBLE)) / (n * CAST(sx AS DOUBLE))
        |    - CAST(n + 1 AS DOUBLE) / n AS gini
        |FROM a""".stripMargin,
    "docs_contamination_by_source" ->
      s"""WITH ${SHINGLES(8)},
         |ev AS (SELECT s.doc_id AS eval_id, s.shingle FROM sh s
         |  JOIN documents d ON s.doc_id = d.doc_id
         |  WHERE d.source IN ('src0', 'src1', 'src2', 'src3')),
         |tr AS (SELECT s.doc_id AS train_id, s.shingle FROM sh s
         |  JOIN documents d ON s.doc_id = d.doc_id
         |  WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3')),
         |hot AS (SELECT shingle FROM tr GROUP BY 1 HAVING count(*) > 1024),
         |p AS (SELECT ev.eval_id, tr.train_id, count(*) AS shared
         |  FROM ev JOIN tr ON ev.shingle = tr.shingle
         |  WHERE tr.shingle NOT IN (SELECT shingle FROM hot)
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT d.source, count(DISTINCT p.train_id) AS n_train_docs,
         |  count(DISTINCT p.eval_id) AS n_eval_docs,
         |  count(*) AS n_pairs, max(p.shared) AS max_shared
         |FROM p JOIN documents d ON p.train_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_value_deciles" ->
      """WITH pu AS (SELECT user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY v ASC, user_id ASC) AS rnk,
        |  count(*) OVER () AS n FROM pu),
        |d AS (SELECT *, ntile(10) OVER (ORDER BY v ASC, user_id ASC) AS decile FROM r),
        |g AS (SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_users,
        |  sum(CAST(v AS DECIMAL(28,4))) AS sv FROM d GROUP BY 1)
        |SELECT decile, n_users, CAST(sv AS DOUBLE) AS total_value,
        |  CAST(sv AS DOUBLE) / CAST(sum(sv) OVER () AS DOUBLE) AS value_share
        |FROM g ORDER BY decile""".stripMargin,
    "mm_phash_hamming_hist" ->
      s"""WITH $PHASH_CTE,
         |r AS (SELECT doc_id, sig, row_number() OVER (ORDER BY doc_id) AS rnk,
         |  count(*) OVER () AS n FROM sigs),
         |a AS (SELECT rnk AS pr, sig AS sa FROM r WHERE rnk <= n // 2),
         |b AS (SELECT rnk - n // 2 AS pr, sig AS sb FROM r
         |  WHERE rnk > n // 2 AND rnk <= 2 * (n // 2)),
         |bg AS (SELECT CAST(bit_count(xor(a.sa, b.sb)) AS BIGINT) AS hamming,
         |  count(*) AS n_background FROM a JOIN b ON a.pr = b.pr GROUP BY 1),
         |fg AS (SELECT CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
         |  count(*) AS n_candidates FROM cand GROUP BY 1)
         |SELECT coalesce(bg.hamming, fg.hamming) AS hamming,
         |  CAST(coalesce(n_background, 0) AS BIGINT) AS n_background,
         |  CAST(coalesce(n_candidates, 0) AS BIGINT) AS n_candidates
         |FROM bg FULL OUTER JOIN fg ON bg.hamming = fg.hamming
         |ORDER BY 1""".stripMargin,
    "events_hour_dow_heatmap" ->
      """SELECT CAST(isodow(ts) AS BIGINT) AS dow,
        |  CAST(extract(hour FROM ts) AS BIGINT) AS hour,
        |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}

package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — every implemented operator from SURVEY.md §2 is
  * registered here as a named query plus (where ANSI-SQL-expressible)
  * a DuckDB oracle returning the identical result.
  *
  * Cross-engine determinism rules (see operator scaladocs):
  *  - money sums go through DECIMAL (exact, order-independent), output
  *    as DOUBLE;
  *  - averages are exact-sum-cast-to-double / count (one IEEE divide);
  *  - doubles that reach the output are produced by the *same*
  *    operation sequence in both engines, so they are bit-identical
  *    and need no rounding;
  *  - double sums that reach the output are `graft.functions.Folds`
  *    folds: 0.0-seeded left folds in a pinned order, replayed by the
  *    oracle's ordered `list_reduce`;
  *  - content hashes are md5 hex (identical everywhere); the minhash /
  *    winnowing families are integer polynomial hashes mod 2^32 whose
  *    exact fold the oracle reproduces; every top-k ORDER BY carries a
  *    unique tiebreaker column;
  *  - every DuckDB integer `sum()` (incl. sum(CASE ...) conditional
  *    counts) in a final SELECT must be CAST(... AS BIGINT): DuckDB
  *    types them HUGEINT (INT128), Spark emits BIGINT, and the
  *    driver's hash is dtype-sensitive — values match, hashes don't
  *    (cost q129 three rounds of red). Enforced by
  *    tools/lint_oracle.py over the Verify oracle dump.
  */
object SparkEntry extends OraclesA with OraclesB with OraclesC {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — relational surface (SURVEY §2.B) —
    "q01_pricing_summary" -> (Relational.pricingSummary(_, _)),
    "q02_join_broadcast" -> (Relational.revenueByBrand(_, _)),
    "q03_join_multi" -> (Relational.revenueByNation(_, _)),
    "q04_topk_orders" -> (Relational.topOrders(_, _)),
    "q05_anti_join" -> (Relational.customersWithoutOrders(_, _)),
    "q06_semi_join" -> (Relational.bulkParts(_, _)),
    "q07_set_except" -> (Relational.customerOnlyNations(_, _)),
    "q08_orders_by_month" -> (Relational.ordersByMonth(_, _)),
    "q09_event_type_stats" -> (Relational.eventTypeStats(_, _)),
    "q33_approx_distinct" -> (Relational.approxDistinctUsers(_, _)),
    "q35_rollup" -> (Relational.ordersRollup(_, _)),
    "q36_scalar_funcs" -> (Relational.partCatalog(_, _)),
    "q38_set_intersect" -> (Relational.sharedDebtNations(_, _)),
    "q39_pivot" -> (Relational.eventPivot(_, _)),
    "q41_cube" -> (Relational.lineitemCube(_, _)),
    "q42_union_all" -> (Relational.partyDirectory(_, _)),
    "q43_sql_frontend" -> (Relational.priorityCheck(_, _)),
    // — windows / event time / JSON (SURVEY §2.B) —
    "q10_window_latest" -> (EventOps.latestPerUser(_, _)),
    "q11_window_gaps" -> (EventOps.userGapStats(_, _)),
    "q12_sessionize" -> (EventOps.sessionize(_, _)),
    "q13_json_props" -> (EventOps.propsKeyStats(_, _)),
    "q14_hourly_buckets" -> (EventOps.hourlyBuckets(_, _)),
    "q15_flatten_props" -> (EventOps.flattenedProps(_, _)),
    "q40_running_total" -> (EventOps.runningTotals(_, _)),
    // — the reference pipeline (SURVEY §2.A, O2-O8) —
    "q16_reindex_scan" -> ((s, d) => Reindex.scanSlice(s, d, startId = "25")),
    "q17_reindex_chunks" -> ((s, d) => Reindex.chunked(s, d, chunkSize = 20)),
    "q18_enrich_broadcast" -> (Reindex.enriched(_, _)),
    // — dedup tier (SURVEY §2.C / LLM north star) —
    "q19_dedup_exact" -> (Dedup.exact(_, _)),
    "q20_dedup_fingerprint" -> (Dedup.fingerprint(_, _)),
    "q21_dedup_minhash" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "q22_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d, threshold = 0.8)),
    "q23_simhash" -> ((s, d) => Dedup.simhash(s, d, bits = 16)),
    "q44_winnowing" -> ((s, d) => Dedup.winnowing(s, d)),
    // the scale-path variant of q22: hot shingles (df>8) dropped before
    // the pair join, identically in the oracle — exact for the capped
    // definition (see SCALING.md)
    "q45_jaccard_capped" -> ((s, d) => Dedup.ngramJaccard(s, d, threshold = 0.5, maxShingleDf = Some(8))),
    // — similarity search tier —
    "q24_topk_cosine" -> ((s, d) => Similarity.bruteForceTopK(s, d)),
    // the fixture plants no near-identical embeddings (max pair cosine
    // ≈0.51), so the demo threshold is 0.42 — high-similarity tail
    "q25_embed_neardup" -> ((s, d) => Similarity.thresholdPairs(s, d, threshold = 0.42)),
    "q26_ann_bucketed" -> ((s, d) => Similarity.bucketedAnn(s, d)),
    "q27_label_stats" -> (Similarity.labelStats(_, _)),
    "q37_topk_aggregator" -> ((s, d) => Similarity.topKAggregated(s, d)),
    // — text analysis tier —
    "q28_corpus_stats" -> (TextAnalysis.corpusStats(_, _)),
    "q29_token_freq" -> ((s, d) => TextAnalysis.tokenFrequency(s, d)),
    "q30_langid" -> (TextAnalysis.langIdConfusion(_, _)),
    "q31_quality" -> (TextAnalysis.qualityBySource(_, _)),
    // — multimodal tier —
    "q32_multimodal_meta" -> (Multimodal.metadata(_, _)),
    "q34_media_features" -> (Multimodal.featureSummary(_, _)),
    // — round-3 widening: as-of/range joins, skew path, exact moments,
    //   percentiles, grouping sets, edit distance, IVF ANN, UDTF —
    "q46_asof_join" -> (EventOps.asOfAttribution(_, _)),
    "q47_range_join" -> ((s, d) => EventOps.precedingCounts(s, d)),
    "q48_salted_join" -> (Relational.saltedRevenueByBrand(_, _)),
    "q49_corpus_diff" -> ((s, d) => Dedup.corpusDiff(s, d)),
    "q50_variance" -> (Relational.acctbalVariance(_, _)),
    "q51_percentile" -> (Relational.pricePercentiles(_, _)),
    "q52_grouping_sets" -> (Relational.orderGroupingSets(_, _)),
    "q53_edit_distance" -> (Relational.nameEditDistance(_, _)),
    "q54_ivf_ann" -> ((s, d) => Similarity.ivfAnn(s, d)),
    "q55_pos_tokens" -> ((s, d) => TextAnalysis.positionalTokens(s, d)),
    "q56_topk_per_group" -> ((s, d) => Relational.topOrdersPerPriority(s, d)),
    "q57_rank_funcs" -> (Relational.orderRankFunctions(_, _)),
    "q58_approx_quantile" -> (Relational.approxPricePercentiles(_, _)),
    "q59_collect_sets" -> (Relational.userEventProfile(_, _)),
    "q60_date_facets" -> (Relational.orderDateFacets(_, _)),
    "q61_corr_subquery" -> (Relational.premiumParts(_, _)),
    "q62_media_resize" -> ((s, d) => Multimodal.resizePayloads(s, d)),
    "q63_train_split" -> (TextAnalysis.trainSplit(_, _)),
    "q64_vocab_oov" -> ((s, d) => TextAnalysis.vocabCoverage(s, d)),
    // scale path of q51: two-pass global ranking, no low-cardinality
    // window bottleneck; shares q51's oracle (identical result)
    "q65_pctl_scale" -> ((s, d) => Relational.pricePercentilesScalable(s, d)),
    "q66_union_distinct" -> (Relational.distinctNationKeys(_, _)),
    "q67_session_window" -> ((s, d) => EventOps.sessionWindows(s, d)),
    "q68_repetition" -> (TextAnalysis.repetitionMetrics(_, _)),
    // — round-4 widening: training-data pipeline completers —
    "q69_contamination" -> (TextAnalysis.contamination(_, _)),
    "q70_mix_weights" -> (TextAnalysis.mixingWeights(_, _)),
    "q71_seq_packing" -> ((s, d) => TextAnalysis.sequencePacking(s, d)),
    "q72_dedup_clusters" -> (Dedup.dedupClusters(_, _)),
    // — round-5 widening: clustering, quality gate, weighted sampling —
    "q73_kmeans" -> ((s, d) => Similarity.kmeansCells(s, d)),
    "q74_qgate" -> ((s, d) => TextAnalysis.qualityGate(s, d)),
    "q75_sample" -> ((s, d) => TextAnalysis.stratifiedSample(s, d)),
    "q76_srcdups" -> (Dedup.sourceDupMatrix(_, _)),
    "q77_survivor" -> (Dedup.clusterSurvivors(_, _)),
    // — round-8 widening: simhash Hamming near-dup join, duplicated-
    //   span statistics, semantic dedup over the k-means cells —
    "q78_simhash_pairs" -> ((s, d) => Dedup.simhashNearDup(s, d)),
    "q79_dup_spans" -> ((s, d) => Dedup.dupSpanStats(s, d)),
    "q80_semdedup" -> ((s, d) => Similarity.semDedup(s, d)),
    // — round-9 widening: bloom-prefiltered incremental dedup (the
    //   100 TB shape of q49 — identical result, so it shares q49's
    //   exact oracle) —
    "q81_bloom_diff" -> ((s, d) => Dedup.corpusDiffBloom(s, d)),
    // — round-10 widening: TF-IDF salient terms per document, and an
    //   add-one-smoothed bigram-LM fluency score over the q63 splits;
    //   both logs go through graft_ln (libm parity, see GraftLn) —
    "q82_tfidf_terms" -> ((s, d) => TextAnalysis.tfidfTerms(s, d)),
    "q83_bigram_lm" -> ((s, d) => TextAnalysis.bigramFluency(s, d)),
    // — round-11 widening: corpus-unigram surprisal (CCNet-style
    //   quality signal) and the Zipf rank-frequency fit per source
    //   (bounded-heap top-M, never a vocab-sized window) —
    "q84_surprisal" -> ((s, d) => TextAnalysis.tokenSurprisal(s, d)),
    "q85_zipf" -> ((s, d) => TextAnalysis.zipfSlope(s, d)),
    // CDC merge: the nightly snapshot-maintenance join (upserts +
    // deletes applied in one full-outer equi-join, Reindex.cdcMerge)
    "q86_cdc_merge" -> ((s, d) => Reindex.cdcMerge(s, d)),
    // ANN recall audit: recall@k of the q26 LSH index vs the exact
    // q24 top-k over the same probes (Similarity.annRecall)
    "q87_ann_recall" -> ((s, d) => Similarity.annRecall(s, d)),
    // — round-11 widening, batch 2: BM25 query-by-example retrieval
    //   (the reference's Solr sink ranks with exactly this function),
    //   per-source KL drift, and the two product-analytics staples —
    "q88_bm25" -> ((s, d) => TextAnalysis.bm25Search(s, d)),
    "q89_source_drift" -> ((s, d) => TextAnalysis.sourceDrift(s, d)),
    "q90_funnel" -> ((s, d) => EventOps.funnel(s, d)),
    "q91_retention" -> ((s, d) => EventOps.retentionCohorts(s, d)),
    // — round-11 widening, batch 3: product-quantization ANN (the
    //   memory-bound scale path — search touches codes + codebooks,
    //   never raw vectors), robust MAD length gate, session paths —
    "q92_pq_ann" -> ((s, d) => Similarity.pqAnn(s, d)),
    "q93_mad_outliers" -> ((s, d) => TextAnalysis.madOutliers(s, d)),
    "q94_session_paths" -> ((s, d) => EventOps.sessionPaths(s, d)),
    // — round-11 widening, batch 4: the IVF-PQ composition (coarse
    //   cell equi-join + ADC-over-codes), shingle-level source
    //   overlap, PMI collocations, fixed-count stratified sample —
    "q95_ivfpq_ann" -> ((s, d) => Similarity.ivfPqAnn(s, d)),
    "q96_source_overlap" -> ((s, d) => Dedup.sourceOverlap(s, d)),
    "q97_pmi" -> ((s, d) => TextAnalysis.pmiCollocations(s, d)),
    "q98_fixed_sample" -> ((s, d) => TextAnalysis.fixedSample(s, d)),
    // — round-11 widening, batch 5: a true time-RANGE window frame
    //   and the TPC-H Q5 six-table join-order workout —
    "q99_rolling_24h" -> ((s, d) => EventOps.rolling24h(s, d)),
    "q100_tpch_q5" -> ((s, d) => Relational.localSupplierVolume(s, d)),
    // all-pairs sparse TF-IDF cosine through the inverted index —
    // the lexical twin of the dense ANN tier (Bayardo et al. 2007)
    "q101_sparse_sim" -> ((s, d) => TextAnalysis.sparseCosinePairs(s, d)),
    // — round-12 widening: information/chunking/bucketing text ops,
    //   time-series monitoring (anomaly z-scores, zero-filled
    //   resample, rolling DAU/WAU), market-basket lift over sessions,
    //   and the external clustering-quality audit —
    "q102_token_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(s, d)),
    "q103_doc_chunks" -> ((s, d) => TextAnalysis.slidingChunks(s, d)),
    "q104_len_deciles" -> ((s, d) => TextAnalysis.lengthDeciles(s, d)),
    "q105_hourly_anomaly" -> ((s, d) => EventOps.hourlyAnomalies(s, d)),
    "q106_resample" -> ((s, d) => EventOps.hourlyResample(s, d)),
    "q107_cooccurrence" -> ((s, d) => EventOps.sessionCooccurrence(s, d)),
    "q108_rolling_dau" -> ((s, d) => EventOps.rollingActiveUsers(s, d)),
    "q109_cell_purity" -> ((s, d) => Similarity.cellPurity(s, d)),
    // — round-12 widening, batch 2: originality ratio, forward-fill
    //   imputation, cumulative user growth, next-token suggestions —
    "q110_originality" -> ((s, d) => Dedup.originality(s, d)),
    "q111_forward_fill" -> ((s, d) => EventOps.forwardFill(s, d)),
    "q112_user_growth" -> ((s, d) => EventOps.userGrowth(s, d)),
    "q113_next_token" -> ((s, d) => TextAnalysis.nextTokenSuggest(s, d)),
    // — round-12 widening, batch 3: feature scaling, class balancing,
    //   and the skyline operator in window form —
    "q114_feature_scale" -> ((s, d) => TextAnalysis.normalizedQuality(s, d)),
    "q115_class_balance" -> ((s, d) => Similarity.balancedSample(s, d)),
    "q116_pareto" -> ((s, d) => Relational.paretoFrontier(s, d)),
    // — round-12 widening, batch 4: the cross-split contamination
    //   audit and the exact-moments correlation —
    "q117_split_leakage" -> ((s, d) => Dedup.splitLeakage(s, d)),
    "q118_len_quality_corr" -> ((s, d) => TextAnalysis.lengthQualityCorr(s, d)),
    // — round-12 widening, batch 5: graph centrality over the
    //   near-dup graph —
    "q119_pagerank" -> ((s, d) => Dedup.pageRank(s, d)),
    // — round-12 widening, batch 6: the third sketch (CMS point
    //   frequencies) and the blocked fuzzy join —
    "q120_cms_heavy_hitters" -> ((s, d) => TextAnalysis.cmsHeavyHitters(s, d)),
    "q121_fuzzy_join" -> ((s, d) => Dedup.fuzzyNamePairs(s, d)),
    // — round-12 widening, batch 7: robust statistics (winsorized
    //   means) and the arrival-process fingerprint —
    "q122_winsorized" -> ((s, d) => TextAnalysis.winsorizedStats(s, d)),
    "q123_interarrival" -> ((s, d) => EventOps.interArrivalStats(s, d)),
    // — round-12 widening, batch 8: asymmetric containment (the
    //   subset-dup detector Jaccard misses) and embedding-cluster
    //   geometry —
    "q124_containment" -> ((s, d) => Dedup.containment(s, d)),
    "q125_centroid_sim" -> ((s, d) => Similarity.centroidSimilarity(s, d)),
    // — round-12 widening, batch 9: funnel timing and the Heaps'-law
    //   growth diagnostic —
    "q126_conversion_latency" -> ((s, d) => EventOps.conversionLatency(s, d)),
    "q127_vocab_growth" -> ((s, d) => TextAnalysis.vocabGrowth(s, d)),
    // — round-12 widening, batch 10: symmetric source divergence and
    //   behavioral predictability —
    "q128_source_hellinger" -> ((s, d) => TextAnalysis.sourceHellinger(s, d)),
    "q129_transition_entropy" -> ((s, d) => EventOps.transitionEntropy(s, d)),
    // — round-12 widening, batch 11: near-dup graph structure and
    //   corpus-balance concentration —
    "q130_triangles" -> ((s, d) => Dedup.triangles(s, d)),
    "q131_gini" -> ((s, d) => TextAnalysis.giniConcentration(s, d)),
    // — round-12 widening, batch 12: corpus-composition independence
    //   test and the production hybrid-retrieval stack —
    "q132_chi_square" -> ((s, d) => TextAnalysis.chiSquareIndependence(s, d)),
    "q133_hybrid_rrf" -> ((s, d) => Similarity.hybridRrf(s, d)),
    // — round-12 widening, batch 13: weighted sampling with an
    //   unbiased mass estimator and the distribution-shape test —
    "q134_priority_sample" -> ((s, d) => TextAnalysis.prioritySample(s, d)),
    "q135_ks_matrix" -> ((s, d) => TextAnalysis.ksMatrix(s, d)),
    // — round-12 widening, batch 14: sketch-vs-exact calibration at
    //   pair granularity and the boilerplate detector —
    "q136_minhash_calibration" -> ((s, d) => Dedup.minhashCalibration(s, d)),
    "q137_boilerplate" -> ((s, d) => Dedup.boilerplate(s, d)),
    // — round-12 widening, batch 15: censoring-aware survival and
    //   leakage-free categorical encoding —
    "q138_kaplan_meier" -> ((s, d) => EventOps.kaplanMeier(s, d)),
    "q139_loo_encoding" -> ((s, d) => Similarity.looEncoding(s, d)),
    // — round-12 widening, batch 16: diversity-aware re-ranking —
    "q140_mmr" -> ((s, d) => Similarity.mmrSelect(s, d)),
    // — round-12 widening, batch 17: signal eval and distribution
    //   alignment —
    "q141_roc_auc" -> ((s, d) => TextAnalysis.rocAuc(s, d)),
    "q142_quantile_norm" -> ((s, d) => TextAnalysis.quantileNormalize(s, d)),
    // — round-12 widening, batch 18: label-noise audit and
    //   reciprocal-neighbor precision filtering —
    "q143_knn_label_noise" -> ((s, d) => Similarity.knnLabelNoise(s, d)),
    "q144_mutual_knn" -> ((s, d) => Similarity.mutualKnn(s, d)),
    // — round-12 widening, batch 19: scale-native uncertainty and
    //   dup-graph topology —
    "q145_bootstrap_ci" -> ((s, d) => TextAnalysis.bootstrapCi(s, d)),
    "q146_assortativity" -> ((s, d) => Dedup.assortativity(s, d)),
    // — round-12 widening, batch 20: contrastive mining and
    //   vocabulary burstiness —
    "q147_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    "q148_burstiness" -> ((s, d) => TextAnalysis.tokenBurstiness(s, d)),
    // — round-12 widening, batch 21: as-of attribution and
    //   chance-corrected label agreement —
    "q149_last_touch" -> ((s, d) => EventOps.lastTouchAttribution(s, d)),
    "q150_centroid_kappa" -> ((s, d) => Similarity.centroidKappa(s, d)),
    // — round-12 widening, batch 22: split-distribution audit and
    //   packing fragmentation —
    "q151_split_affinity" -> ((s, d) => TextAnalysis.splitAffinity(s, d)),
    "q152_packing_audit" -> ((s, d) => TextAnalysis.packingEfficiency(s, d)),
    // — round-12 widening, batch 23: tail diagnostics and behavioral
    //   cohorts —
    "q153_hill_tail" -> ((s, d) => TextAnalysis.hillTailIndex(s, d)),
    "q154_rfm" -> ((s, d) => EventOps.rfmSegments(s, d)),
    // — round-12 widening, batch 24: channel economics and dedup
    //   shardability —
    "q155_channel_revenue" -> ((s, d) => EventOps.channelRevenue(s, d)),
    "q156_modularity" -> ((s, d) => Dedup.sourceModularity(s, d)),
    // — round-12 widening, batch 25: LSH tuning and weighted-sample
    //   planning —
    "q157_band_curve" -> ((s, d) => Dedup.bandOperatingCurve(s, d)),
    "q158_ess" -> ((s, d) => TextAnalysis.effectiveSampleSize(s, d)),
    // — round-12 widening, batch 26: stream compaction and long-run
    //   behavior —
    "q159_run_lengths" -> ((s, d) => EventOps.runLengths(s, d)),
    "q160_stationary" -> ((s, d) => EventOps.stationaryDistribution(s, d)),
    // — round-12 widening, batch 27: probability calibration and
    //   targeting curves —
    "q161_calibration" -> ((s, d) => TextAnalysis.sourceCalibration(s, d)),
    "q162_gains" -> ((s, d) => TextAnalysis.gainsTable(s, d)),
    // — round-12 widening, batch 28: grouped-jackknife error bars and
    //   value forensics —
    "q163_jackknife" -> ((s, d) => TextAnalysis.jackknifeRatio(s, d)),
    "q164_benford" -> ((s, d) => EventOps.benfordAudit(s, d)),
    // — round-12 widening, batch 29: retrieval eval and dedup
    //   capacity planning —
    "q165_label_mrr" -> ((s, d) => Similarity.labelMrr(s, d)),
    "q166_cluster_sizes" -> ((s, d) => Dedup.clusterSizeHistogram(s, d)),
    // — round-12 widening, batch 30: token-weighted quantiles and
    //   ingestion-duplicate forensics —
    "q167_weighted_quantiles" -> ((s, d) => TextAnalysis.weightedLengthQuantiles(s, d)),
    "q168_event_dups" -> ((s, d) => EventOps.eventDupAudit(s, d)),
    // — round-12 widening, batch 31: rank association and the length
    //   prior regression —
    "q169_spearman" -> ((s, d) => TextAnalysis.spearmanCorr(s, d)),
    "q170_grouped_ols" -> ((s, d) => TextAnalysis.groupedOls(s, d)),
    // — round-12 widening, batch 32: do-sources-differ hypothesis
    //   tests (omnibus + flagship pair) —
    "q171_anova" -> ((s, d) => TextAnalysis.anovaLength(s, d)),
    "q172_welch" -> ((s, d) => TextAnalysis.welchTest(s, d)),
    // — round-12 widening, batch 33: time-series diagnostics on the
    //   zero-filled daily stream —
    "q173_autocorr" -> ((s, d) => EventOps.dailyAutocorrelation(s, d)),
    "q174_mann_kendall" -> ((s, d) => EventOps.mannKendall(s, d)),
    // — round-12 widening, batch 34: the reshape surface's missing
    //   half and a log-free diversity audit —
    "q175_unpivot" -> ((s, d) => Relational.monthlyMetricsLong(s, d)),
    "q176_token_hhi" -> ((s, d) => Relational.tokenHhi(s, d)),
    // — round-12 widening, batch 35: load-time data-quality audits —
    "q177_column_profile" -> ((s, d) => Relational.columnProfile(s, d)),
    "q178_integrity" -> ((s, d) => Relational.integrityAudit(s, d)),
    // — round-12 widening, batch 36: release-gate scrubbing census
    //   and exact outlier alarms —
    "q179_pii_scan" -> ((s, d) => TextAnalysis.piiScan(s, d)),
    "q180_value_outliers" -> ((s, d) => EventOps.valueOutliers(s, d)),
    // — round-12 widening, batch 37: the native Jaro-Winkler scalar
    //   and weekly shape —
    "q181_name_reconcile" -> ((s, d) => Dedup.nameReconcile(s, d)),
    "q182_weekday_index" -> ((s, d) => EventOps.weekdaySeasonality(s, d)),
    // — round-12 widening, batch 38: level-shift location and the
    //   mix-shift gate —
    "q183_cusum" -> ((s, d) => EventOps.cusumChangepoint(s, d)),
    "q184_prop_test" -> ((s, d) => EventOps.purchaseShiftTest(s, d)),
    // — round-12 widening, batch 39: behavioral implication mining
    //   and the smoothing baseline —
    "q185_assoc_rules" -> ((s, d) => EventOps.associationRules(s, d)),
    "q186_ewma" -> ((s, d) => EventOps.ewmaDaily(s, d)),
    // — round-12 widening, batch 40: the trained lang-id classifier
    //   (q30's twin) and position-sensitive retrieval quality —
    "q187_naive_bayes" -> ((s, d) => TextAnalysis.naiveBayesLang(s, d)),
    "q188_ndcg" -> ((s, d) => Similarity.labelNdcg(s, d)),
    // — round-12 widening, batch 41: the lead/lag detector (q173's
    //   bivariate twin) and the robust trend slope (q174's partner) —
    "q189_ccf" -> ((s, d) => EventOps.crossCorrelation(s, d)),
    "q190_theil_sen" -> ((s, d) => EventOps.theilSen(s, d)),
    // — round-12 widening, batch 42: TPC-H Q7's two-dimension join
    //   shape and the Fightin'-Words corpus comparison —
    "q191_tpch_q7" -> ((s, d) => Relational.nationVolume(s, d)),
    "q192_log_odds" -> ((s, d) => TextAnalysis.logOddsTerms(s, d)),
    // — round-12 widening, batch 43: trend-aware smoothing (q186's
    //   partner) and the Good-Turing frequency spectrum (q83's) —
    "q193_holt" -> ((s, d) => EventOps.holtDaily(s, d)),
    "q194_good_turing" -> ((s, d) => TextAnalysis.goodTuring(s, d)),
    // — round-12 widening, batch 44: the two remaining canonical
    //   TPC-H join workouts expressible on this schema — Q8's
    //   seven-table market share and Q10's returned-item top-k —
    "q195_tpch_q8" -> ((s, d) => Relational.marketShare(s, d)),
    "q196_tpch_q10" -> ((s, d) => Relational.returnedItemRevenue(s, d)),
    // — round-12 widening, batch 45: TPC-H Q13's outer-join histogram
    //   (the k = 0 bin needs the LEFT join) and Q14's promo share —
    "q197_tpch_q13" -> ((s, d) => Relational.customerOrderDistribution(s, d)),
    "q198_tpch_q14" -> ((s, d) => Relational.promoRevenueShare(s, d)),
    // — round-12 widening, batch 46: TPC-H Q3's segment-driven top-k
    //   and Q18's HAVING-driven large-volume semi-join —
    "q199_tpch_q3" -> ((s, d) => Relational.shippingPriority(s, d)),
    "q200_tpch_q18" -> ((s, d) => Relational.largeVolumeCustomers(s, d)),
    // — round-13 batch 47: TPC-H Q15's max-revenue supplier (the
    //   CREATE VIEW + scalar subquery collapsed to one aggregate +
    //   broadcast max-match) and Q6's scan-dominated what-if — both
    //   landed in r12's final snapshot unregistered (VERDICT r12 #2) —
    "q201_tpch_q15" -> ((s, d) => Relational.topSupplier(s, d)),
    "q202_tpch_q6" -> ((s, d) => Relational.forecastRevenueChange(s, d)),
    // — round-13 batch 48: the rest of the TPC-H relational muscle,
    //   schema-adapted (no partsupp / receipt dates / phone — each
    //   scaladoc states the stand-in): Q2's correlated min-cost
    //   supplier, Q11's scalar-subquery HAVING, Q16's distinct-count
    //   with blacklist anti-join, Q20's nested-aggregate semi-join,
    //   Q21's double-EXISTS sole-late-shipper, Q22's idle customers —
    "q203_tpch_q2" -> ((s, d) => Relational.minCostSupplier(s, d)),
    "q204_tpch_q11" -> ((s, d) => Relational.importantStock(s, d)),
    "q205_tpch_q16" -> ((s, d) => Relational.partSupplierCounts(s, d)),
    "q206_tpch_q20" -> ((s, d) => Relational.partPromotion(s, d)),
    "q207_tpch_q21" -> ((s, d) => Relational.soleLateShipper(s, d)),
    "q208_tpch_q22" -> ((s, d) => Relational.idleCustomers(s, d)),
    // — round-13 batch 49: recall gates for the ungated ANN tiers
    //   (VERDICT r12 #5) — q87 audits only the sign-LSH index; these
    //   give IVF (q54), PQ (q92) and IVF-PQ (q95) each their own
    //   recall@k row against the exact brute-force top-k —
    "q209_ivf_recall" -> ((s, d) => Similarity.ivfRecall(s, d)),
    "q210_pq_recall" -> ((s, d) => Similarity.pqRecall(s, d)),
    "q211_ivfpq_recall" -> ((s, d) => Similarity.ivfPqRecall(s, d)),
    // — round-13 batch 50: the last five TPC-H shapes — with these,
    //   all 22 TPC-H queries exist on this schema (each scaladoc
    //   states its stand-in where partsupp/shipmode/receipt dates are
    //   absent): Q4's EXISTS semi-join, Q9's five-table profit
    //   rollup, Q12's conditional-count pivot, Q17's correlated
    //   per-part average, Q19's OR-of-ANDs bracket join —
    "q212_tpch_q4" -> ((s, d) => Relational.priorityChecking(s, d)),
    "q213_tpch_q9" -> ((s, d) => Relational.productProfit(s, d)),
    "q214_tpch_q12" -> ((s, d) => Relational.latePriorityCounts(s, d)),
    "q215_tpch_q17" -> ((s, d) => Relational.smallQuantityRevenue(s, d)),
    "q216_tpch_q19" -> ((s, d) => Relational.discountedRevenue(s, d)),
    // — round-13 batch 51: embedding serving infra — the power-method
    //   principal direction (PCA whitening / anisotropy), the int8
    //   quantization error budget, and the deterministic shard
    //   assignment + balance audit every training export needs —
    "q217_principal_component" -> ((s, d) => Similarity.principalComponent(s, d)),
    "q218_quant_audit" -> ((s, d) => Similarity.quantizationAudit(s, d)),
    "q219_shard_balance" -> ((s, d) => TextAnalysis.shardBalance(s, d)),
    // — round-13 batch 52: the anisotropy audit composing q217's
    //   direction, and the tokenizer fertility profile —
    "q220_source_anisotropy" -> ((s, d) => Similarity.sourceAnisotropy(s, d)),
    "q221_token_fertility" -> ((s, d) => TextAnalysis.tokenizerFertility(s, d)),
    // — round-13 batch 53: interval-weighted time-series fairness —
    "q222_twap" -> ((s, d) => EventOps.twapDaily(s, d)),
    // — round-13 batch 54: the scale twin for q25's all-pairs
    //   baseline (within-Lloyd-cell pair mining, the q80
    //   architecture) + its measured pair-recall audit —
    "q223_cell_pairs" -> ((s, d) => Similarity.thresholdPairsCell(s, d)),
    "q224_pair_recall" -> ((s, d) => Similarity.thresholdPairRecall(s, d)),
    // — round-13 batch 55: execute q70's mixture plan (integer
    //   quotas, md5-priority fill) and audit the realized take —
    "q225_mixture_sample" -> ((s, d) => TextAnalysis.mixtureSample(s, d)),
    // — round-14: the streaming tier enters the hash gate — each runs
    //   a Structured Streaming plan to completion (AvailableNow) and
    //   returns the materialized result; quantized integer sums make
    //   the nondeterministic micro-batch accumulation order irrelevant —
    "q226_stream_windows" -> ((s, d) => streaming.StreamQueries.windowedTotals(s, d)),
    "q227_stream_sessions" -> ((s, d) => streaming.StreamQueries.sessionTotals(s, d)),
    "q228_stream_dedup" -> ((s, d) => streaming.StreamQueries.dedupReplayAudit(s, d)),
    "q229_stream_join" -> ((s, d) => streaming.StreamQueries.joinedPairs(s, d)),
    "q230_stream_ingest" -> ((s, d) => streaming.StreamQueries.ingestAudit(s, d)),
    // — round-14 batch 2: interchange formats + partitioned layout —
    //   each is a REAL write→read round-trip through a temp dir; the
    //   oracle on the original parquet certifies the whole path
    "q231_orc_roundtrip" -> ((s, d) => sources.FormatOps.orcRoundtrip(s, d)),
    "q232_csv_roundtrip" -> ((s, d) => sources.FormatOps.csvRoundtrip(s, d)),
    "q233_partition_prune" -> ((s, d) => sources.FormatOps.partitionPrune(s, d)),
    // — round-14 batch 3: warehouse-maintenance + model-fit patterns —
    "q234_ols_trend" -> (EventOps.trendByType(_, _)),
    "q235_incr_merge" -> (EventOps.incrementalMerge(_, _)),
    "q236_scd2" -> (EventOps.scd2Dimension(_, _)),
    // — round-14 batch 4: bucketed layout + deterministic PPS sampling —
    "q237_bucketed_join" -> (Bucketing.colocatedRevenue(_, _)),
    "q238_pps_sample" -> ((s, d) => TextAnalysis.ppsSample(s, d)),
    // — round-14 batch 5: arbitrary keyed streaming state + the
    //   NULL-semantics cross-engine parity audit —
    "q239_stream_state" -> ((s, d) => streaming.StreamQueries.statefulTotals(s, d)),
    "q240_null_semantics" -> (EventOps.nullSemantics(_, _)),
    // — round-14 batch 6: mergeable sketches, model fitting, ranking
    //   metrics, graph reach, recommenders, forecast skill —
    "q241_kmv_distinct" -> ((s, d) => TextAnalysis.kmvDistinct(s, d)),
    "q242_logreg" -> ((s, d) => TextAnalysis.logisticFit(s, d)),
    "q243_avg_precision" -> ((s, d) => TextAnalysis.averagePrecision(s, d)),
    "q244_bfs_hops" -> ((s, d) => Dedup.bfsHops(s, d)),
    "q245_item_cf" -> ((s, d) => EventOps.itemNeighbors(s, d)),
    "q246_mase" -> ((s, d) => EventOps.seasonalMase(s, d)),
    // — round-14 batch 7: exact sub-quadratic set-similarity join —
    //   q22's TRUE scale twin: same result set, prefix-filtered
    //   candidates (OperatorSpec asserts set equality vs q22)
    "q247_prefix_jaccard" -> ((s, d) => Dedup.prefixJaccard(s, d)),
    // z-order data-skipping audit, join-view IVM, FD discovery
    "q248_zorder" -> ((s, d) => Bucketing.zorderAudit(s, d)),
    "q249_join_ivm" -> ((s, d) => Relational.joinIvm(s, d)),
    "q250_fd_audit" -> (Relational.fdAudit(_, _)),
    // Markov removal-effect attribution + categorical tail collapse
    "q251_markov_attribution" -> ((s, d) => EventOps.markovAttribution(s, d)),
    "q252_tail_collapse" -> ((s, d) => TextAnalysis.tailCollapse(s, d)),
    // log-free feature selection + consistent-hashing churn audit
    "q253_gini_gain" -> (TextAnalysis.giniGain(_, _)),
    "q254_rebalance_churn" -> (TextAnalysis.rebalanceChurn(_, _)),
    // ranked-head drift metric + parquet schema-evolution audit
    "q255_rbo" -> ((s, d) => TextAnalysis.rboSourceSimilarity(s, d)),
    "q256_schema_evolution" -> ((s, d) => sources.FormatOps.schemaEvolution(s, d)),
    // planner-statistics audit: histogram join-size estimate vs truth
    "q257_join_estimate" -> ((s, d) => Relational.joinEstimate(s, d)),
    // graph density backbone + sampling-estimator closure
    "q258_kcore" -> ((s, d) => Dedup.kcorePeel(s, d)),
    "q259_ht_estimate" -> ((s, d) => TextAnalysis.htEstimate(s, d)),
    // multiset near-dup scoring + broken-stick regime selection
    "q260_weighted_jaccard" -> ((s, d) => Dedup.weightedJaccard(s, d)),
    "q261_segmented_trend" -> ((s, d) => EventOps.segmentedTrend(s, d)),
    // sketch set-algebra, shuffle-strategy audit, submodular selection
    "q262_kmv_pair_sim" -> ((s, d) => TextAnalysis.kmvPairSim(s, d)),
    "q263_skew_audit" -> ((s, d) => SkewJoin.skewAudit(s, d)),
    "q264_set_cover" -> ((s, d) => TextAnalysis.setCoverSources(s, d)),
    // dimensionality-reduction trust gate + experiment variance reduction
    "q265_jl_distortion" -> ((s, d) => Similarity.jlDistortion(s, d)),
    "q266_cuped" -> ((s, d) => EventOps.cupedReadout(s, d)),
    // survey-design allocation + non-monoid IVM parity
    "q267_neyman" -> ((s, d) => TextAnalysis.neymanAllocation(s, d)),
    "q268_session_merge" -> ((s, d) => EventOps.sessionMergeParity(s, d)),
    // monotone calibration by the declarative PAVA closed form
    "q269_isotonic" -> ((s, d) => TextAnalysis.isotonicCalibration(s, d)),
    // forecast-evaluation triple over the calibrated buckets
    "q270_brier" -> ((s, d) => TextAnalysis.brierDecomposition(s, d)),
    // early-termination top-k merge depth (threshold algorithm)
    "q271_ta_depth" -> ((s, d) => TextAnalysis.taDepthAudit(s, d)),
    // batch 9: frequency sketches (order-free MG guarantees; exact CMS
    // replay), split/leakage, n-gram dup profile, PII gate, quantile norm
    "q272_heavy_hitters" -> ((s, d) => PipelineAudits.heavyHitterAudit(s, d)),
    "q273_countmin" -> ((s, d) => PipelineAudits.countMinAudit(s, d)),
    "q274_split_leakage" -> ((s, d) => PipelineAudits.splitLeakage(s, d)),
    "q275_ngram_dup" -> ((s, d) => PipelineAudits.ngramDupProfile(s, d)),
    "q276_pii_scan" -> ((s, d) => PipelineAudits.piiScan(s, d)),
    "q277_quantile_norm" -> ((s, d) => PipelineAudits.quantileNormAudit(s, d)),
    // batch 10: the stateless streaming join shape, exact two-sample
    // KS drift, k-anonymity release gate
    "q278_stream_static" -> ((s, d) => graft.streaming.StreamQueries.staticEnriched(s, d)),
    "q279_ks_drift" -> ((s, d) => PipelineAudits.ksDrift(s, d)),
    "q280_k_anonymity" -> ((s, d) => PipelineAudits.kAnonymity(s, d)),
    // batch 11: first-digit forensics, model-eval lift/gains, integer-
    // exact NDCG@10 (literal discount micro-units)
    "q281_benford" -> ((s, d) => PipelineAudits.benfordAudit(s, d)),
    "q282_lift_table" -> ((s, d) => PipelineAudits.liftTable(s, d)),
    "q283_ndcg" -> ((s, d) => PipelineAudits.ndcgAudit(s, d)),
    // batch 12: annotation agreement, threshold sweep, A/B z-test,
    // unseen-vocabulary estimate, postings storage pricing, training-
    // order mixing
    "q284_kappa" -> ((s, d) => PipelineAudits.cohensKappa(s, d)),
    "q285_mcc_sweep" -> ((s, d) => PipelineAudits.mccSweep(s, d)),
    "q286_ab_z" -> ((s, d) => PipelineAudits.abZTest(s, d)),
    "q287_chao1" -> ((s, d) => TextAnalysis.chao1Richness(s, d)),
    "q288_postings" -> ((s, d) => TextAnalysis.postingsStorageAudit(s, d)),
    "q289_mixing" -> ((s, d) => PipelineAudits.mixingAudit(s, d)),
    // batch 13: binned PSI drift, MDE design sensitivity, Wald SPRT
    // early-stopping depth, padding-waste bucketing, hour-band
    // chi-square independence
    "q290_psi_drift" -> ((s, d) => PipelineAudits.psiDrift(s, d)),
    "q291_mde" -> ((s, d) => PipelineAudits.mdeAudit(s, d)),
    "q292_sprt_depth" -> ((s, d) => PipelineAudits.sprtDepth(s, d)),
    "q293_padding" -> ((s, d) => TextAnalysis.paddingWasteAudit(s, d)),
    "q294_chi2_hours" -> ((s, d) => PipelineAudits.chi2Independence(s, d)),
    // batch 14 (r16): survival inference + time-series diagnostics —
    // the log-rank drill-in view over q138's KM construction, the
    // Durbin–Watson residual-independence check on q234's trend fit,
    // and classical 24-hour seasonal decomposition
    // BPE tokenizer merge training: 5 greedy supersteps over the
    // weighted word table, driver holds only the picked merges
    "q295_bpe_merges" -> ((s, d) => Tokenizer.bpeMerges(s, d)),
    // Lee et al. ExactSubstr twin: maximal contiguous shared spans
    // >= 12 tokens via anchored k-mer chains (content equi-join,
    // keyed diagonal window — never all-pairs)
    "q296_exact_substr" -> ((s, d) => Dedup.exactSubstrSpans(s, d)),
    "q297_log_rank" -> ((s, d) => EventOps.logRank(s, d)),
    "q298_durbin_watson" -> ((s, d) => EventOps.durbinWatson(s, d)),
    "q299_seasonal_decomp" -> ((s, d) => EventOps.seasonalDecomp(s, d)),
    // batch 15 (r16): the tokenizer's APPLY half + the ExactSubstr
    // headline rollup + the learned vocabulary's coverage curve
    "q300_bpe_apply" -> ((s, d) => Tokenizer.bpeApply(s, d)),
    "q301_dup_coverage" -> ((s, d) => Dedup.dupCoverage(s, d)),
    "q302_vocab_coverage" -> ((s, d) => Tokenizer.vocabCoverage(s, d)),
    // batch 16 (r16): exact W1 drift (the integral twin of q279's KS),
    // record-linkage blocking-quality audit of the LSH banding, and
    // the dedup impact report every production run ships
    "q303_w1_drift" -> ((s, d) => PipelineAudits.w1Drift(s, d)),
    "q304_blocking_audit" -> ((s, d) => Dedup.blockingAudit(s, d)),
    "q305_dedup_impact" -> ((s, d) => Dedup.dedupImpact(s, d)),
    // batch 17 (r16): cluster geometry, bipartite centrality, the
    // Fellegi-Sunter linkage scorer, and a fully-replayed AMS sketch
    "q306_silhouette" -> ((s, d) => Similarity.silhouette(s, d)),
    "q307_hits" -> ((s, d) => Relational.hits(s, d)),
    "q308_linkage_patterns" -> ((s, d) => Dedup.linkagePatterns(s, d)),
    "q309_ams_f2" -> ((s, d) => PipelineAudits.amsF2(s, d)),
    // batch 18 (r16): the Davies-Bouldin twin of q306, the causal
    // diff-in-diff estimator, and per-source dup-graph conductance
    "q310_davies_bouldin" -> ((s, d) => Similarity.daviesBouldin(s, d)),
    "q311_diff_in_diff" -> ((s, d) => EventOps.diffInDiff(s, d)),
    "q312_conductance" -> ((s, d) => Dedup.conductance(s, d)),
    // batch 19 (r16): storage-class content-defined chunking dedup,
    // the stratified CMH test, and the l-diversity privacy gate
    "q313_content_chunks" -> ((s, d) => Multimodal.contentChunks(s, d)),
    "q314_cmh" -> ((s, d) => PipelineAudits.cmh(s, d)),
    "q315_l_diversity" -> ((s, d) => PipelineAudits.lDiversity(s, d)),
    // batch 20 (r16): community detection, media-hash dedup, embedding
    // feature audit, an active DP mechanism, and sequence mining
    "q316_label_prop" -> ((s, d) => Dedup.labelProp(s, d)),
    "q317_phash_dedup" -> ((s, d) => Multimodal.phashDedup(s, d)),
    "q318_fisher_dims" -> ((s, d) => Similarity.fisherDims(s, d)),
    "q319_dp_laplace" -> ((s, d) => PipelineAudits.dpLaplace(s, d)),
    "q320_seq_patterns" -> ((s, d) => EventOps.seqPatterns(s, d)),
    // batch 21 (r16): model-based recommendation, the t-closeness
    // release gate, and a register-replayed HLL sketch
    "q321_als_rank1" -> ((s, d) => EventOps.alsRank1(s, d)),
    "q322_t_closeness" -> ((s, d) => PipelineAudits.tCloseness(s, d)),
    "q323_hll_replay" -> ((s, d) => PipelineAudits.hllReplay(s, d)),
    // batch 22 (r16): spectral token centrality, interval sweep-line
    // capacity peaks, and the pooled-vs-stratified honesty audit
    "q324_eigencentrality" -> ((s, d) => TextAnalysis.eigenCentrality(s, d)),
    "q325_concurrency" -> ((s, d) => EventOps.sessionConcurrency(s, d)),
    "q326_simpson" -> ((s, d) => PipelineAudits.simpson(s, d)),
    // batch 23 (r16): sequential-decision replay, calibration
    // weighting, and the referential-erasure impact statement
    "q327_ucb_replay" -> ((s, d) => EventOps.ucbReplay(s, d)),
    "q328_raking" -> ((s, d) => PipelineAudits.raking(s, d)),
    "q329_erasure_cascade" -> ((s, d) => PipelineAudits.erasureCascade(s, d)),
    // batch 24 (r16): temporal dimension probing, optimizer
    // statistics construction, and snapshot reconciliation
    "q330_pit_join" -> ((s, d) => EventOps.pitJoin(s, d)),
    "q331_equidepth_hist" -> ((s, d) => Relational.equiDepthHist(s, d)),
    "q332_snapshot_diff" -> ((s, d) => Dedup.snapshotDiff(s, d)),
    // batch 25 (r16): the sketch-mergeability certification
    "q333_hll_merge" -> ((s, d) => PipelineAudits.hllMerge(s, d)),
    // batch 26 (r17): the ExactSubstr scale levers wired — df-capped
    // anchor join with dropped-gram accounting (takes q296 off the
    // scale-killer list the way q45 took q22 off)
    "q334_exact_substr_capped" -> ((s, d) => Dedup.exactSubstrSpansCapped(s, d)),
    // the ExactSubstr CUT: the deduped corpus itself (survivor keeps
    // the span, positions re-joined in order, verbatim round-trip)
    "q337_substr_cut" -> ((s, d) => Dedup.exactSubstrCut(s, d)),
    // the q331 CBO loop closed: histogram-interpolated selectivity
    // estimates scored against exact recounts per pinned predicate
    "q335_selectivity_audit" -> ((s, d) => Relational.selectivityAudit(s, d)),
    // streaming HLL maintenance: per-micro-batch register partials
    // rename-published + read-side max-merge, gated bit-for-bit
    // against the whole-corpus batch registers (q333's theorem live)
    "q336_stream_hll" -> ((s, d) => streaming.StreamQueries.hllIngest(s, d)),
    // batch 28 (r17): one-pass multi-column ANALYZE, the measured
    // bloom join-prune filter, and the eval-set decontamination audit
    "q338_multi_col_stats" -> ((s, d) => Relational.multiColStats(s, d)),
    "q339_bloom_prune" -> ((s, d) => Relational.bloomPruneAudit(s, d)),
    "q340_contamination" -> ((s, d) => Dedup.evalContamination(s, d)),
    // batch 29 (r17): the ANALYZE tree-reduce certification and the
    // storage-encoding decision the stats feed
    "q341_stats_merge" -> ((s, d) => Relational.statsMergeCert(s, d)),
    "q342_encoding_advisor" -> ((s, d) => Relational.encodingAdvisor(s, d)),
    // batch 30 (r17): watermark late-data accounting, the purged
    // walk-forward temporal split, and Hamilton budget apportionment
    "q343_stream_late" -> ((s, d) => streaming.StreamQueries.lateDataAudit(s, d)),
    "q344_walk_forward" -> ((s, d) => EventOps.walkForwardSplit(s, d)),
    "q345_token_budget" -> ((s, d) => PipelineAudits.tokenBudget(s, d)),
    // batch 31 (r17): the LEFT OUTER stream-stream interval join —
    // watermark-driven null emission, measured retention rule
    "q346_stream_left_join" -> ((s, d) => streaming.StreamQueries.leftJoinedPairs(s, d)),
    // batch 32 (r17): the CBO loop's last two decisions — when to
    // re-ANALYZE (stale-stats drift gate) and which join runs first
    "q347_stats_freshness" -> ((s, d) => Relational.statsFreshness(s, d)),
    "q348_join_order" -> ((s, d) => Relational.joinOrderAdvisor(s, d)),
    // batch 33 (r17): the curation yield report and the q345 quotas
    // executed as a deterministic hash-order document sample
    "q349_pipeline_yield" -> ((s, d) => PipelineAudits.pipelineYield(s, d)),
    "q350_mixture_sample" -> ((s, d) => PipelineAudits.mixtureSample(s, d)),
    // batch 34 (r18): the cut and the coverage rollup COMPOSED with
    // the q334 capped anchor frame — the production ExactSubstr
    // artifacts now ride the bounded join (fixture-identical, cap
    // slack; accounting on every row, zero-span-safe)
    "q351_substr_cut_capped" -> ((s, d) => Dedup.exactSubstrCutCapped(s, d)),
    "q352_dup_coverage_capped" -> ((s, d) => Dedup.dupCoverageCapped(s, d)),
    // batch 35 (r18): the yield report priced through the span-cut
    // stage, and the incremental ANALYZE refresh (partials + merge ==
    // full recompute, the q347 consumer)
    "q353_yield_v2" -> ((s, d) => PipelineAudits.yieldV2(s, d)),
    "q354_stats_ivm" -> ((s, d) => Relational.statsIvm(s, d)),
    // batch 36 (r18): watermark-bounded streaming dedup — state
    // genuinely evicted, re-admission after TTL, late drops measured
    // (the probed dual-watermark protocol, oracle-replayed exactly)
    "q355_stream_dedup_ttl" -> ((s, d) => streaming.StreamQueries.dedupTtlAudit(s, d)),
    // batch 37 (r18): the first ENFORCED CBO decision — a registered
    // bloom bitmap becomes a pre-shuffle might_contain Filter via the
    // injected InjectBloomPrefilter optimizer rule (plan-pinned)
    "q356_bloom_join" -> ((s, d) => Relational.bloomPrefilteredJoin(s, d)),
    // q348's decision enforced: the stats-registered marker pulls the
    // selective customer join innermost via ReorderJoinByStats
    "q357_join_order_enforced" -> ((s, d) => Relational.joinOrderEnforced(s, d)),
    // batch 38 (r18): the decontamination CUT (q340's flags shipped
    // as a redacted artifact) and the shard-layout plan (exact global
    // token offsets via the two-pass cumsum, no global window)
    "q358_decontam_cut" -> ((s, d) => Dedup.decontamCut(s, d)),
    "q359_shard_plan" -> ((s, d) => PipelineAudits.shardPlan(s, d)),
    // batch 39 (r19): the CBO lifecycle PERSISTED — ANALYZE artifacts
    // rename-published once (StatsStore), the consumer registered
    // from the stored bitmap with zero build-side scans
    "q360_cbo_persisted" -> ((s, d) => Relational.cboPersisted(s, d)),
    // the TTL dedup composed with the ingest sink: bounded state
    // (genuine eviction + re-admission) feeding the per-batch-
    // idempotent NDJSON sink — the production 100 TB ingest shape
    "q361_stream_ingest_ttl" -> ((s, d) => streaming.StreamQueries.dedupTtlIngest(s, d)),
    // the q359 manifest EXECUTED: one parquet file per shard, read
    // back, round-trip conservation gated per shard
    "q362_shard_write" -> ((s, d) => PipelineAudits.shardWrite(s, d)),
    // the yield report ending where a curation run ends: gate 6 =
    // decontamination (eval slice out, eval-hit spans redacted)
    "q363_yield_v3" -> ((s, d) => PipelineAudits.yieldV3(s, d)),
    // batch 40 (r19): the rebuild-only histogram persisted — the
    // estimator consumes the stored 16-row artifact, zero rank passes
    "q364_hist_persisted" -> ((s, d) => Relational.histPersisted(s, d)),
    // q329's cascade EXECUTED: kept tables by referential anti/semi
    // joins, kept + cascade == total reconciled per nation in exact
    // integers and exact DECIMAL revenue
    "q365_erasure_exec" -> ((s, d) => PipelineAudits.erasureExec(s, d)),
    // batch 41 (r19): DYNAMIC partition pruning — the dim side's
    // data-dependent filter prunes fact day-directories at runtime
    // (dynamicpruningexpression plan-pinned in Batch29Spec)
    "q366_dpp_prune" -> ((s, d) => sources.FormatOps.dppPrune(s, d)),
    // exchange reuse: the count-of-counts histogram consumed twice by
    // a self-join, shuffled ONCE (ReusedExchange plan-pinned)
    "q367_exchange_reuse" -> ((s, d) => Relational.exchangeReuse(s, d)),
    // the fourth injected optimizer rule: a registered base-table
    // aggregate answered from the rename-published MV artifact —
    // zero lineitem scans in the rewritten plan (Batch29Spec)
    "q368_mv_rewrite" -> ((s, d) => Relational.mvRewrite(s, d)),
    // Adamic-Adar link prediction over the dup graph: degree-capped
    // common-neighbor wedges, order-pinned 1/ln(deg) fold, top-20
    "q369_adamic_adar" -> ((s, d) => Dedup.adamicAdar(s, d)),
    // aggregate IVM with RETRACTIONS (the Z-set form): signed-
    // multiplicity delta maintains count/sum, equality vs recompute
    // pinned with match flags
    "q370_retract_ivm" -> ((s, d) => EventOps.retractIvm(s, d)),
    // batch 42 (r19): the PIT family completed — as-of NEAREST with
    // tolerance via two running-extreme window passes (no range join)
    "q371_asof_nearest" -> ((s, d) => EventOps.asofNearest(s, d)),
    // the q368 MV maintained BY THE STREAM: per-epoch rename-published
    // DECIMAL partials (exactly-once by artifact, not by idempotence),
    // merged rollup == batch MV in exact decimal
    "q372_stream_mv" -> ((s, d) => streaming.StreamQueries.mvIngest(s, d)),
    // coordinated (join-consistent) sampling: hash-of-key samples of
    // both fact tables join to EXACTLY the key-sample of the join
    "q373_consistent_sample" -> ((s, d) => Relational.consistentSample(s, d)),
    // the dedup KEEP decision made quality-aware: per near-dup
    // cluster, the highest-q31-quality representative + token books
    "q374_cluster_rep" -> ((s, d) => Dedup.clusterRep(s, d)),
    // batch 43 (r19): the IVM triangle completed — an aggregate OVER A
    // JOIN maintained under deletes on both inputs (the full Z-set
    // product rule, incl. the ΔO⋈ΔL correction term)
    "q375_join_retract_ivm" -> ((s, d) => Relational.joinRetractIvm(s, d)),
    // q175 unpivot's inverse: daily value sums pivoted by event type
    // (explicit value list — one keyed aggregate, schema pinned)
    "q376_pivot" -> ((s, d) => Relational.pivotDaily(s, d)),
    // q86's CDC merge AS A STREAM: per-epoch read-modify-write over
    // immutable rename-published states (replay = recompute), final
    // state == the declarative last-op-wins fold
    "q377_stream_cdc" -> ((s, d) => streaming.StreamQueries.cdcApply(s, d)),
    // batch 44 (r20): FILTER COMPENSATION in the MV rewrite — the
    // consumer's grouping-column slice, pushed below the marked
    // projection by the main optimizer, is pulled back up, proven to
    // commute with the aggregation, and applied to the rollup; the
    // plan still carries zero lineitem scans (Batch31Spec)
    "q378_mv_filter_comp" -> ((s, d) => Relational.mvRewriteFiltered(s, d)),
    // dimension-DROPPING derivability from the same daily MV (the
    // month dimension summed out), under TWO live registrations whose
    // signatures keep them from cross-answering, composed with the
    // q378 slice compensation on the one remaining grouping column
    "q379_mv_dim_drop" -> ((s, d) => Relational.mvRewriteDimDrop(s, d)),
    // the MV lifecycle CLOSED: the q372 maintenance stream's epoch
    // partials are merged into the artifact, registered, and the
    // base-table consumer is answered from the stream-built MV — the
    // fact table scanned by nobody but the ingest (Batch31Spec pin)
    "q380_mv_serve" -> ((s, d) => streaming.StreamQueries.mvServe(s, d))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables — one entry per query, no rows-only rows
    * left.  The two sketch queries (q33 HLL, q58 GK) are audit-form:
    * engine-specific sketch internals never reach the output; instead
    * Spark verifies the sketch's error contract against its own exact
    * recount and emits exact values + 0/1 flags that DuckDB's exact
    * SQL (with literal 1s) hash-matches.  (q34's stub decode became
    * oracle-able in round 11: the payload fixture is ASCII text, so
    * the byte math is pure SQL.)
    */
  def oracleSql: Map[String, String] = oraclesA ++ oraclesB ++ oraclesC
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every key in [[queries]] is a deterministic query (total-order `orderBy`,
  * rounded float aggregates, UTC session timezone) over the test tables at
  * `\$dir/<table>.parquet`. [[oracleSql]] holds the ANSI-conservative DuckDB
  * equivalent; keys without an oracle get the driver's weaker rows-only check.
  * Column names are aliased identically on both sides (the driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped pricing summary — the reference pipeline's semantic core
    * (scan → filter → derive → aggregate; SURVEY.md §7.1). */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.chunkedAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_limit"     -> (RelationalOps.scanLimit _),
    "q_filter_ne"      -> (RelationalOps.filterNe _),
    "q_isin_count"     -> (RelationalOps.isinCount _),
    "q_cast_timestamp" -> (RelationalOps.castTimestamp _),
    "q_schema_only"    -> (RelationalOps.schemaOnly _),
    "q_derived_name"   -> (RelationalOps.derivedName _),
    "q_partition_agg"  -> (RelationalOps.partitionAgg _),
    "q_chunked_agg"    -> (RelationalOps.chunkedAgg _),
    "q_join_enrich"    -> (JoinOps.joinEnrich _),
    "q_join_agg"       -> (JoinOps.joinAgg _),
    "q_semi_join"      -> (JoinOps.semiJoin _),
    "q_anti_join"      -> (JoinOps.antiJoin _),
    "q_topk"           -> (JoinOps.topK _),
    "q_window_agg"     -> (EventOps.windowAgg _),
    "q_json_extract"   -> (EventOps.jsonExtract _),
    "q_text_stats"     -> (TextOps.textStats _),
    "q_token_count"    -> (TextOps.tokenCount _),
    "q_lang_id"        -> (TextOps.langId _),
    "q_quality_score"  -> (TextOps.qualityScore _),
    "q_fingerprint"    -> (TextOps.fingerprintDocs _),
    "q_dedup_exact"    -> (DedupOps.dedupExact _),
    // CONTRAST DIAL: uncapped shingle buckets grow with boilerplate volume
    // (SCALE.md: e=1.65 at 100×); q_dedup_ngram_capped is the primary form.
    "q_dedup_ngram"    -> (DedupOps.dedupNgram _),
    "q_dedup_minhash"  -> (DedupOps.dedupMinhash _),
    // oracle-checked since round 9: the salted md5-60 signature family and
    // exact-value band keys are reproducible in DuckDB (minhashCtes)
    "q_minhash_recall" -> ((s, d) => DedupOps.minhashRecallAudit(s, d)),
    "q_dedup_simhash"  -> (DedupOps.dedupSimhash _),
    "q_dedup_embed"    -> (DedupOps.dedupEmbed _),
    "q_sim_topk"       -> (SimilarityOps.simTopK _),
    "q_sim_lsh"        -> (SimilarityOps.simLsh _),
    "q_multimodal_meta" -> (MultimodalOps.multimodalMeta _),
    "q_audio_trim"     -> ((s, d) => MultimodalOps.audioTrim(s, d)),
    "q_union"          -> (SetOps.unionOrders _),
    "q_intersect"      -> (SetOps.intersectCustomers _),
    "q_except"         -> (SetOps.exceptCustomers _),
    "q_distinct"       -> (SetOps.distinctStatus _),
    "q_rollup"         -> (AnalyticsOps.rollupAgg _),
    "q_window_analytics" -> (AnalyticsOps.windowAnalytics _),
    "q_pivot"          -> (AnalyticsOps.pivotStatus _),
    "q_null_handling"  -> (AnalyticsOps.nullHandling _),
    "q_string_funcs"   -> (AnalyticsOps.stringFuncs _),
    "q_date_funcs"     -> (AnalyticsOps.dateFuncs _),
    "q_math_funcs"     -> (AnalyticsOps.mathFuncs _),
    "q_array_funcs"    -> (AnalyticsOps.arrayFuncs _),
    "q_asof_join"      -> (AsOfJoinOps.eventsAsOf _),
    "q_cube"           -> (AnalyticsOps.cubeAgg _),
    "q_range_join"     -> (AnalyticsOps.rangeJoin _),
    "q_stats_agg"      -> (AnalyticsOps.statsAgg _),
    // CONTRAST DIAL (r15): exact per-group percentile = O(n) agg state;
    // q_stats_agg_sketch is the declared 100 TB primary.
    "q_stats_agg_sketch" -> (AnalyticsOps.statsAggSketch _),
    "q_token_bpe"      -> (TextOps.tokenCountBpe _),
    "q_sessionize"     -> (EventOps.sessionAgg _),
    "q_topk_custom"    -> (JoinOps.topKCustom _),
    "q_sim_ivf"        -> (IvfOps.simIvf _),
    "q_interval_join"  -> (EventOps.viewToPurchase _),
    "q_approx_stats"   -> (SketchOps.approxStatsAudit _),
    "q_dedup_clusters" -> (DedupOps.dedupClustersQuery _),
    // CONTRAST DIAL: pair-enumerating output is inherently quadratic in
    // cluster size (SCALE.md: e=2.0 output-bound); q_dedup_embed_rep is
    // the primary form.
    "q_dedup_embed_lsh" -> (DedupOps.dedupEmbedLsh _),
    // PRIMARY form of embedding near-dup: per-item representative output
    // on the same LSH buckets — flat output size, no pair enumeration.
    "q_dedup_embed_rep" -> (DedupOps.dedupEmbedRep _),
    "q_grouping_sets"  -> (AnalyticsOps.groupingSetsAgg _),
    "q_skew_join"      -> (JoinOps.skewJoinAgg _),
    "q_chunk_docs"     -> (CorpusOps.chunkDocs _),
    "q_sample_hash"    -> (CorpusOps.sampleByHash _),
    "q_pii_redact"     -> (CorpusOps.piiRedact _),
    "q_vocab_topk"     -> (CorpusOps.vocabTopK _),
    "q_explode_tokens" -> (CorpusOps.explodeTokens _),
    "q_udaf_stats"     -> (AnalyticsOps.udafStats _),
    "q_union_by_name"  -> (SetOps.unionByNameOrders _),
    "q_window_range"   -> (EventOps.windowRange _),
    "q_outer_join"     -> (JoinOps.outerJoin _),
    "q_subquery_agg"   -> (AnalyticsOps.subqueryAgg _),
    "q_string_agg"     -> (AnalyticsOps.stringAgg _),
    "q_regex_funcs"    -> (AnalyticsOps.regexFuncs _),
    "q_window_nav"     -> (AnalyticsOps.windowNav _),
    "q_having"         -> (AnalyticsOps.havingAgg _),
    "q_map_funcs"      -> (AnalyticsOps.mapFuncs _),
    "q_struct_funcs"   -> (AnalyticsOps.structFuncs _),
    "q_cross_grid"     -> (AnalyticsOps.crossGrid _),
    "q_tfidf"          -> (CorpusOps.tfidfTop _),
    "q_latest_event"   -> (EventOps.latestEvent _),
    "q_ohlc"           -> (EventOps.ohlc _),
    "q_theil_sen"      -> (EventOps.theilSen _),
    "q_watermark_sim"  -> ((s, d) => EventOps.watermarkSim(s, d)),
    "q_skew_audit"     -> ((s, d) => JoinOps.skewAudit(s, d)),
    "q_card_est"       -> ((s, d) => JoinOps.cardEst(s, d)),
    "q_unpivot"        -> (AnalyticsOps.unpivotStatus _),
    "q_corr_stats"     -> (AnalyticsOps.corrStats _),
    "q_date_spine"     -> (AnalyticsOps.dateSpine _),
    "q_lambda_funcs"   -> (AnalyticsOps.lambdaFuncs _),
    // CONTRAST DIAL, not the production shape: 2-char blocks are fixed in
    // number, so candidate pairs grow quadratically with corpus size
    // (SCALE.md: e=1.93 salted). Kept as a measured-limit variant for
    // recall comparison; q_edit_distance_blocked below is the primary form.
    "q_edit_distance"  -> ((s, d) => AnalyticsOps.editDistancePairs(s, d)),
    // PRIMARY form of the edit-distance fuzzy join: 4-char blocking keys
    // grow in NUMBER with the corpus (blocks stay bounded in size), so
    // candidates scale ~linearly (SCALE.md e≈1.0); recall tradeoff is
    // edits inside chars 3-4 only.
    "q_edit_distance_blocked" ->
      ((s, d) => AnalyticsOps.editDistancePairs(s, d, blockChars = 4)),
    "q_histogram"      -> (AnalyticsOps.histogram _),
    "q_normalize"      -> (AnalyticsOps.normalize _),
    "q_session_window" -> (EventOps.sessionWindowAgg _),
    "q_event_funnel"   -> (EventOps.eventFunnel _),
    "q_rolling_rows"   -> (EventOps.rollingRows _),
    "q_minmax_by"      -> (AnalyticsOps.minmaxBy _),
    "q_window_rank"    -> (AnalyticsOps.windowRank _),
    "q_null_safe_join" -> (JoinOps.nullSafeJoin _),
    "q_ngram_freq"     -> ((s, d) => CorpusOps.ngramFreq(s, d)),
    "q_vocab_coverage" -> ((s, d) => CorpusOps.vocabCoverage(s, d)),
    "q_dedup_normkey"  -> (DedupOps.dedupNormKey _),
    "q_repetition"     -> (TextOps.repetitionStats _),
    "q_stratified_sample" -> (CorpusOps.stratifiedSample _),
    "q_sample_group"   -> ((s, d) => CorpusOps.samplePerGroup(s, d)),
    "q_doc_dupe_rate"  -> (CorpusOps.docDupeRate _),
    "q_bloom_join"     -> ((s, d) => JoinOps.bloomSemiJoinAgg(s, d)),
    "q_weighted_sample" -> (CorpusOps.weightedSample _),
    "q_upsert"         -> (RelationalOps.upsertOrders _),
    "q_decontaminate"  -> ((s, d) => CorpusOps.decontaminate(s, d)),
    "q_source_mix"     -> (CorpusOps.sourceMix _),
    // oracle-checked; CorpusOpsSpec additionally pins a hand-rolled
    // reference packing
    "q_pack"           -> ((s, d) => CorpusOps.packSequences(s, d)),
    "q_embed_quant"    -> (SimilarityOps.quantizeEmbeddings _),
    "q_dedup_para"     -> (CorpusOps.segmentDedup _),
    "q_repeated_ngrams" -> ((s, d) => CorpusOps.repeatedNgrams(s, d)),
    "q_shard"          -> (CorpusOps.shardAssign _),
    "q_epoch_shuffle"  -> ((s, d) => CorpusOps.epochShuffle(s, d)),
    "q_t_closeness"    -> (StatOps.tCloseness _),
    "q_jarque_bera"    -> (StatOps.jarqueBera _),
    "q_grubbs"         -> (StatOps.grubbs _),
    "q_partial_corr"   -> (StatOps.partialCorr _),
    "q_friedman"       -> (StatOps.friedman _),
    "q_cusum"          -> (EventOps.cusum _),
    "q_ewma_control"   -> (EventOps.ewmaControl _),
    "q_peak_detect"    -> (EventOps.peakDetect _),
    "q_stl_anomaly"    -> (EventOps.stlAnomaly _),
    "q_cronbach_alpha" -> (TextOps.cronbachAlpha _),
    "q_char_profile"   -> (TextOps.charProfile _),
    "q_clv"            -> ((s, d) => AnalyticsOps.clv(s, d)),
    "q_adamic_adar"    -> ((s, d) => GraphOps.adamicAdar(s, d)),
    "q_chow_test"      -> (StatOps.chowTest _),
    "q_tost"           -> ((s, d) => StatOps.tost(s, d)),
    "q_acf_pacf"       -> (StatOps.acfPacf _),
    "q_granger"        -> (StatOps.granger _),
    "q_cohens_d"       -> (StatOps.cohensD _),
    "q_entropy_rate"   -> (TextOps.entropyRate _),
    "q_hapax"          -> (TextOps.hapaxRatio _),
    "q_kl_drift"       -> (EventOps.klDrift _),
    "q_pq_distortion"  -> ((s, d) => PqOps.pqDistortion(s, d)),
    "q_hill_tail"      -> ((s, d) => StatOps.hillTail(s, d)),
    "q_gumbel_fit"     -> (EventOps.gumbelFit _),
    "q_record_count"   -> (EventOps.recordCount _),
    "q_runs_test"      -> (EventOps.runsTest _),
    "q_cooccur"        -> ((s, d) => CorpusOps.cooccurPmi(s, d)),
    "q_clean_pipeline" -> (CorpusOps.cleanPipeline _),
    "q_dedup_incr"     -> ((s, d) => DedupOps.dedupIncremental(s, d)),
    // incremental NEAR-dup: batch probes the corpus band index — never a
    // corpus self-join (the production crawl-drop dedup shape)
    "q_dedup_incr_near" -> ((s, d) => DedupOps.dedupIncrNear(s, d)),
    // oracle-checked since round 9 (md5-60 signatures, 4×15 banding);
    // DedupSpec additionally proves exact equality with all-pairs Hamming
    // ground truth (the 4-band pigeonhole is exact for Hamming ≤ 3)
    "q_simhash_pairs"  -> (DedupOps.dedupSimhashPairs _),
    "q_unigram_logprob" -> (TextOps.unigramLogprob _),
    "q_knn_label"      -> ((s, d) => SimilarityOps.knnLabel(s, d)),
    "q_winsorize"      -> (AnalyticsOps.winsorize _),
    // CONTRAST DIAL (r15): exact global percentile; sketch primary below.
    "q_winsorize_sketch" -> (AnalyticsOps.winsorizeSketch _),
    "q_bigram_logprob" -> (TextOps.bigramLogprob _),
    "q_mad_outlier"    -> (AnalyticsOps.madOutlier _),
    // CONTRAST DIAL (r15): two exact-percentile buffers; sketch primary.
    "q_mad_outlier_sketch" -> (AnalyticsOps.madOutlierSketch _),
    "q_quality_deciles" -> (TextOps.qualityDeciles _),
    "q_cohort"         -> (EventOps.cohortRetention _),
    "q_interpolate"    -> (EventOps.interpolateSeries _),
    "q_rfm"            -> (AnalyticsOps.rfmSegments _),
    "q_token_entropy"  -> (TextOps.tokenEntropy _),
    "q_temperature_mix" -> ((s, d) => CorpusOps.temperatureMix(s, d)),
    "q_split"          -> (CorpusOps.splitReport _),
    "q_zscore_anomaly" -> (EventOps.zscoreAnomaly _),
    "q_lag_features"   -> (EventOps.lagFeatures _),
    "q_label_balance"  -> (SimilarityOps.labelBalance _),
    "q_group_zscore"   -> (AnalyticsOps.groupZscore _),
    "q_benford"        -> (AnalyticsOps.benfordProfile _),
    "q_autocorr"       -> (EventOps.autocorrHourly _),
    "q_null_profile"   -> (RelationalOps.nullProfile _),
    "q_chi2"           -> (AnalyticsOps.chiSquareCrosstab _),
    "q_percentile_profile" -> (AnalyticsOps.percentileProfile _),
    // CONTRAST DIAL (same quadratic 2-char-block limit as q_edit_distance;
    // SCALE.md). q_fuzzy_jw_blocked below is the primary form.
    "q_fuzzy_jw"       -> ((s, d) => AnalyticsOps.jaroWinklerPairs(s, d)),
    // PRIMARY form of the Jaro-Winkler fuzzy join: 4-char blocks grow in
    // number, not size, so candidates scale ~linearly with the corpus.
    "q_fuzzy_jw_blocked" ->
      ((s, d) => AnalyticsOps.jaroWinklerPairs(s, d, blockChars = 4)),
    "q_embed_stats"    -> (SimilarityOps.embedDimStats _),
    "q_funnel3"        -> (EventOps.funnel3 _),
    "q_quality_logistic" -> (TextOps.qualityLogistic _),
    "q_chunk_stride"   -> ((s, d) => CorpusOps.chunkDocsStrided(s, d)),
    "q_sparse_sim"     -> ((s, d) => SimilarityOps.sparseSimPairs(s, d)),
    "q_event_paths"    -> ((s, d) => EventOps.eventPaths(s, d)),
    "q_zipf"           -> ((s, d) => CorpusOps.zipfFit(s, d)),
    "q_weekly_profile" -> (EventOps.weeklyProfile _),
    "q_js_divergence"  -> ((s, d) => CorpusOps.jsDivergence(s, d)),
    "q_markov"         -> (EventOps.transitionMatrix _),
    "q_changepoint"    -> (EventOps.changepoint _),
    "q_bm25"           -> ((s, d) => RetrievalOps.bm25TopK(s, d)),
    "q_rrf"            -> ((s, d) => RetrievalOps.rrfFusion(s, d)),
    "q_gopher_rules"   -> (TextOps.gopherRules _),
    "q_readability"    -> (TextOps.readability _),
    "q_ema"            -> ((s, d) => EventOps.emaValue(s, d)),
    "q_ttest"          -> (AnalyticsOps.welchTTest _),
    "q_confusion"      -> ((s, d) => SimilarityOps.knnConfusion(s, d)),
    "q_psi"            -> ((s, d) => CorpusOps.psiSource(s, d)),
    // oracle-checked since round 9: the merge recurrence unrolls as 30
    // MATERIALIZED CTE rounds (bpeCtes); CorpusOpsSpec keeps the
    // hand-computed ground-truth merges as a pin
    "q_bpe_vocab"      -> ((s, d) => CorpusOps.bpeVocab(s, d)),
    // oracle-checked since round 9 (rank-order replace chain — provably
    // equals the lowest-present loop); CorpusOpsSpec keeps the
    // unseen-word segmentation pin
    "q_bpe_segment"    -> ((s, d) => CorpusOps.bpeSegmentTokens(s, d)),
    // oracle-checked since round 8 (unrolled-Lloyd CTE); DedupSpec pins
    // the drop set to exact all-pairs cosine ground truth
    "q_semdedup"       -> (DedupOps.semDedupQuery _),
    // rows-only: DataSketches HLL registers are engine-specific; SketchSpec
    // proves union-of-group-sketches == direct global sketch exactly, and
    // bounds each estimate vs exact COUNT(DISTINCT)
    "q_hll_rollup"     -> (SketchOps.hllRollupAudit _),
    "q_graph_degree"   -> (GraphOps.graphDegree _),
    "q_triangles"      -> ((s, d) => GraphOps.triangleTop(s, d)),
    // fixed-iteration rank loop: 5 unrolled CTEs oracle it; GraphOpsSpec
    // additionally pins ranks to a driver-local reference implementation
    "q_pagerank"       -> ((s, d) => GraphOps.pageRank(s, d)),
    "q_graph_lpa"      -> ((s, d) => GraphOps.labelPropagation(s, d)),
    "q_ks_test"        -> (StatOps.ksTest _),
    "q_mannwhitney"    -> (StatOps.mannWhitney _),
    "q_scd2"           -> (RelationalOps.scd2 _),
    "q_hard_negative"  -> ((s, d) => SimilarityOps.hardNegatives(s, d)),
    "q_frame_sample"   -> (MultimodalOps.frameSample _),
    "q_zorder"         -> (RelationalOps.zorderLayout _),
    "q_skip_audit"     -> (RelationalOps.skipAudit _),
    "q_pit_join"       -> ((s, d) => RelationalOps.pitJoin(s, d)),
    "q_incr_join"      -> (RelationalOps.incrJoinRollup _),
    "q_rank_eval"      -> ((s, d) => RetrievalOps.rankEval(s, d)),
    "q_dp_topk"        -> ((s, d) => StatOps.dpTopK(s, d)),
    "q_calibration"    -> (TextOps.calibration _),
    "q_quality_train"  -> ((s, d) => TextOps.qualityTrain(s, d)),
    // oracle-checked since round 9 (plane-literal LSH + unrolled-Lloyd
    // IVF, annRecallSql); AnnRecallSpec pins recall floors and determinism
    "q_ann_recall"     -> ((s, d) => SimilarityOps.annRecall(s, d)),
    // oracle-checked since round 9 (per-subspace unrolled Lloyd, pqAnnSql);
    // PqSpec pins recall@10 vs the exact baseline and re-rank exactness
    "q_pq_ann"         -> ((s, d) => PqOps.pqTopK(s, d)),
    "q_lift"           -> ((s, d) => GraphOps.liftPairs(s, d)),
    "q_abtest"         -> (StatOps.abTest _),
    // oracle-checked (recursive-CTE transitive closure); DedupSpec pins
    // clusters to a driver union-find over the same scored edges
    "q_entity_match"   -> ((s, d) => DedupOps.entityMatch(s, d)),
    // CONTRAST DIAL (r15 re-spot e=1.35): uncapped block join; the capped
    // form below is the declared 100 TB primary.
    "q_entity_match_capped" -> ((s, d) => DedupOps.entityMatchCapped(s, d)),
    "q_debounce"       -> ((s, d) => EventOps.debounce(s, d)),
    // oracle-checked: the declared 2^15 map provably never purges at
    // shipped SFs, so heavy hitters equal the exact frequency table;
    // SketchSpec additionally bounds the purge regime
    "q_heavy_hitters"  -> ((s, d) => SketchOps.heavyHitters(s, d)),
    "q_bootstrap"      -> ((s, d) => StatOps.bootstrapMean(s, d)),
    "q_incr_rollup"    -> (RelationalOps.incrRollup _),
    "q_anova"          -> (StatOps.anova _),
    "q_k_anonymity"    -> ((s, d) => StatOps.kAnonymity(s, d)),
    "q_entropy_ldiv"   -> ((s, d) => StatOps.entropyLDiversity(s, d)),
    "q_skyline"        -> (AnalyticsOps.skyline _),
    "q_mutual_info"    -> (CorpusOps.mutualInfo _),
    "q_dsir"           -> ((s, d) => CorpusOps.dsir(s, d)),
    "q_snapshot_diff"  -> (RelationalOps.snapshotDiff _),
    "q_attribution"    -> ((s, d) => EventOps.attribution(s, d)),
    // round 11: position-based (U-shaped) multi-touch attribution —
    // exact-decimal weighted sums so the aggregate is order-free
    "q_attribution_position" -> ((s, d) => EventOps.attributionPosition(s, d)),
    "q_graph_cc"       -> ((s, d) => GraphOps.brandComponents(s, d)),
    "q_stl_decompose"  -> (EventOps.stlDecompose _),
    "q_link_predict"   -> ((s, d) => GraphOps.linkPredict(s, d)),
    "q_tpch_q2"        -> (JoinOps.tpchQ2 _),
    "q_tpch_q3"        -> (JoinOps.tpchQ3 _),
    "q_tpch_q4"        -> ((s, d) => JoinOps.tpchQ4(s, d)),
    "q_tpch_q9"        -> (JoinOps.tpchQ9 _),
    "q_tpch_q11"       -> ((s, d) => JoinOps.tpchQ11(s, d)),
    "q_tpch_q16"       -> (JoinOps.tpchQ16 _),
    "q_tpch_q20"       -> ((s, d) => JoinOps.tpchQ20(s, d)),
    "q_tpch_q12"       -> ((s, d) => JoinOps.tpchQ12(s, d)),
    "q_tpch_q21"       -> ((s, d) => JoinOps.tpchQ21(s, d)),
    "q_doremi"         -> ((s, d) => CorpusOps.doremi(s, d)),
    "q_tpch_q18"       -> ((s, d) => JoinOps.tpchQ18(s, d)),
    "q_tpch_q10"       -> ((s, d) => JoinOps.tpchQ10(s, d)),
    "q_tpch_q6"        -> (JoinOps.tpchQ6 _),
    "q_tpch_q7"        -> (JoinOps.tpchQ7 _),
    "q_tpch_q14"       -> (JoinOps.tpchQ14 _),
    "q_tpch_q22"       -> ((s, d) => JoinOps.tpchQ22(s, d)),
    "q_tpch_q1"        -> ((s, d) => JoinOps.tpchQ1(s, d)),
    "q_tpch_q5"        -> ((s, d) => JoinOps.tpchQ5(s, d)),
    "q_tpch_q8"        -> ((s, d) => JoinOps.tpchQ8(s, d)),
    "q_tpch_q13"       -> (JoinOps.tpchQ13 _),
    "q_tpch_q15"       -> ((s, d) => JoinOps.tpchQ15(s, d)),
    "q_tpch_q17"       -> ((s, d) => JoinOps.tpchQ17(s, d)),
    "q_tpch_q19"       -> (JoinOps.tpchQ19 _),
    "q_theta_audience" -> ((s, d) => SketchOps.thetaAudience(s, d)),
    "q_resize_meta"    -> (MultimodalOps.resizeMeta _),
    // oracle-checked since round 9 (md5-digest stub features);
    // MultimodalSpec pins shape/determinism/range and the sampling
    // underneath is hash-checked by q_frame_sample
    "q_frame_features" -> (MultimodalOps.frameFeatures _),
    "q_augment"        -> (CorpusOps.augmentDropout _),
    "q_dp_noise"       -> (StatOps.dpNoisyCounts _),
    "q_holt"           -> ((s, d) => EventOps.holtSmooth(s, d)),
    "q_seasonal_naive" -> ((s, d) => EventOps.seasonalNaive(s, d)),
    "q_pareto"         -> (AnalyticsOps.paretoConcentration _),
    "q_order_gaps"     -> (AnalyticsOps.orderGaps _),
    "q_lang_purity"    -> (CorpusOps.langPurity _),
    "q_dedup_report"   -> (CorpusOps.dedupReport _),
    // PRIMARY form of n-gram Jaccard near-dup: the df≤16 cap bounds every
    // shingle bucket, so candidate pairs scale sub-linearly (SCALE.md
    // e=0.55 at 100× vs e=1.65 uncapped — see q_dedup_ngram contrast dial)
    "q_dedup_ngram_capped" -> ((s, d) => DedupOps.dedupNgramCapped(s, d)),
    "q_dedup_survivor" -> (DedupOps.dedupSurvivor _),
    "q_dup_span_frac"  -> ((s, d) => CorpusOps.dupSpanFrac(s, d)),
    // acting counterpart of the span audit: delete the duplicated spans,
    // keep the rest of the document (Lee et al. 2022 exact-substring dedup)
    "q_dedup_spans"    -> ((s, d) => CorpusOps.removeDupSpans(s, d)),
    "q_source_overlap" -> ((s, d) => CorpusOps.sourceOverlap(s, d)),
    "q_lang_confusion" -> (TextOps.langConfusion _),
    "q_ppl_buckets"    -> (TextOps.pplBuckets _),
    "q_embed_drift"    -> (SimilarityOps.embedDrift _),
    "q_token_fertility" -> (TextOps.tokenFertility _),
    "q_ttr"            -> (TextOps.typeTokenRatio _),
    // l-diversity audit — the homogeneity-attack companion to q_k_anonymity
    "q_l_diversity"    -> ((s, d) => StatOps.lDiversity(s, d)),
    // asymmetric containment near-dup (excerpt/superset detection) on the
    // df-capped shingle machinery — capped-primary from day one
    "q_ngram_containment" -> ((s, d) => DedupOps.dedupContainment(s, d)),
    // cross-split contamination audit over q_split's hash assignment
    "q_split_leakage"  -> ((s, d) => CorpusOps.splitLeakage(s, d)),
    "q_dataset_card"   -> (CorpusOps.datasetCard _),
    "q_compaction_plan" -> ((s, d) => RelationalOps.compactionPlan(s, d)),
    // oracle-checked since round 8 (unrolled-Lloyd CTE); IvfSpec pins
    // determinism, containment, and the ALL-row arithmetic
    "q_cluster_purity" -> ((s, d) => IvfOps.clusterPurity(s, d)),
    // PCA spectrum of the embedding corpus (rows-only: driver eigensolver;
    // SimilaritySpec pins it to exact small-case + trace/ratio invariants)
    "q_embed_pca"      -> ((s, d) => SimilarityOps.embedPca(s, d)),
    // Cavnar-Trenkle char-trigram lang classification, corpus-trained
    // rank profiles, integer scoring (exactly reproducible argmax)
    "q_lang_trigram"   -> ((s, d) => TextOps.langTrigram(s, d)),
    // acting counterpart of q_temperature_mix: per-source sampling plan
    // (target tokens, epochs, sample rate, over-repetition flag) for a
    // 2x-corpus token budget
    "q_data_recipe"    -> ((s, d) => CorpusOps.dataRecipe(s, d)),
    // data-valuation twin of q_dup_span_frac: per-doc fraction of 5-grams
    // first contributed by that doc (min-doc_id ownership)
    "q_gram_novelty"   -> ((s, d) => CorpusOps.gramNovelty(s, d)),
    // cross-modal curation: embedding near-dup pairs whose captions
    // DIVERGE (vec_id = doc_id as the media<->caption key stand-in).
    // CONTRAST BASELINE: the exact top-k cosine core is quadratic
    // (SCALE.md e=1.63); q_caption_dedup_lsh below is the scale path.
    "q_caption_dedup"  -> ((s, d) => MultimodalOps.captionDedup(s, d)),
    // PRIMARY scale form: same caption join on LSH sign-bucket candidate
    // pairs (oracle-checked since round 9 — hyperplane-literal buckets;
    // spec-pinned subset-of-exact)
    "q_caption_dedup_lsh" -> ((s, d) => MultimodalOps.captionDedupLsh(s, d)),
    "q_phash_dedup"    -> (MultimodalOps.phashDedup _),
    // IVF index health: per-cell population, imbalance factor, empty
    // cells (oracle-checked since round 8; IvfSpec pins totals)
    "q_ivf_balance"    -> ((s, d) => IvfOps.ivfBalance(s, d)),
    // out-of-order arrival audit (the watermark-sizing number)
    "q_event_lag"      -> (EventOps.eventLag _),
    // pairwise event-type audience Jaccard
    "q_audience_overlap" -> (EventOps.audienceOverlap _),
    // ---- round-10 second batch ----
    // k-core peel profile, fixed KCoreRounds = 4 rounds (unrolled-CTE
    // oracle; GraphOpsSpec pins round-4 = round-8 convergence on the
    // fixture — the integer-fixpoint early exit makes extra rounds no-ops)
    "q_kcore"          -> ((s, d) => GraphOps.kCoreProfile(s, d)),
    // bounded multi-source BFS reach histogram from the top-degree hubs
    "q_bfs_hops"       -> ((s, d) => GraphOps.bfsHops(s, d)),
    // greedy k-center coreset seeds on integer-quantized embeddings —
    // exact integer geometry, so the greedy trajectory is oracle-replayable
    "q_kcenter"        -> ((s, d) => SelectionOps.kCenter(s, d)),
    // MMR diversity selection (7·rel − 3·max-sim integer scoring)
    "q_mmr"            -> ((s, d) => SelectionOps.mmrSelect(s, d)),
    // interpolated Kneser-Ney bigram LM probabilities
    "q_kn_bigram"      -> ((s, d) => TextOps.knBigram(s, d)),
    // round 11: the full KN recursion — trigram level backing off through
    // continuation-count bigrams to the continuation unigram
    "q_kn_trigram"     -> ((s, d) => TextOps.knTrigram(s, d)),
    // Wilson score intervals per event type
    "q_wilson_ci"      -> ((s, d) => StatOps.wilsonCi(s, d)),
    // the IVF+PQ composite (FAISS IVFADC shape): coarse cells restrict
    // the ADC scan, exact re-rank on the shortlist
    "q_ivfpq"          -> ((s, d) => PqOps.ivfPqTopK(s, d)),
    // round 11: the full-corpus kNN graph — every vector a probe through
    // the same IVF+PQ plan (probes are data; plan size is batch-invariant)
    "q_knn_graph"      -> ((s, d) => PqOps.knnGraph(s, d)),
    // semantic clusters: mutual-kNN edges + connected components
    "q_knn_components" -> ((s, d) => PqOps.knnComponents(s, d)),
    // measured recall@k of the IVF+PQ graph edges vs exact cosine on a
    // probe sample (batch-invariance makes the sample representative)
    "q_knn_recall"     -> ((s, d) => PqOps.knnRecall(s, d)),
    // rank-biased overlap of the exact vs IVF rankings (order-sensitive
    // companion to q_ann_recall)
    "q_rbo"            -> (RetrievalOps.rankBiasedOverlap _),
    // bipartite HITS (customer hubs / part authorities), exact-integer
    // truncated reinforcement
    "q_hits"           -> (GraphOps.bipartiteHits _),
    // degree assortativity (Newman 2002) — integer sums, one float assembly
    "q_assortativity"  -> (GraphOps.assortativity _),
    // --- round 12 ---
    // Kaplan-Meier user-lifetime survival with right-censoring
    "q_kaplan_meier"   -> ((s, d) => EventOps.kaplanMeier(s, d)),
    // hourly-count Fano factor + Goh-Barabasi burstiness per event type
    "q_burstiness"     -> (EventOps.burstiness _),
    // TextRank keyword extraction: PageRank over token co-occurrence
    "q_textrank"       -> ((s, d) => TextOps.textRank(s, d)),
    // Local Outlier Factor over the hash-proven full-corpus kNN graph
    "q_lof"            -> ((s, d) => PqOps.lof(s, d)),
    // Gini coefficient + Lorenz deciles of per-customer spend (cents-exact)
    "q_gini"           -> (AnalyticsOps.giniLorenz _),
    // content-defined chunking + chunk-level duplication audit
    "q_cdc_chunks"     -> ((s, d) => CorpusOps.cdcChunks(s, d)),
    // centroid-based silhouette of the k-means cells (+ ALL row)
    "q_silhouette"     -> ((s, d) => IvfOps.silhouette(s, d)),
    // Adjusted Rand Index between k-means cells and labels
    "q_rand_index"     -> ((s, d) => IvfOps.randIndex(s, d)),
    // Wald SPRT: sequential A/B decision walk per variant
    "q_sprt"           -> (StatOps.sprtSharded _),
    // two-component 1-D GMM via 5 unrolled EM steps (stable6 barrier)
    "q_em_gmm"         -> ((s, d) => StatOps.emGmm(s, d)),
    // difference-in-differences over the midpoint-day split
    "q_diff_in_diff"   -> (StatOps.diffInDiff _),
    // CUPED variance-reduced A/B means (pre-period covariate)
    "q_cuped"          -> (StatOps.cuped _),
    // AR(2) per event type by Yule-Walker on daily value series
    "q_ar_fit"         -> (EventOps.arFit _),
    // near-dup pairs by shared CDC chunks (df-capped chunk buckets)
    "q_dedup_cdc"      -> ((s, d) => CorpusOps.dedupCdc(s, d)),
    // ROC AUC via rank-sum identity on the compressed score domain
    "q_auc"            -> (StatOps.rocAuc _),
    // Brown-Forsythe variance-homogeneity W across sources
    "q_levene"         -> (StatOps.levene _),
    // Box-Cox lambda grid: profile log-likelihood + argmax flag
    "q_boxcox"         -> (StatOps.boxcox _),
    // md5-randomization test of the en-vs-rest mean length gap
    "q_permutation_test" -> (StatOps.permutationTest _),
    // Dirichlet-smoothed LM retrieval (Zhai-Lafferty), top-20
    "q_query_likelihood" -> ((s, d) => RetrievalOps.queryLikelihood(s, d)),
    // Dunning LLR collocations over adjacent bigrams, top-30
    "q_llr_colloc"     -> ((s, d) => TextOps.llrColloc(s, d)),
    // self-BLEU-2 diversity per source over id-successor pairs
    "q_self_bleu"      -> (TextOps.selfBleu _),
    // PAV isotonic recalibration of the binned reliability curve
    "q_isotonic_cal"   -> (TextOps.isotonicCal _),
    // McNemar paired test: stopword heuristic vs trigram classifier
    "q_mcnemar"        -> (TextOps.mcnemar _),
    // shot-boundary detection: L1 deltas over sampled frame features
    "q_video_scene"    -> (MultimodalOps.videoScene _),
    // voice-activity segments: gaps-and-islands over voiced windows
    "q_audio_vad"      -> ((s, d) => MultimodalOps.audioVad(s, d)),
    // Hurst exponent of the hourly event series by R/S analysis
    "q_hurst"          -> (EventOps.hurst _),
    // Kendall tau-b over the |sources|-bounded profile pairs
    "q_kendall_tau"    -> (AnalyticsOps.kendallTau _),
    // Spearman rho: Pearson on midranks of the source profile
    "q_spearman"       -> (AnalyticsOps.spearmanRho _),
    // total chi2 + Cramer's V effect size of the lang x source crosstab
    "q_cramers_v"      -> (AnalyticsOps.cramersV _),
    // Cohen's kappa agreement between the two lang classifiers
    "q_cohens_kappa"   -> (TextOps.cohensKappa _),
    // transitivity + Watts-Strogatz avg local clustering coefficient
    "q_clustering_coeff" -> (GraphOps.clusteringCoeff _),
    // Newman modularity of the LPA communities
    "q_modularity"     -> ((s, d) => GraphOps.modularity(s, d)),
    // Mann-Kendall monotone-trend test per event type (tie-corrected)
    "q_mann_kendall"   -> (EventOps.mannKendall _),
    // RANSAC line fit of the daily value trend (md5-chosen pairs)
    "q_ransac"         -> (EventOps.ransacLine _),
    // Kruskal-Wallis rank ANOVA across event types (cents-quantized)
    "q_kruskal"        -> (StatOps.kruskal _),
    // log-log price elasticity of demand per brand (OLS + R2)
    "q_elasticity"     -> (AnalyticsOps.elasticity _),
    // per-pseudo-domain document caps with deterministic survivors
    "q_domain_caps"    -> (DomainOps.domainCaps _),
    // per-pseudo-domain token shares + temperature-smoothed weights
    "q_domain_mix"     -> ((s, d) => DomainOps.domainMix(s, d)),
    // pattern blocklist audit (exact/prefix/suffix rules + kept row)
    "q_domain_blocklist" -> (DomainOps.domainBlocklist _),
    // curriculum stages by exact-integer chars-per-token quartiles
    "q_curriculum"     -> (DomainOps.curriculum _),
    // Benjamini-Hochberg FDR over the per-source mean-length z-tests
    "q_bh_fdr"         -> (InferenceOps.bhFdr _),
    // method-of-moments lognormal fit of per-source doc lengths
    "q_lognormal_fit"  -> (InferenceOps.lognormalFit _),
    // distribution-free Hoeffding band for per-source short-doc rates
    "q_hoeffding_bound" -> (InferenceOps.hoeffdingBound _),
    // Ljung-Box portmanteau over the first 6 hourly autocorrelations
    "q_ljung_box"      -> (SeriesOps.ljungBox _),
    // Dickey-Fuller unit-root regression on daily revenue
    "q_adf"            -> (SeriesOps.adfTest _),
    // Lo-MacKinlay variance ratio VR(5) on daily revenue
    "q_variance_ratio" -> (SeriesOps.varianceRatio _),
    // DFT power spectrum of hourly counts at the first 10 harmonics
    "q_periodogram"    -> (SeriesOps.periodogram _),
    // Durbin-Watson serial correlation of daily trend residuals
    "q_durbin_watson"  -> (SeriesOps.durbinWatson _),
    // round 15: spectrum/change-point/dependence screens + domain inequality
    "q_spectral_entropy" -> (SeriesOps.spectralEntropy _),
    "q_pettitt"        -> (SeriesOps.pettitt _),
    "q_cross_corr"     -> (SeriesOps.crossCorr _),
    "q_xi_corr"        -> (StatOps.xiCorr _),
    "q_wilcoxon_signed" -> (StatOps.wilcoxonSigned _),
    "q_theil_index"    -> (DomainOps.theilIndex _),
    // round 15, second batch: stationarity complement, dose trend,
    // variance homogeneity, robust location screen, risk curve, centrality
    "q_kpss"           -> (SeriesOps.kpssTest _),
    "q_cochran_armitage" -> (InferenceOps.cochranArmitage _),
    "q_bartlett"       -> (StatOps.bartlett _),
    "q_mood_median"    -> (StatOps.moodMedian _),
    "q_max_drawdown"   -> (EventOps.maxDrawdown _),
    "q_harmonic_centrality" -> ((s, d) => GraphOps.harmonicCentrality(s, d)),
    // round 15, third batch: randomness/order/effect-size screens,
    // decomposition strength, domain transfer share, PRF expansion
    "q_turning_points" -> (SeriesOps.turningPoints _),
    "q_seasonal_strength" -> (EventOps.seasonalStrength _),
    "q_page_trend"     -> (StatOps.pageTrend _),
    "q_brunner_munzel" -> (StatOps.brunnerMunzel _),
    "q_hoover"         -> (DomainOps.hoover _),
    "q_rocchio_prf"    -> (RetrievalOps.rocchioExpansion _),
  )

  /** DuckDB oracle for each SQL-expressible query. Integer-typed derived
    * columns are CAST explicitly because DuckDB widens (year()→BIGINT,
    * SUM(int)→HUGEINT, ROW_NUMBER()→BIGINT) where Spark keeps int/long.
    *
    * Iterative fixpoints are NOT a reason to skip an oracle: q_pagerank
    * unrolls its 5 rank iterations as chained CTEs, q_entity_match /
    * q_dedup_clusters express the connected-components min-label fixpoint
    * as MIN over a recursive-CTE transitive closure, q_pack replays the
    * sequential greedy packing as a one-row-per-step recursive CTE carrying
    * (seq_id, used) per bin, and q_heavy_hitters — exact whenever the
    * sketch never purges, which its declared 2^15 map guarantees at every
    * shipped SF — oracles against the plain token-frequency table.
    *
    * The two sketch queries (q_approx_stats, q_hll_rollup) left the
    * rows-only list in round 11 via TOLERANCE ORACLES: their declared
    * forms emit the exact counts (hash-compared against DuckDB's
    * COUNT(DISTINCT)) plus engine-computed within-published-error-bound
    * booleans that the oracle states as literal TRUE — an
    * out-of-tolerance sketch now FAILS the driver gate instead of hiding
    * behind a rows-only check. The raw-estimate production forms stay in
    * SketchOps, SketchSpec keeps the error-bound and
    * union-equals-direct-sketch pins. q_embed_pca left this list in round 10: its Jacobi
    * eigensolve now runs a FIXED round-robin parallel schedule and sweep
    * count over a stable6-rounded covariance, which the oracle replays
    * bit-for-bit as a recursive CTE at one 32-rotation round per
    * iteration (jacobiPcaSql); SimilaritySpec keeps the exact small-case
    * spectrum and invariant pins on top.
    *
    * Everything else that was once rows-only is now oracle-proven:
    * the k-means family (q_sim_ivf/q_semdedup/q_cluster_purity/
    * q_ivf_balance) via the round-8 unrolled-Lloyd CTE (lloydCtes); the
    * MinHash/SimHash family (q_dedup_minhash/q_dedup_simhash/
    * q_simhash_pairs/q_minhash_recall) via the round-9 salted md5-60
    * signature port; the embedding sign-bucket LSH family
    * (q_dedup_embed_lsh/q_dedup_embed_rep/q_sim_lsh/q_caption_dedup_lsh/
    * q_ann_recall) via the fixed-seed hyperplane literals
    * (embedBucketCtes); q_pq_ann via the per-subspace unrolled Lloyd
    * (pqAnnSql); q_bpe_vocab/q_bpe_segment via the 30-round MATERIALIZED
    * merge-replace chain (bpeCtes); and q_frame_features via the
    * md5-digest stub featurizer. The ScalaTest recall/subset invariants
    * remain as quality pins on top of the engine-agreement proof. */
  /** Unrolled-Lloyd CTE prefix replicating [[graft.operators.IvfOps]]'s
    * deterministic k-means trainer in DuckDB SQL — the same technique as
    * q_quality_train's 25 unrolled GD steps and q_pagerank's 5 rank
    * iterations. Mirrors `trainIndex(k, iters)`: `c0` = first `k` vectors
    * by vec_id cast to double (exact — no rounding needed), then
    * `iters − 1` Lloyd updates, each an argmin assignment on the L2 proxy
    * score |c|²−2⟨v,c⟩ (ties to the lower cid, exactly NearestCentroid's
    * strict-< loop) followed by per-dimension means rounded through
    * DECIMAL(20,8) to 6 decimals (the stable6 contract in IvfOps — the
    * rounding barrier that makes Spark's partial-aggregated VectorAverage
    * and DuckDB's avg agree bit-for-bit despite float summation order),
    * with empty cells carrying the previous centroid (COALESCE). Ends in
    * `cf` (final centroids) and `af` (the inverted list: final assignment
    * under cf — computed under exactly the centroids search probes with,
    * matching trainIndex). Dot products use the sequential
    * list_sum(list_transform(range…)) fold that is bit-identical to the
    * codegen'd VectorDotProduct (cf. q_sim_topk's oracle). */
  private def lloydCtes(
      k: Int = graft.operators.IvfOps.DefaultK,
      dim: Int = graft.operators.SimilarityOps.EmbeddingDim,
      updates: Int = graft.operators.IvfOps.DefaultIters - 1): String =
    "WITH " + lloydCtesBody("", k, dim, updates)

  /** Oracle form of a declared query's `round(x, 4)` on a float value. */
  private def r4(x: String) =
    s"CAST(round(CAST($x AS DECIMAL(20,8)), 4) AS DOUBLE)"

  /** Oracle form of a stable6 rounding barrier on a float value. */
  private def r6(x: String) =
    s"CAST(round(CAST($x AS DECIMAL(20,8)), 6) AS DOUBLE)"

  /** [[lloydCtes]] without the WITH keyword and with every CTE name
    * prefixed — composable next to another CTE family (the q_ivfpq oracle
    * places the IVF chain beside the PQ chain, whose names would
    * otherwise collide on e/c0/a0/af). */
  private def lloydCtesBody(p: String,
      k: Int = graft.operators.IvfOps.DefaultK,
      dim: Int = graft.operators.SimilarityOps.EmbeddingDim,
      updates: Int = graft.operators.IvfOps.DefaultIters - 1): String = {
    def argmin(src: String, cents: String) =
      s"(SELECT vec_id, v, acid AS cid FROM (" +
        s"SELECT $src.vec_id, $src.v, c.cid AS acid, " +
        s"row_number() OVER (PARTITION BY $src.vec_id ORDER BY " +
        "list_sum(list_transform(c.c, y -> y * y)) - 2 * " +
        s"list_sum(list_transform(range(1, ${dim + 1}), i -> c.c[i] * $src.v[i])), c.cid) AS rn " +
        s"FROM $src CROSS JOIN $cents c) WHERE rn = 1)"
    val sb = new StringBuilder
    sb ++= s"${p}e AS (SELECT vec_id, label, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    sb ++= s"${p}c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, " +
      s"v AS c FROM (SELECT vec_id, v FROM ${p}e ORDER BY vec_id LIMIT $k)), "
    var prev = s"${p}c0"
    for (t <- 0 until updates) {
      sb ++= s"${p}a$t AS ${argmin(s"${p}e", prev)}, "
      sb ++= s"${p}u$t AS (SELECT cid, list(m ORDER BY i) AS c FROM (" +
        s"SELECT cid, i, CAST(round(CAST(avg(v[CAST(i AS INTEGER)]) AS DECIMAL(20,8)), 6) AS DOUBLE) AS m " +
        s"FROM ${p}a$t, range(1, ${dim + 1}) t(i) GROUP BY cid, i) GROUP BY cid), "
      sb ++= s"${p}c${t + 1} AS (SELECT p.cid, COALESCE(u.c, p.c) AS c " +
        s"FROM $prev p LEFT JOIN ${p}u$t u ON p.cid = u.cid), "
      prev = s"${p}c${t + 1}"
    }
    sb ++= s"${p}cf AS (SELECT cid, c FROM $prev), "
    sb ++= s"${p}af AS ${argmin(s"${p}e", s"${p}cf")}"
    sb.toString
  }

  /** IVF probe-and-rank suffix shared by the q_sim_ivf oracle: rank cells
    * per probe by the same L2 proxy score (ties to lower cid), take
    * `nprobe`, rank in-cell candidates by rounded cosine. */
  private def ivfSearchSql(nprobe: Int, topk: Int, nq: Int,
      dim: Int = graft.operators.SimilarityOps.EmbeddingDim): String =
    lloydCtes(dim = dim) +
      ", n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM af), " +
      "probes AS (SELECT q_id, q_v, q_nrm, cid FROM (" +
      "SELECT q.vec_id AS q_id, q.v AS q_v, q.nrm AS q_nrm, c.cid, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_sum(list_transform(c.c, y -> y * y)) - 2 * " +
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> c.c[i] * q.v[i])), c.cid) AS pr " +
      s"FROM n q CROSS JOIN cf c WHERE q.vec_id < $nq) WHERE pr <= $nprobe), " +
      "pairs AS (SELECT p.q_id, c.vec_id AS cand_id, " +
      s"round(list_sum(list_transform(range(1, ${dim + 1}), i -> p.q_v[i] * c.v[i])) / (p.q_nrm * c.nrm), 4) AS cos_sim " +
      "FROM probes p JOIN n c ON p.cid = c.cid AND p.q_id <> c.vec_id), " +
      "r AS (SELECT q_id, cand_id, cos_sim, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM pairs) " +
      s"SELECT q_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim FROM r WHERE rn <= $topk ORDER BY q_id, rn"

  /** Exact cosine top-10 for probe vectors vec_id < 5 — the q_sim_topk
    * oracle, also embedded as the truth ranking inside the q_rbo
    * oracle. */
  private val simTopkSql: String =
    "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
      "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, " +
      "round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) AS cos_sim " +
      "FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id), " +
      "r AS (SELECT q_id, cand_id, cos_sim, " +
      "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
      "SELECT q_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim FROM r WHERE rn <= 10 " +
      "ORDER BY q_id, rn"

  /** q_embed_pca oracle (round 10): replay the driver's FIXED-schedule,
    * FIXED-count round-robin PARALLEL Jacobi eigensolve as a DuckDB
    * recursive CTE — one ROUND of 32 disjoint Givens rotations per
    * recursive iteration (vs one rotation for the earlier sequential
    * replay: 378 iterations instead of 12,096, ~5 s instead of ~74 s).
    * State = 64 (i, vals-list) rows; the circle-method schedule is
    * regenerated in SQL from the same integer arithmetic as
    * SimilarityOps.roundRobinPairs. Per iteration: all rotation angles
    * come from the pre-round matrix (per-pair windows over the two pair
    * rows), phase 1 rewrites the paired COLUMNS as a per-row map over
    * column-aligned parameter arrays (column updates read only same-row
    * entries), phase 2 rewrites the paired ROWS from the column-updated
    * partner rows. Disjoint pairs make each phase order-free, so the
    * float sequence is an exact replay of the engine's two-phase loop —
    * dev/jacobi_parallel_proto.py measured 64/64 diagonals bit-identical
    * through 6 sweeps. The covariance passes the stable6 barrier on BOTH
    * sides (the only cross-engine float divergence point — aggregation
    * order). Lambdas capture only same-SELECT columns in DuckDB 1.0,
    * hence the nested derived tables. */
  private def jacobiPcaSql(topK: Int = 8): String = {
    val dim = graft.operators.SimilarityOps.EmbeddingDim
    val rounds = dim - 1
    val iters = graft.operators.SimilarityOps.JacobiSweeps * rounds
    val d1 = dim + 1
    "WITH RECURSIVE " +
      // exploded (vec_id, dim, value) view and the raw moment/mean pass
      "ex AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, " +
      "CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings), " +
      "mu AS (SELECT d, avg(v) AS m FROM ex GROUP BY d), " +
      "mom AS (SELECT a.d AS i, b.d AS j, avg(a.v * b.v) AS mm " +
      "FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.d >= a.d " +
      "GROUP BY 1, 2), " +
      // stable6 covariance (upper triangle mirrored), as 64 list rows
      s"covu AS (SELECT i, j, ${r6("mm - ma.m * mb.m")} AS c " +
      "FROM mom JOIN mu ma ON ma.d = i JOIN mu mb ON mb.d = j), " +
      "cove AS (SELECT i, j, c FROM covu " +
      "UNION ALL SELECT j, i, c FROM covu WHERE i <> j), " +
      "cov0 AS (SELECT i, list(c ORDER BY j) AS vals FROM cove GROUP BY i), " +
      // circle-method schedule: (round, idx) -> its pair (p, q) and side
      "pr AS (SELECT r.range AS r, " +
      s"CASE WHEN k.range = 0 THEN r.range % $rounds " +
      s"ELSE least((r.range + k.range) % $rounds, (r.range - k.range + $rounds) % $rounds) END AS p, " +
      s"CASE WHEN k.range = 0 THEN $rounds " +
      s"ELSE greatest((r.range + k.range) % $rounds, (r.range - k.range + $rounds) % $rounds) END AS q " +
      s"FROM range(0, $rounds) r, range(0, ${dim / 2}) k), " +
      "psched AS (SELECT r, p AS idx, p, q, 0 AS sd FROM pr " +
      "UNION ALL SELECT r, q, p, q, 1 FROM pr), " +
      // the recursive parallel-Jacobi replay: c NULL = the |apq| skip
      "st(t, i, vals) AS (" +
      "SELECT 0, i, vals FROM cov0 " +
      "UNION ALL " +
      "SELECT t + 1, i, CASE WHEN c IS NULL THEN ph1 " +
      s"WHEN i = p THEN list_transform(range(1, $d1), m -> c * bp[m] - s * bq[m]) " +
      s"ELSE list_transform(range(1, $d1), m -> s * bp[m] + c * bq[m]) END " +
      // phase 2: partner phase-1 rows via the pair's window
      "FROM (SELECT t, i, p, q, c, s, ph1, " +
      "max(CASE WHEN i = p THEN ph1 END) OVER (PARTITION BY p) AS bp, " +
      "max(CASE WHEN i = q THEN ph1 END) OVER (PARTITION BY p) AS bq " +
      // phase 1: per-row column rewrite over the aligned parameter arrays
      "FROM (SELECT t, i, p, q, c, s, " +
      s"list_transform(range(1, $d1), m -> CASE " +
      "WHEN cl[m] IS NULL THEN vals[m] " +
      "WHEN sdl[m] = 0 THEN cl[m] * vals[m] - sl[m] * vals[ptl[m] + 1] " +
      "ELSE sl[m] * vals[ptl[m] + 1] + cl[m] * vals[m] END) AS ph1 " +
      // column-aligned (c, s, partner, side) arrays: row i carries exactly
      // column i's rotation params, collected once over the 64-row frame
      "FROM (SELECT t, i, p, q, c, s, vals, " +
      "list_transform(prm, e -> e.cc) AS cl, " +
      "list_transform(prm, e -> e.ss) AS sl, " +
      "list_transform(prm, e -> e.pt) AS ptl, " +
      "list_transform(prm, e -> e.sd) AS sdl " +
      "FROM (SELECT *, list_sort(list(struct_pack(ix := i, cc := c, ss := s, " +
      "pt := CASE WHEN sd = 0 THEN q ELSE p END, sd := sd)) OVER ()) AS prm " +
      "FROM (SELECT t, i, p, q, vals, sd, " +
      "CASE WHEN tt IS NULL THEN NULL ELSE 1.0 / sqrt(tt * tt + 1.0) END AS c, " +
      "CASE WHEN tt IS NULL THEN NULL ELSE tt * (1.0 / sqrt(tt * tt + 1.0)) END AS s " +
      "FROM (SELECT *, CASE WHEN theta IS NULL THEN NULL " +
      "WHEN theta = 0.0 THEN 1.0 " +
      "ELSE (CASE WHEN theta > 0 THEN 1.0 ELSE -1.0 END) " +
      "/ (abs(theta) + sqrt(theta * theta + 1.0)) END AS tt " +
      "FROM (SELECT *, CASE WHEN abs(apq) <= 1e-15 THEN NULL ELSE " +
      "(aqq - app) / (2.0 * apq) END AS theta " +
      // per-pair pre-round entries a_pp, a_qq, a_pq via the pair's window
      "FROM (SELECT st.t, st.i, ps.p, ps.q, st.vals, ps.sd, " +
      "max(CASE WHEN st.i = ps.p THEN st.vals[ps.p + 1] END) OVER (PARTITION BY ps.p) AS app, " +
      "max(CASE WHEN st.i = ps.q THEN st.vals[ps.q + 1] END) OVER (PARTITION BY ps.p) AS aqq, " +
      "max(CASE WHEN st.i = ps.p THEN st.vals[ps.q + 1] END) OVER (PARTITION BY ps.p) AS apq " +
      s"FROM st JOIN psched ps ON ps.r = st.t % $rounds AND ps.idx = st.i " +
      s"WHERE st.t < $iters) w) th) t2) cs) pk) arr) ph1t) ph2), " +
      // round6 diagonals, descending fold — mirrors the engine's
      // eigs.take(k+1).sum over the desc-sorted rounded spectrum
      s"diag AS (SELECT ${r6(s"vals[i + 1]")} AS ev FROM st WHERE t = $iters), " +
      "evl AS (SELECT list(ev ORDER BY ev DESC) AS evs FROM diag) " +
      s"SELECT CAST(k AS INTEGER) AS component, ${r4("evs[CAST(k AS INTEGER) + 1]")} AS eigenvalue, " +
      r4(s"evs[CAST(k AS INTEGER) + 1] / list_sum(evs)") + " AS var_ratio, " +
      r4(s"list_sum(evs[1 : CAST(k AS INTEGER) + 1]) / list_sum(evs)") + " AS cum_ratio " +
      s"FROM evl, range(0, $topK) t(k) ORDER BY component"
  }

  // ------------------------------------------------------------------
  // round-9 oracle builders: the MinHash/SimHash signature family is the
  // salted md5-60 of MinHashFamily (first 15 hex chars of md5 → unsigned
  // 60-bit BIGINT), and the embedding LSH planes are the fixed-seed
  // Gaussian literals of VectorFunctions.hyperplanes — both exactly
  // reproducible in DuckDB SQL, which moved the whole
  // q_dedup_minhash/q_dedup_simhash/q_simhash_pairs/q_minhash_recall and
  // q_dedup_embed_lsh/q_dedup_embed_rep/q_sim_lsh/q_caption_dedup_lsh/
  // q_ann_recall block from rows-only to hash-matched.
  // ------------------------------------------------------------------

  /** DuckDB twin of [[graft.functions.TextFunctions.md5Hash60]]. */
  private def md5h60(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  /** Shared shingle prefix: "t" tokens, "s" distinct word-3-gram arrays,
    * "x" exploded (doc_id, shingle) — the same formulation the passing
    * q_dedup_ngram/q_dedup_ngram_capped oracles use. */
  private val shingleCtes: String =
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
      "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
      "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
      "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s)"

  /** "mh" CTE: per-doc MinHash signature as `numHashes` min-aggregates of
    * the salted md5-60 family over `colExpr` rows of `src` — bit-identical
    * to MinHashArray / MinHashSignature / md5Salted60. */
  private def mhSigCte(src: String, colExpr: String,
      numHashes: Int = 32): String = {
    val mins = (0 until numHashes)
      .map(i => s"min(${md5h60(s"'$i:' || $colExpr")}) AS mh_$i")
      .mkString(", ")
    s"mh AS (SELECT doc_id, $mins FROM $src GROUP BY doc_id)"
  }

  /** Banding branches over the mh columns: (doc_id, band, bkey) with the
    * exact comma-joined value key — mirrors DedupOps.minhashCandidates'
    * array_join band key, so candidate sets match verbatim. */
  private def bandsCte(name: String, bands: Int, numHashes: Int = 32): String = {
    val r = numHashes / bands
    val branches = (0 until bands).map { j =>
      val key = (0 until r).map(q => s"CAST(mh_${j * r + q} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $j AS band, $key AS bkey FROM mh"
    }.mkString(" UNION ALL ")
    s"$name AS ($branches)"
  }

  /** SimHash prefix: 60-bit md5 per token, ±1 votes per bit, "sig" =
    * (doc_id, simhash) — bit-identical to SimHashArray (60 bits = the
    * md5-prefix width that stays a non-negative BIGINT everywhere). */
  private val simhashCtes: String =
    "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
      "tok AS (SELECT doc_id, unnest(toks) AS tok FROM t), " +
      s"hh AS (SELECT doc_id, ${md5h60("tok")} AS h FROM tok), " +
      "v AS (SELECT doc_id, bt.bit, sum(CASE WHEN ((h >> bt.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote " +
      "FROM hh CROSS JOIN range(60) bt(bit) GROUP BY doc_id, bt.bit), " +
      "sig AS (SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash " +
      "FROM v GROUP BY doc_id)"

  /** Embedding LSH prefix: "e" double vectors, "pl" the 6 fixed-seed
    * Gaussian hyperplanes as double literals (Double.toString round-trips,
    * so DuckDB parses the identical doubles), "bk" the sign-bit bucket,
    * "n" vectors + bucket + L2 norm. Mirrors VectorFunctions.lshSignature
    * exactly: same plane order (bit i = plane i), same sequential
    * double-fold dot product as the proven q_sim_topk formulation. */
  private def embedBucketCtes(numPlanes: Int = 6, dim: Int = 64): String = {
    val planes = graft.functions.VectorFunctions.hyperplanes(numPlanes, dim)
    val pl = planes.zipWithIndex.map { case (p, i) =>
      s"SELECT $i AS pid, [${p.mkString(", ")}]::DOUBLE[] AS p"
    }.mkString("pl AS (", " UNION ALL ", ")")
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      pl + ", " +
      s"dt AS (SELECT e.vec_id, pl.pid, list_sum(list_transform(range(1, ${dim + 1}), i -> e.v[i] * pl.p[i])) AS dot " +
      "FROM e CROSS JOIN pl), " +
      "bk AS (SELECT vec_id, CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << pid) ELSE 0 END) AS BIGINT) AS bucket " +
      "FROM dt GROUP BY vec_id), " +
      "n AS (SELECT e.vec_id, e.v, bk.bucket, sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm " +
      "FROM e JOIN bk USING (vec_id))"
  }

  /** Rounded cosine between two "n"-rows (a, b) — q_dedup_embed's proven
    * arithmetic. */
  private def cosSql(a: String, b: String, dim: Int = 64): String =
    s"round(list_sum(list_transform(range(1, ${dim + 1}), i -> $a.v[i] * $b.v[i])) / ($a.nrm * $b.nrm), 4)"

  /** q_minhash_recall: truth pairs + three bandings over the SAME df-capped
    * survivor table, mirroring DedupOps.minhashRecallAudit (signatures
    * salt-hash the survivor KEY's decimal string; theory value is the
    * driver-computed literal inlined in both engines). */
  private def minhashRecallSql(tau: Double = 0.5, dfCap: Int = 16,
      numHashes: Int = 32): String = {
    val prefix = shingleCtes +
      s", f AS (SELECT shingle FROM x GROUP BY shingle HAVING count(*) <= $dfCap)" +
      s", xs AS (SELECT doc_id, ${md5h60("shingle")} AS k FROM x JOIN f USING (shingle))" +
      ", c AS (SELECT doc_id, count(*) AS n FROM xs GROUP BY doc_id)" +
      ", p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared FROM xs a " +
      "JOIN xs b ON a.k = b.k AND a.doc_id < b.doc_id GROUP BY 1, 2)" +
      ", truth AS (SELECT da, db FROM p JOIN c ca ON p.da = ca.doc_id JOIN c cb ON p.db = cb.doc_id " +
      s"WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= $tau)" +
      ", " + mhSigCte("xs", "CAST(k AS VARCHAR)", numHashes)
    val bandings = Seq(4, 8, 16)
    val bandCtes = bandings.map { b =>
      bandsCte(s"bands$b", b, numHashes) +
        s", cand$b AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bands$b a " +
        s"JOIN bands$b b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"
    }.mkString(", ", ", ", "")
    val rows = bandings.map { b =>
      val r = numHashes / b
      val theory = 1.0 - math.pow(1.0 - math.pow(tau, r), b)
      // counts in an inner subquery: DuckDB can't lateral-reference an
      // alias whose expression contains a scalar subquery
      "SELECT bands, rows_per_band, n_true, n_cand, n_detected, " +
        "CAST(round(CAST(CAST(n_detected AS DOUBLE) / greatest(n_true, 1) AS DECIMAL(20,8)), 4) AS DOUBLE) AS recall, " +
        "CAST(round(CAST(CAST(n_detected AS DOUBLE) / greatest(n_cand, 1) AS DECIMAL(20,8)), 4) AS DOUBLE) AS precision, " +
        s"CAST(round(CAST($theory AS DECIMAL(20,8)), 4) AS DOUBLE) AS theory_recall FROM (" +
        s"SELECT CAST($b AS INTEGER) AS bands, CAST($r AS INTEGER) AS rows_per_band, " +
        "(SELECT count(*) FROM truth) AS n_true, " +
        s"(SELECT count(*) FROM cand$b) AS n_cand, " +
        s"(SELECT count(*) FROM cand$b JOIN truth USING (da, db)) AS n_detected)"
    }.mkString(" UNION ALL ")
    prefix + bandCtes + " SELECT * FROM (" + rows + ") ORDER BY bands"
  }

  /** q_pq_ann: product quantization unrolled in DuckDB — the round-8
    * lloydCtes technique generalized to PER-SUBSPACE k-means over
    * subvector slices. "sv" explodes L2-normalized vectors into
    * (vec_id, j, 8-dim subvector); "c0" seeds each subspace's 16 cells
    * from the first 16 vectors by id; each round is an argmin assignment
    * on the |c|²−2⟨s,c⟩ proxy (ties to lower code — NearestCentroid's
    * strict-< loop) and a per-dim mean through the stable6 barrier; the
    * ADC stage builds each probe's flat 128-entry distance list (ordered
    * j·16+c, the driver dt layout), scores candidates with the same
    * sequential 8-term fold as the Spark aggregate(), shortlists by
    * (adc, cand_id), and re-ranks the shortlist by exact rounded cosine. */
  private def pqAnnSql(k: Int = 10, shortlist: Int = 50, iters: Int = 3,
      nq: Int = 5, m: Int = 8, subDim: Int = 8, codes: Int = 16): String =
    "WITH " + pqCtesBody(iters, Some(nq), m, subDim, codes) + ", " +
      s"sc AS (SELECT d.q_id, cd.vec_id AS cand_id, " +
      s"list_sum(list_transform(range(0, $m), j -> d.dts[j * $codes + cd.cds[j + 1] + 1])) AS adc " +
      "FROM dtf d CROSS JOIN cd WHERE cd.vec_id <> d.q_id), " +
      pqRerankSql(k, shortlist)

  /** Shortlist + exact-cosine re-rank suffix shared by the q_pq_ann and
    * q_ivfpq oracles — expects an `sc(q_id, cand_id, adc)` CTE upstream. */
  private def pqRerankSql(k: Int, shortlist: Int): String =
    "sl AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id, " +
      s"row_number() OVER (PARTITION BY q_id ORDER BY adc, cand_id) AS rn FROM sc) WHERE rn <= $shortlist), " +
      "rr AS (SELECT sl.q_id, sl.cand_id, " +
      "round(list_sum(list_transform(range(1, len(qn.v) + 1), i -> qn.v[i] * cn.v[i])), 4) AS cos_sim " +
      "FROM sl JOIN nv qn ON sl.q_id = qn.vec_id JOIN nv cn ON sl.cand_id = cn.vec_id) " +
      "SELECT q_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim FROM " +
      "(SELECT q_id, cand_id, cos_sim, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM rr) " +
      s"WHERE rn <= $k ORDER BY q_id, rn"

  /** q_knn_recall oracle: the annRecallSql exact block at this k beside
    * the nested IVF+PQ search, scored with the same recall aggregation. */
  private def knnRecallSql(k: Int = 3, shortlist: Int = 20,
      nq: Int = 50): String = {
    val exact =
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, " +
        s"${cosSql("q", "c")} AS cos_sim " +
        s"FROM n q JOIN n c ON q.vec_id < $nq AND c.vec_id <> q.vec_id), " +
        "r AS (SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
        s"SELECT q_id, cand_id FROM r WHERE rn <= $k"
    val pq = ivfPqSql(k = k, shortlist = shortlist, nq = Some(nq))
    s"WITH exact AS ($exact), pqq AS ($pq) " +
      s"SELECT 'ivfpq' AS method, count(*) AS n_probes, " +
      s"CAST(round(CAST(CAST(sum(COALESCE(h.n_hit, 0)) AS DOUBLE) / (count(*) * $k) AS DECIMAL(20,8)), 4) AS DOUBLE) AS recall_at_k, " +
      "CAST(round(CAST(CAST(sum(COALESCE(r.n_ret, 0)) AS DOUBLE) / count(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_returned " +
      "FROM (SELECT DISTINCT q_id FROM exact) q " +
      "LEFT JOIN (SELECT e.q_id, count(*) AS n_hit FROM exact e JOIN pqq s ON e.q_id = s.q_id AND e.cand_id = s.cand_id GROUP BY e.q_id) h ON q.q_id = h.q_id " +
      "LEFT JOIN (SELECT q_id, count(*) AS n_ret FROM pqq GROUP BY q_id) r ON q.q_id = r.q_id"
  }

  /** q_ivfpq oracle: the prefixed unrolled-Lloyd IVF chain (iv*) beside
    * the PQ chain, with the ADC cross join restricted to each query's
    * `nprobe` probed cells (the same L2-proxy cell ranking the q_sim_ivf
    * oracle proved). Both trainers are the individually hash-proven
    * builders — only the candidate restriction is new. */
  private def ivfPqSql(k: Int = 10, shortlist: Int = 50, nprobe: Int = 4,
      iters: Int = 3, nq: Option[Int] = Some(5), m: Int = 8, subDim: Int = 8,
      codes: Int = 16): String = {
    val dim = graft.operators.SimilarityOps.EmbeddingDim
    // nq = None is the FULL-CORPUS probe set: no filter at all, the same
    // semantics as the engine's ivfPqTopK(nProbes = None) — one shared
    // sentinel, not two magic upper bounds (round-12 advisor fix)
    val probeFilter = nq.map(n => s"WHERE q.vec_id < $n ").getOrElse("")
    "WITH " + lloydCtesBody("iv") + ", " +
      pqCtesBody(iters, nq, m, subDim, codes) + ", " +
      "pc AS (SELECT q_id, cid FROM (" +
      "SELECT q.vec_id AS q_id, c.cid, " +
      "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
      "list_sum(list_transform(c.c, y -> y * y)) - 2 * " +
      s"list_sum(list_transform(range(1, ${dim + 1}), i -> c.c[i] * q.v[i])), c.cid) AS pr " +
      s"FROM ive q CROSS JOIN ivcf c $probeFilter) WHERE pr <= $nprobe), " +
      s"sc AS (SELECT d.q_id, cd.vec_id AS cand_id, " +
      s"list_sum(list_transform(range(0, $m), j -> d.dts[j * $codes + cd.cds[j + 1] + 1])) AS adc " +
      "FROM dtf d CROSS JOIN cd " +
      "JOIN ivaf a ON a.vec_id = cd.vec_id " +
      "JOIN pc ON pc.q_id = d.q_id AND pc.cid = a.cid " +
      "WHERE cd.vec_id <> d.q_id), " +
      pqRerankSql(k, shortlist)
  }

  /** PQ CTE chain through the per-query ADC distance tables: normalized
    * vectors (nv), subvectors (sv), `iters` unrolled per-subspace Lloyd
    * rounds ending in the final model (mf), corpus codes (cd), and
    * per-probe flat distance-table lists (dtf). */
  private def pqCtesBody(iters: Int = 3,
      nq: Option[Int] = Some(5), m: Int = 8, subDim: Int = 8,
      codes: Int = 16): String = {
    val sb = new StringBuilder
    sb ++= "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw FROM embeddings), "
    sb ++= "n1 AS (SELECT vec_id, raw, sqrt(list_sum(list_transform(raw, y -> y * y))) AS nrm FROM e), "
    sb ++= "nv AS (SELECT vec_id, list_transform(raw, x -> x / nrm) AS v FROM n1), "
    sb ++= s"sv AS (SELECT vec_id, CAST(jj.j AS INTEGER) AS j, " +
      s"list_slice(v, jj.j * $subDim + 1, jj.j * $subDim + $subDim) AS s " +
      s"FROM nv CROSS JOIN range($m) jj(j)), "
    sb ++= s"c0 AS (SELECT j, CAST(rn - 1 AS INTEGER) AS c, s AS cen FROM " +
      s"(SELECT j, s, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn FROM sv) WHERE rn <= $codes), "
    def argmin(model: String) =
      s"(SELECT vec_id, j, s, mc AS c FROM (" +
        s"SELECT sv.vec_id, sv.j, sv.s, m.c AS mc, " +
        "row_number() OVER (PARTITION BY sv.vec_id, sv.j ORDER BY " +
        "list_sum(list_transform(m.cen, y -> y * y)) - 2 * " +
        s"list_sum(list_transform(range(1, ${subDim + 1}), d -> m.cen[d] * sv.s[d])), m.c) AS rn " +
        s"FROM sv JOIN $model m ON sv.j = m.j) WHERE rn = 1)"
    var prev = "c0"
    for (t <- 0 until iters) {
      sb ++= s"a$t AS ${argmin(prev)}, "
      sb ++= s"u$t AS (SELECT j, c, list(mv ORDER BY d) AS cen FROM (" +
        s"SELECT j, c, d, CAST(round(CAST(avg(s[CAST(d AS INTEGER)]) AS DECIMAL(20,8)), 6) AS DOUBLE) AS mv " +
        s"FROM a$t, range(1, ${subDim + 1}) t(d) GROUP BY j, c, d) GROUP BY j, c), "
      sb ++= s"m${t + 1} AS (SELECT p.j, p.c, COALESCE(u.cen, p.cen) AS cen " +
        s"FROM $prev p LEFT JOIN u$t u ON p.j = u.j AND p.c = u.c), "
      prev = s"m${t + 1}"
    }
    sb ++= s"af AS ${argmin(prev)}, "
    sb ++= s"cd AS (SELECT vec_id, list(c ORDER BY j) AS cds FROM af GROUP BY vec_id), "
    sb ++= s"dt AS (SELECT sv.vec_id AS q_id, sv.j, m.c, " +
      s"list_sum(list_transform(range(1, ${subDim + 1}), d -> (sv.s[d] - m.cen[d]) * (sv.s[d] - m.cen[d]))) AS val " +
      s"FROM sv JOIN $prev m ON sv.j = m.j" +
      nq.map(n => s" WHERE sv.vec_id < $n").getOrElse("") + "), "
    sb ++= s"dtf AS (SELECT q_id, list(val ORDER BY j * $codes + c) AS dts FROM dt GROUP BY q_id)"
    sb.toString
  }

  /** q_bpe_vocab / q_bpe_segment: BPE training and application unrolled in
    * DuckDB — the lloydCtes technique applied to the merge recurrence.
    * Words are encoded as " sym  sym  … " (each symbol wrapped in single
    * spaces, so a merge is a literal non-regex `replace` of
    * " l  r " → " lr " — left-to-right non-overlapping, exactly the Scala
    * scan's semantics, and safe because symbols can never contain spaces).
    * Each round: pair counts from the split symbol lists, argmax with the
    * (count desc, left, right) tie rule, one replace over the word table.
    * CTEs are MATERIALIZED — without it DuckDB inlines the w_t chain into
    * both p_t and w_{t+1}, doubling the expression tree per round (2³⁰
    * scans). Application-side equivalence: applying merges in RANK ORDER
    * equals bpeApply's lowest-present-rank loop because merge j's
    * components are products of merges ranked < j, so applying a
    * higher-rank merge can never create a lower-rank pair occurrence. */
  private def bpeCtes(topWords: Int = 5000, numMerges: Int = 30): String = {
    val sb = new StringBuilder
    sb ++= "WITH wf AS MATERIALIZED (SELECT tok, count(*) AS f FROM " +
      "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY tok), "
    sb ++= s"topw AS (SELECT tok, f FROM wf ORDER BY f DESC, tok LIMIT $topWords), "
    sb ++= "w0 AS MATERIALIZED (SELECT " + bpeEncode("tok") + " AS ws, f FROM topw), "
    for (t <- 0 until numMerges) {
      sb ++= s"p$t AS (SELECT sy[CAST(i AS INTEGER)] AS l, sy[CAST(i AS INTEGER) + 1] AS r, sum(f) AS c FROM " +
        s"(SELECT sy, f, unnest(range(1, len(sy))) AS i FROM " +
        s"(SELECT string_split(trim(ws), '  ') AS sy, f FROM w$t)) GROUP BY 1, 2), "
      sb ++= s"b$t AS MATERIALIZED (SELECT l, r, c FROM p$t ORDER BY c DESC, l, r LIMIT 1), "
      sb ++= s"w${t + 1} AS MATERIALIZED (SELECT ${bpeMerge("ws", s"b$t")} AS ws, f " +
        s"FROM w$t CROSS JOIN b$t b), "
    }
    sb.toString.stripSuffix(", ")
  }

  /** " c  h  a  r  …  </w> " encoding of a word column. */
  private def bpeEncode(tok: String): String =
    s"' ' || array_to_string(list_concat(list_transform(range(1, length($tok) + 1), " +
      s"i -> substr($tok, CAST(i AS INTEGER), 1)), ['</w>']), '  ') || ' '"

  /** One merge application: literal replace of " l  r " with " lr ". */
  private def bpeMerge(ws: String, b: String): String =
    s"replace($ws, ' ' || b.l || '  ' || b.r || ' ', ' ' || b.l || b.r || ' ')"

  /** q_ann_recall: exact brute-force truth vs the IVF (unrolled Lloyd) and
    * LSH (literal planes) shortlists, with the same recall/avg-returned
    * aggregate as SimilarityOps.annRecall. */
  private def annRecallSql(k: Int = 10, nq: Int = 50): String = {
    val exact =
      "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, " +
        s"${cosSql("q", "c")} AS cos_sim " +
        s"FROM n q JOIN n c ON q.vec_id < $nq AND c.vec_id <> q.vec_id), " +
        "r AS (SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
        s"SELECT q_id, cand_id FROM r WHERE rn <= $k"
    val lsh = "WITH " + embedBucketCtes() + ", " +
      s"p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, ${cosSql("q", "c")} AS cos_sim " +
      s"FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < $nq AND c.vec_id <> q.vec_id), " +
      "r AS (SELECT q_id, cand_id, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
      s"SELECT q_id, cand_id FROM r WHERE rn <= $k"
    val ivf = ivfSearchSql(nprobe = 4, topk = k, nq = nq)
    def rec(m: String, sub: String) =
      s"SELECT '$m' AS method, count(*) AS n_probes, " +
        s"CAST(round(CAST(CAST(sum(COALESCE(h.n_hit, 0)) AS DOUBLE) / (count(*) * $k) AS DECIMAL(20,8)), 4) AS DOUBLE) AS recall_at_k, " +
        "CAST(round(CAST(CAST(sum(COALESCE(r.n_ret, 0)) AS DOUBLE) / count(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_returned " +
        "FROM (SELECT DISTINCT q_id FROM exact) q " +
        s"LEFT JOIN (SELECT e.q_id, count(*) AS n_hit FROM exact e JOIN $sub s ON e.q_id = s.q_id AND e.cand_id = s.cand_id GROUP BY e.q_id) h ON q.q_id = h.q_id " +
        s"LEFT JOIN (SELECT q_id, count(*) AS n_ret FROM $sub GROUP BY q_id) r ON q.q_id = r.q_id"
    s"WITH exact AS ($exact), ivfq AS ($ivf), lshq AS ($lsh) " +
      "SELECT * FROM (" + rec("ivf", "ivfq") + " UNION ALL " +
      rec("lsh", "lshq") + ") ORDER BY method"
  }

  def oracleSql: Map[String, String] = Map(
    // TOLERANCE ORACLES (round 11): the exact columns hash-compare for
    // real; the within-bound booleans are engine-computed claims the
    // oracle states as literal TRUE — a sketch drifting past its
    // published error bound fails the driver gate.
    "q_approx_stats" ->
      ("SELECT l_returnflag, COUNT(*) AS n_rows, " +
        "COUNT(DISTINCT l_partkey) AS exact_parts, " +
        "COUNT(DISTINCT l_suppkey) AS exact_supps, " +
        "TRUE AS parts_within_rse, TRUE AS supps_within_rse, " +
        "TRUE AS median_rank_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_hll_rollup" ->
      ("WITH g AS (SELECT o_orderstatus, COUNT(*) AS n_rows, " +
        "COUNT(DISTINCT o_custkey) AS exact_custs FROM orders GROUP BY 1) " +
        "SELECT o_orderstatus, n_rows, exact_custs, TRUE AS within_rse FROM g " +
        "UNION ALL SELECT 'ALL', (SELECT COUNT(*) FROM orders), " +
        "(SELECT COUNT(DISTINCT o_custkey) FROM orders), TRUE " +
        "ORDER BY o_orderstatus"),
    "q_scan_limit" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice LIMIT 100",
    "q_filter_ne" ->
      "SELECT * FROM lineitem WHERE l_quantity <> 0 ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice",
    "q_isin_count" ->
      ("SELECT CAST(SUM(CASE WHEN l_returnflag IN ('R','A') THEN 1 ELSE 0 END) AS BIGINT) AS n_matching, " +
        "COUNT(*) AS n_total FROM lineitem"),
    "q_cast_timestamp" ->
      ("SELECT event_id, CAST(ts AS DATE) AS day, CAST(hour(ts) AS INTEGER) AS hr, event_type " +
        "FROM events ORDER BY event_id"),
    "q_schema_only" ->
      "SELECT * FROM lineitem WHERE 1=0",
    "q_derived_name" ->
      ("SELECT o_orderkey, 'orders_' || CAST(year(o_orderdate) AS VARCHAR) || '_' || " +
        "lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS part_label " +
        "FROM orders ORDER BY o_orderkey"),
    "q_partition_agg" ->
      ("SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, CAST(month(o_orderdate) AS INTEGER) AS mon, " +
        "COUNT(*) AS n_orders, round(SUM(o_totalprice), 4) AS sum_total " +
        "FROM orders GROUP BY 1, 2 ORDER BY yr, mon"),
    "q_chunked_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(SUM(l_quantity), 4) AS sum_qty, " +
        "round(SUM(l_extendedprice), 4) AS sum_base_price, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, " +
        "round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge, " +
        "CAST(round(CAST(AVG(l_quantity) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_qty, " +
        "CAST(round(CAST(AVG(l_extendedprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_price, " +
        "CAST(round(CAST(AVG(l_discount) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_disc, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_join_enrich" ->
      ("SELECT o_orderkey, o_totalprice, c_name, n_name, r_name " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "ORDER BY o_orderkey"),
    "q_join_agg" ->
      ("SELECT n_name, round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_semi_join" ->
      ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45) " +
        "ORDER BY o_orderkey"),
    "q_anti_join" ->
      ("SELECT c_custkey, c_name, c_mktsegment FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) " +
        "ORDER BY c_custkey"),
    "q_topk" ->
      ("SELECT o_orderpriority, CAST(rn AS INTEGER) AS rn, o_orderkey, round(o_totalprice, 4) AS o_totalprice " +
        "FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 5 ORDER BY o_orderpriority, rn"),
    "q_window_agg" ->
      ("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type, " +
        "COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value, CAST(round(CAST(AVG(value) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_value " +
        "FROM events GROUP BY 1, 2 ORDER BY hr, event_type"),
    "q_json_extract" ->
      ("SELECT event_id, CAST(props->>'k' AS INTEGER) AS k_val, event_type " +
        "FROM events ORDER BY event_id"),
    // OHLC bars: open/close via an ordered list over the same (us,
    // event_id) total order Spark's struct min/max compares
    "q_ohlc" ->
      ("WITH e AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, " +
        "epoch_us(ts) AS us, event_id, value FROM events), " +
        "b AS (SELECT event_type, hr, COUNT(*) AS n_events, " +
        "list(value ORDER BY us, event_id) AS vs, " +
        "MAX(value) AS high, MIN(value) AS low FROM e GROUP BY 1, 2) " +
        "SELECT event_type, hr, n_events, round(vs[1], 4) AS open, " +
        "round(high, 4) AS high, round(low, 4) AS low, round(vs[-1], 4) AS close " +
        "FROM b ORDER BY event_type, hr"),
    // median of pairwise slopes over the hourly series (x = hour offset)
    "q_theil_sen" ->
      ("WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, " +
        "SUM(value) AS v FROM events GROUP BY 1, 2), " +
        "h0 AS (SELECT event_type, MIN(hr) AS hr0 FROM h GROUP BY 1), " +
        "p AS (SELECT h.event_type, CAST(epoch(hr) - epoch(hr0) AS DOUBLE) / 3600 AS x, v " +
        "FROM h JOIN h0 USING (event_type)), " +
        "s AS (SELECT a.event_type, (b.v - a.v) / (b.x - a.x) AS s " +
        "FROM p a JOIN p b ON a.event_type = b.event_type AND a.x < b.x), " +
        "m AS (SELECT event_type, quantile_cont(s, 0.5) AS slope FROM s GROUP BY 1), " +
        "r AS (SELECT p.event_type, slope, v - slope * x AS r FROM p JOIN m USING (event_type)) " +
        "SELECT event_type, COUNT(*) AS n_hours, " +
        "CAST(round(CAST(any_value(slope) AS DECIMAL(20,8)), 4) AS DOUBLE) AS slope, " +
        "CAST(round(CAST(quantile_cont(r, 0.5) AS DECIMAL(20,8)), 4) AS DOUBLE) AS intercept " +
        "FROM r GROUP BY event_type ORDER BY event_type"),
    // simulated md5-uniform 0-30min ingestion delay; 10-min arrival-window
    // micro-batches; watermark = strict-predecessor max event time
    "q_watermark_sim" -> {
      val delays = Seq(0L, 60L, 300L, 900L, 3600L)
      val sums = delays.map(d =>
        s"coalesce(CAST(SUM(CASE WHEN us < wm_us - ${d * 1000000L} THEN 1 END) AS BIGINT), 0) AS d$d")
        .mkString(", ")
      val rows = delays.map(d =>
        s"SELECT CAST($d AS BIGINT) AS delay_s, n_events, d$d AS n_dropped, " +
          s"CAST(round(CAST(CAST(d$d AS DOUBLE) / n_events AS DECIMAL(20,8)), 4) AS DOUBLE) AS drop_frac FROM a")
        .mkString(" UNION ALL ")
      "WITH e AS (SELECT epoch_us(ts) AS us, " +
        "epoch_us(ts) + (CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':wm'), 1, 6)) AS BIGINT) % 1800) * 1000000 AS arrival_us " +
        "FROM events), " +
        "eb AS (SELECT CAST(arrival_us // 600000000 AS BIGINT) AS batch, us FROM e), " +
        "bm AS (SELECT batch, MAX(us) AS mx FROM eb GROUP BY batch), " +
        "w AS (SELECT batch, MAX(mx) OVER (ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_us FROM bm), " +
        "j AS (SELECT us, wm_us FROM eb JOIN w USING (batch)), " +
        s"a AS (SELECT COUNT(*) AS n_events, $sums FROM j) " +
        rows + " ORDER BY delay_s"
    },
    // per-key counts → 32 hash buckets → bucket-level skew dials
    "q_skew_audit" ->
      ("WITH k AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id), " +
        "pb AS (SELECT user_id % 32 AS bucket, SUM(n) AS n_rows, COUNT(*) AS n_keys, " +
        "MAX(n) AS max_key_rows FROM k GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS n_total, CAST(COUNT(*) AS DOUBLE) AS n_buckets FROM pb) " +
        "SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows, n_keys, " +
        "CAST(max_key_rows AS BIGINT) AS max_key_rows, " +
        "CAST(round(CAST(n_rows / n_total AS DECIMAL(20,8)), 4) AS DOUBLE) AS share, " +
        "CAST(round(CAST(n_rows / (n_total / n_buckets) AS DECIMAL(20,8)), 4) AS DOUBLE) AS skew_factor, " +
        "CAST(round(CAST(CAST(max_key_rows AS DOUBLE) / n_rows AS DECIMAL(20,8)), 4) AS DOUBLE) AS single_key_share " +
        "FROM pb CROSS JOIN t ORDER BY bucket"),
    // exact self-join pair counts vs the uniform-within-bucket estimate
    "q_card_est" ->
      ("WITH k AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id), " +
        "pb AS (SELECT user_id % 32 AS bucket, SUM(c) AS n_rows, COUNT(*) AS n_keys, " +
        "SUM(c * c) AS exact_pairs FROM k GROUP BY 1) " +
        "SELECT bucket, CAST(n_rows AS BIGINT) AS n_rows, n_keys, " +
        "CAST(exact_pairs AS BIGINT) AS exact_pairs, " +
        "CAST(round(CAST(CAST(n_rows AS DOUBLE) * n_rows / n_keys AS DECIMAL(20,8)), 4) AS DOUBLE) AS est_pairs, " +
        "CAST(round(CAST(exact_pairs / (CAST(n_rows AS DOUBLE) * n_rows / n_keys) AS DECIMAL(20,8)), 4) AS DOUBLE) AS err_ratio " +
        "FROM pb ORDER BY bucket"),
    "q_text_stats" ->
      ("SELECT lang, COUNT(*) AS n_docs, CAST(round(CAST(AVG(n_chars) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_chars, " +
        "CAST(round(CAST(AVG(len(regexp_split_to_array(trim(text), '\\s+'))) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_tokens " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    "q_token_count" ->
      ("SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "CAST(length(text) AS INTEGER) AS n_chars_exact FROM documents ORDER BY doc_id"),
    "q_lang_id" ->
      ("WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "c AS (SELECT doc_id, lang, " +
        "CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS INTEGER) AS en_n, " +
        "CAST(len(list_filter(toks, t -> t = 'der' OR t = 'die' OR t = 'das' OR t = 'und')) AS INTEGER) AS de_n, " +
        "CAST(len(list_filter(toks, t -> t = 'el' OR t = 'los' OR t = 'las' OR t = 'y')) AS INTEGER) AS es_n, " +
        "CAST(len(list_filter(toks, t -> t = 'le' OR t = 'les' OR t = 'des' OR t = 'et')) AS INTEGER) AS fr_n " +
        "FROM t) " +
        "SELECT doc_id, lang, en_n, de_n, es_n, fr_n, " +
        "CASE WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en' " +
        "WHEN de_n >= es_n AND de_n >= fr_n THEN 'de' " +
        "WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END AS lang_pred " +
        "FROM c ORDER BY doc_id"),
    "q_quality_score" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_letter_chars, " +
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS sw_n " +
        "FROM documents), " +
        "d AS (SELECT doc_id, n_tokens, " +
        "CAST(n_letter_chars AS DOUBLE) / n_tokens AS awl, " +
        "CAST(sw_n AS DOUBLE) / n_tokens AS swr FROM t) " +
        "SELECT doc_id, n_tokens, CAST(round(CAST(awl AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_wlen, CAST(round(CAST(swr AS DECIMAL(20,8)), 4) AS DOUBLE) AS stopword_ratio, " +
        "CAST(round(CAST(least(1.0, n_tokens / 50.0) * 0.5 + CASE WHEN awl BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END + least(0.2, swr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS quality_score " +
        "FROM d ORDER BY doc_id"),
    "q_fingerprint" ->
      ("SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp " +
        "FROM documents ORDER BY doc_id"),
    "q_dedup_exact" ->
      ("SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text ORDER BY doc_id"),
    "q_dedup_ngram" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "c AS (SELECT doc_id, count(*) AS n FROM x GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared FROM x a " +
        "JOIN x b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4) AS jaccard " +
        "FROM p JOIN c ca ON p.da = ca.doc_id JOIN c cb ON p.db = cb.doc_id " +
        "ORDER BY jaccard DESC, da, db LIMIT 20"),
    "q_dedup_embed" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e) " +
        "SELECT a.vec_id AS va, b.vec_id AS vb, " +
        "round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos_sim " +
        "FROM n a JOIN n b ON a.vec_id < b.vec_id " +
        "ORDER BY cos_sim DESC, va, vb LIMIT 20"),
    "q_sim_topk" -> simTopkSql,
    // MinHash/SimHash family (round-9 port from rows-only: salted md5-60
    // signatures + exact-value band keys — see mhSigCte/simhashCtes)
    "q_dedup_minhash" ->
      (shingleCtes + ", " + mhSigCte("x", "shingle") + ", " +
        bandsCte("bands", 8) + ", " +
        "cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db FROM bands a " +
        "JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id), " +
        "c AS (SELECT doc_id, count(*) AS n FROM x GROUP BY doc_id), " +
        "sh2 AS (SELECT cand.da, cand.db, count(*) AS shared FROM cand " +
        "JOIN x a ON a.doc_id = cand.da JOIN x b ON b.doc_id = cand.db AND b.shingle = a.shingle " +
        "GROUP BY cand.da, cand.db), " +
        "ver AS (SELECT da, db FROM sh2 JOIN c ca ON sh2.da = ca.doc_id JOIN c cb ON sh2.db = cb.doc_id " +
        "WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5), " +
        "edges AS (SELECT da AS doc_id, db AS nbr FROM ver UNION ALL SELECT db AS doc_id, da AS nbr FROM ver) " +
        "SELECT d.doc_id, CAST(least(COALESCE(min(e.nbr), d.doc_id), d.doc_id) AS BIGINT) AS cluster_rep, " +
        "CAST(count(e.nbr) AS BIGINT) AS n_near_dups " +
        "FROM documents d LEFT JOIN edges e ON d.doc_id = e.doc_id " +
        "GROUP BY d.doc_id ORDER BY d.doc_id"),
    "q_minhash_recall" -> minhashRecallSql(),
    // batch-vs-corpus near-dup: same signature/banding family as
    // q_dedup_minhash, split by the q_dedup_incr md5(doc_id) batch rule
    "q_dedup_incr_near" ->
      (shingleCtes + ", " + mhSigCte("x", "shingle") + ", " +
        bandsCte("bands", 8) + ", " +
        "fl AS (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_batch FROM documents), " +
        "cand AS (SELECT DISTINCT a.doc_id AS bd, b.doc_id AS cd FROM bands a " +
        "JOIN fl fa ON a.doc_id = fa.doc_id AND fa.is_batch " +
        "JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
        "JOIN fl fb ON b.doc_id = fb.doc_id AND NOT fb.is_batch), " +
        "c AS (SELECT doc_id, count(*) AS n FROM x GROUP BY doc_id), " +
        "sh2 AS (SELECT cand.bd, cand.cd, count(*) AS shared FROM cand " +
        "JOIN x a ON a.doc_id = cand.bd JOIN x b ON b.doc_id = cand.cd AND b.shingle = a.shingle " +
        "GROUP BY cand.bd, cand.cd), " +
        "ver AS (SELECT bd, count(*) AS n_matches, min(cd) AS fm FROM sh2 " +
        "JOIN c ca ON sh2.bd = ca.doc_id JOIN c cb ON sh2.cd = cb.doc_id " +
        "WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5 GROUP BY bd) " +
        "SELECT fl.doc_id, v.bd IS NULL AS is_novel, " +
        "CAST(COALESCE(v.n_matches, 0) AS BIGINT) AS n_corpus_matches, " +
        "CAST(COALESCE(v.fm, -1) AS BIGINT) AS first_match " +
        "FROM fl LEFT JOIN ver v ON fl.doc_id = v.bd WHERE fl.is_batch " +
        "ORDER BY fl.doc_id"),
    "q_dedup_simhash" ->
      (simhashCtes + " SELECT doc_id, simhash FROM sig ORDER BY doc_id"),
    "q_simhash_pairs" ->
      (simhashCtes + ", " +
        "bands AS (SELECT doc_id, simhash, bd.band, (simhash >> (bd.band * 15)) & 32767 AS bkey " +
        "FROM sig CROSS JOIN range(4) bd(band)), " +
        "pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming " +
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id) " +
        "SELECT da, db, hamming FROM pr WHERE hamming <= 3 ORDER BY hamming, da, db"),
    // embedding sign-bucket LSH family (round-9 port from rows-only: the
    // fixed-seed hyperplanes are double literals — see embedBucketCtes)
    "q_dedup_embed_lsh" ->
      ("WITH " + embedBucketCtes() + " " +
        "SELECT va, vb, cos_sim FROM (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        cosSql("a", "b") + " AS cos_sim " +
        "FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
        "WHERE cos_sim >= 0.25 ORDER BY va, vb"),
    "q_dedup_embed_rep" ->
      ("WITH " + embedBucketCtes() + ", " +
        "pr AS (SELECT a.vec_id AS ea, b.vec_id AS eb, " + cosSql("a", "b") + " AS cos_sim " +
        "FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id), " +
        "er AS (SELECT eb AS vec_id, min(ea) AS rep, count(*) AS n_earlier FROM pr " +
        "WHERE cos_sim >= 0.25 GROUP BY eb) " +
        "SELECT e.vec_id, CAST(COALESCE(er.rep, e.vec_id) AS BIGINT) AS rep, " +
        "CAST(COALESCE(er.n_earlier, 0) AS BIGINT) AS n_earlier_dups " +
        "FROM e LEFT JOIN er ON e.vec_id = er.vec_id ORDER BY e.vec_id"),
    "q_sim_lsh" ->
      ("WITH " + embedBucketCtes() + ", " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, " + cosSql("q", "c") + " AS cos_sim " +
        "FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id <> q.vec_id), " +
        "r AS (SELECT q_id, cand_id, cos_sim, " +
        "row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
        "SELECT q_id, CAST(rn AS INTEGER) AS rn, cand_id, cos_sim FROM r WHERE rn <= 10 ORDER BY q_id, rn"),
    "q_caption_dedup_lsh" ->
      ("WITH " + embedBucketCtes() + ", " +
        "t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "shl AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "pr AS (SELECT va, vb, cos_sim FROM (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        cosSql("a", "b") + " AS cos_sim " +
        "FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) WHERE cos_sim >= 0.25) " +
        "SELECT pr.va, pr.vb, pr.cos_sim, " +
        "round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0 " +
        "ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(list_concat(a.sh, b.sh))) END, 4) AS text_jaccard, " +
        "(pr.cos_sim >= 0.3 AND text_jaccard < 0.5) AS caption_mismatch " +
        "FROM pr JOIN shl a ON pr.va = a.doc_id JOIN shl b ON pr.vb = b.doc_id " +
        "ORDER BY pr.va, pr.vb"),
    "q_ann_recall" -> annRecallSql(),
    "q_pq_ann" -> pqAnnSql(),
    "q_bpe_vocab" ->
      (bpeCtes() + " SELECT * FROM (" +
        (0 until 30).map(t =>
          s"""SELECT CAST($t AS INTEGER) AS "rank", l AS "left", r AS "right", CAST(c AS BIGINT) AS pair_count FROM b$t""")
          .mkString(" UNION ALL ") +
        """) ORDER BY "rank""""),
    // LEFT JOIN ON true (not CROSS JOIN): if the pair vocabulary exhausts
    // before 30 merges, the empty b_t must pass rows through unchanged
    // (COALESCE keeps ws) — a cross join with an empty b_t would zero the
    // whole segment table, where Scala's trainer just stops early
    "q_bpe_segment" ->
      (bpeCtes() +
        ", s0 AS (SELECT tok, f, " + bpeEncode("tok") + " AS ws FROM wf)" +
        (0 until 30).map(t =>
          s", s${t + 1} AS MATERIALIZED (SELECT tok, f, COALESCE(${bpeMerge("ws", s"b$t")}, ws) AS ws " +
            s"FROM s$t LEFT JOIN b$t b ON true)").mkString +
        " SELECT tok, CAST(f AS BIGINT) AS n, " +
        "array_to_string(string_split(trim(ws), '  '), ' ') AS pieces, " +
        "CAST(len(string_split(trim(ws), '  ')) AS INTEGER) AS n_pieces " +
        "FROM s30 ORDER BY tok"),
    // DoReMi one-step domain reweighting: q_unigram_logprob's per-doc CTE
    // feeds per-domain NLL; excess/softmax over 4-rounded decimals
    "q_doremi" ->
      ("WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents), " +
        "v AS (SELECT token, COUNT(*) AS n FROM e GROUP BY token), " +
        "tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM v), " +
        "lp AS (SELECT e.doc_id, CAST(round(CAST(AVG(log10(CAST(v.n AS DOUBLE) / tot.total)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_logp " +
        "FROM e JOIN v USING (token) CROSS JOIN tot GROUP BY e.doc_id), " +
        "sc AS (SELECT d.source, lp.mean_logp FROM lp JOIN documents d ON lp.doc_id = d.doc_id), " +
        "pd AS (SELECT source, count(*) AS n_docs, " +
        "CAST(round(CAST(avg(-mean_logp) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_nll FROM sc GROUP BY source), " +
        "bl AS (SELECT CAST(round(CAST(avg(-mean_logp) AS DECIMAL(20,8)), 4) AS DOUBLE) AS corpus_nll FROM sc), " +
        "ex AS (SELECT source, n_docs, mean_nll, greatest(mean_nll - corpus_nll, 0.0) AS excess FROM pd CROSS JOIN bl), " +
        s"z AS (SELECT sum(exp(${CorpusOps.DoremiEta} * excess)) AS z, count(*) AS k FROM ex) " +
        "SELECT source, n_docs, mean_nll, " +
        "CAST(round(CAST(excess AS DECIMAL(20,8)), 4) AS DOUBLE) AS excess_nll, " +
        s"CAST(round(CAST(exp(${CorpusOps.DoremiEta} * excess) / z.z AS DECIMAL(20,8)), 4) AS DOUBLE) AS alpha, " +
        s"CAST(round(CAST((1.0 - ${CorpusOps.DoremiSmooth}) * (exp(${CorpusOps.DoremiEta} * excess) / z.z) + ${CorpusOps.DoremiSmooth} / z.k AS DECIMAL(20,8)), 4) AS DOUBLE) AS mix_weight " +
        "FROM ex CROSS JOIN z ORDER BY source"),
    // DSIR importance resampling: hashed uni+bigram buckets, add-1
    // smoothed target/corpus models, Gumbel-top-k via md5-uniform noise,
    // keep above the 80th-percentile cut (quantile_cont = Spark
    // percentile's linear interpolation, cf. q_quality_deciles)
    "q_dsir" ->
      ("WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, source, unnest(list_concat(toks, " +
        "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS gram FROM t), " +
        s"pb AS (SELECT doc_id, source, ${md5h60("gram")} % ${CorpusOps.DsirBuckets} AS b, count(*) AS cnt FROM g GROUP BY 1, 2, 3), " +
        "cq AS (SELECT b, sum(cnt) AS n_q FROM pb GROUP BY b), " +
        s"ct AS (SELECT b, sum(cnt) AS n_t FROM pb WHERE source = '${CorpusOps.DsirTarget}' GROUP BY b), " +
        "tq AS (SELECT sum(n_q) AS nq_tot FROM cq), " +
        "tt AS (SELECT sum(n_t) AS nt_tot FROM ct), " +
        s"r AS (SELECT cq.b, ln(CAST(COALESCE(ct.n_t, 0) + 1 AS DOUBLE) / (tt.nt_tot + ${CorpusOps.DsirBuckets})) " +
        s"- ln(CAST(cq.n_q + 1 AS DOUBLE) / (tq.nq_tot + ${CorpusOps.DsirBuckets})) AS r " +
        "FROM cq LEFT JOIN ct ON cq.b = ct.b CROSS JOIN tq CROSS JOIN tt), " +
        "sc AS (SELECT pb.doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, sum(cnt * r.r) AS logw " +
        "FROM pb JOIN r ON pb.b = r.b GROUP BY pb.doc_id), " +
        "ky AS (SELECT doc_id, n_grams, " +
        "CAST(round(CAST(logw AS DECIMAL(20,8)), 4) AS DOUBLE) AS log_weight, " +
        "CAST(round(CAST(logw - ln(-ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 4)) AS BIGINT) + 0.5) / 65536.0)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS gumbel_key " +
        "FROM sc), " +
        s"cut AS (SELECT CAST(round(CAST(quantile_cont(gumbel_key, ${1.0 - CorpusOps.DsirKeepFrac}) AS DECIMAL(20,8)), 4) AS DOUBLE) AS c FROM ky) " +
        "SELECT doc_id, n_grams, log_weight, gumbel_key, (gumbel_key > c) AS keep " +
        "FROM ky CROSS JOIN cut ORDER BY doc_id"),
    // pixel-level perceptual hash: deterministic resample to 60 "pixels"
    // (the q_resize_meta substring-arithmetic twin), integer-mean bits,
    // the same 4x15 Hamming banding as q_simhash_pairs, reported per item
    "q_phash_dedup" ->
      ("WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE n_chars > 0), " +
        // '//' = integer floor division, matching the JVM resample's
        // (i*len)/bits on non-negative longs; plain '/' is FLOAT division
        // in DuckDB and CAST rounds half-even — off-by-one pixel picks
        // (and one past-the-end substr) on any len not divisible by 60
        "px AS (SELECT doc_id, i.i AS pix_idx, " +
        "ascii(substr(text, CAST((i.i * len) // 60 AS INTEGER) + 1, 1)) AS pv " +
        "FROM d CROSS JOIN range(60) i(i)), " +
        "st AS (SELECT doc_id, sum(pv) AS s FROM px GROUP BY doc_id), " +
        "ph AS (SELECT px.doc_id, CAST(sum(CASE WHEN pv * 60 > s THEN (CAST(1 AS BIGINT) << pix_idx) ELSE 0 END) AS BIGINT) AS phash " +
        "FROM px JOIN st ON px.doc_id = st.doc_id GROUP BY px.doc_id), " +
        "bands AS (SELECT doc_id, phash, bd.band, (phash >> (bd.band * 15)) & 32767 AS bkey " +
        "FROM ph CROSS JOIN range(4) bd(band)), " +
        "pr AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db " +
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.phash, b.phash)) <= 3), " +
        "edges AS (SELECT da AS doc_id, db AS nbr FROM pr UNION ALL SELECT db AS doc_id, da AS nbr FROM pr) " +
        // phash in the output = a direct 60-bit fingerprint check per row,
        // so the oracle is never vacuous on a pair-free corpus
        "SELECT p.doc_id, p.phash, CAST(least(COALESCE(min(e.nbr), p.doc_id), p.doc_id) AS BIGINT) AS cluster_rep, " +
        "CAST(count(e.nbr) AS BIGINT) AS n_near_dups " +
        "FROM ph p LEFT JOIN edges e ON p.doc_id = e.doc_id " +
        "GROUP BY p.doc_id, p.phash ORDER BY p.doc_id"),
    // k-means family: the iterative Lloyd trainer unrolled as chained CTEs
    // (round-8 port from rows-only; see lloydCtes)
    "q_sim_ivf" -> ivfSearchSql(nprobe = 4, topk = 10, nq = 5),
    "q_ivf_balance" ->
      (lloydCtes() +
        ", cells AS (SELECT cid AS centroid_id, count(*) AS n_vecs FROM af GROUP BY cid), " +
        "tot AS (SELECT CAST(sum(n_vecs) AS DOUBLE) AS n_total, " +
        "CAST(max(n_vecs) AS DOUBLE) AS n_max, CAST(count(*) AS DOUBLE) AS n_cells FROM cells) " +
        "SELECT centroid_id, n_vecs, " +
        "CAST(round(CAST(n_vecs / n_total AS DECIMAL(20,8)), 4) AS DOUBLE) AS share, " +
        "CAST(round(CAST(n_max / (n_total / n_cells) AS DECIMAL(20,8)), 4) AS DOUBLE) AS imbalance_factor, " +
        s"CAST(${graft.operators.IvfOps.DefaultK} - CAST(n_cells AS BIGINT) AS BIGINT) AS n_empty_cells " +
        "FROM cells CROSS JOIN tot ORDER BY centroid_id"),
    "q_cluster_purity" ->
      (lloydCtes() +
        ", lab AS (SELECT a.cid AS centroid_id, e.label FROM af a JOIN e ON a.vec_id = e.vec_id), " +
        "cl AS (SELECT centroid_id, label, count(*) AS cnt FROM lab GROUP BY centroid_id, label), " +
        // integer-count argmax, ties to the smaller label — same rule as
        // Spark's max(struct(cnt, -label))
        "tc AS (SELECT centroid_id, label, cnt, " +
        "row_number() OVER (PARTITION BY centroid_id ORDER BY cnt DESC, label) AS rk FROM cl), " +
        "nv AS (SELECT centroid_id, sum(cnt) AS n_vecs FROM cl GROUP BY centroid_id), " +
        "pc AS (SELECT nv.centroid_id, CAST(nv.n_vecs AS BIGINT) AS n_vecs, tc.label AS top_label, " +
        "CAST(tc.cnt AS BIGINT) AS n_top, " +
        "CAST(round(CAST(CAST(tc.cnt AS DOUBLE) / nv.n_vecs AS DECIMAL(20,8)), 4) AS DOUBLE) AS purity " +
        "FROM nv JOIN tc ON nv.centroid_id = tc.centroid_id AND tc.rk = 1), " +
        "allr AS (SELECT CAST(-1 AS INTEGER) AS centroid_id, CAST(sum(n_vecs) AS BIGINT) AS n_vecs, " +
        "CAST(-1 AS INTEGER) AS top_label, CAST(sum(n_top) AS BIGINT) AS n_top, " +
        "CAST(round(CAST(CAST(sum(n_top) AS DOUBLE) / sum(n_vecs) AS DECIMAL(20,8)), 4) AS DOUBLE) AS purity FROM pc) " +
        "SELECT * FROM pc UNION ALL SELECT * FROM allr ORDER BY centroid_id"),
    "q_semdedup" ->
      (lloydCtes() +
        ", n AS (SELECT vec_id, v, cid, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM af), " +
        "dups AS (SELECT b.vec_id, count(*) AS n_earlier_dups FROM n a JOIN n b " +
        "ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE round(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.25 " +
        "GROUP BY b.vec_id) " +
        "SELECT e.vec_id, d.vec_id IS NULL AS keep, COALESCE(d.n_earlier_dups, 0) AS n_earlier_dups " +
        "FROM e LEFT JOIN dups d ON e.vec_id = d.vec_id ORDER BY e.vec_id"),
    "q_multimodal_meta" ->
      ("SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes, " +
        "CAST(ascii(text) % 4 AS INTEGER) AS format_id, md5(text) AS content_hash " +
        "FROM documents ORDER BY doc_id"),
    // token-length sample stream (the documented decode stand-in), 16-wide
    // RMS windows, silence threshold 4.5, first/last voiced trim pointers
    "q_audio_trim" ->
      ("WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'), " +
        "x -> length(x)) AS s FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(s) AS INTEGER) AS n_samples, " +
        "CAST(len(s) // 16 AS INTEGER) AS nw, s FROM t), " +
        "r AS (SELECT doc_id, n_samples, nw, CASE WHEN nw > 0 THEN " +
        "list_transform(range(0, nw), w -> sqrt(CAST(list_sum(" +
        "list_transform(list_slice(s, CAST(w * 16 + 1 AS INTEGER), CAST(w * 16 + 16 AS INTEGER)), " +
        "x -> CAST(x AS BIGINT) * x)) AS DOUBLE) / 16)) " +
        "ELSE CAST([] AS DOUBLE[]) END AS rms FROM b), " +
        "v AS (SELECT doc_id, n_samples, nw, CASE WHEN nw > 0 THEN " +
        "list_filter(range(0, nw), w -> rms[CAST(w + 1 AS INTEGER)] >= 4.5) " +
        "ELSE CAST([] AS BIGINT[]) END AS voiced FROM r) " +
        "SELECT doc_id, n_samples, nw AS n_windows, " +
        "CAST(round(CAST(CASE WHEN nw > 0 THEN CAST(nw - len(voiced) AS DOUBLE) / nw " +
        "ELSE 0.0 END AS DECIMAL(20,8)), 4) AS DOUBLE) AS silence_frac, " +
        "CAST(CASE WHEN len(voiced) > 0 THEN voiced[1] ELSE -1 END AS INTEGER) AS trim_start, " +
        "CAST(CASE WHEN len(voiced) > 0 THEN voiced[-1] ELSE -1 END AS INTEGER) AS trim_end " +
        "FROM v ORDER BY doc_id"),
    "q_union" ->
      ("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 200000 " +
        "UNION SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "ORDER BY o_orderkey"),
    "q_intersect" ->
      ("SELECT c_custkey FROM customer WHERE c_acctbal > 0 " +
        "INTERSECT SELECT c_custkey FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') " +
        "ORDER BY c_custkey"),
    "q_except" ->
      ("SELECT c_custkey FROM customer WHERE c_acctbal > 0 " +
        "EXCEPT SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING' " +
        "ORDER BY c_custkey"),
    "q_distinct" ->
      ("SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders " +
        "ORDER BY o_orderstatus, o_orderpriority"),
    "q_rollup" ->
      ("SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, CAST(month(o_orderdate) AS INTEGER) AS mon, " +
        "COUNT(*) AS n_orders, round(SUM(o_totalprice), 4) AS sum_total " +
        "FROM orders GROUP BY ROLLUP(yr, mon) " +
        "ORDER BY yr ASC NULLS FIRST, mon ASC NULLS FIRST"),
    "q_window_analytics" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS price_rank, " +
        "round(lag(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS prev_price, " +
        "round(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total " +
        "FROM orders ORDER BY o_custkey, o_orderkey"),
    "q_pivot" ->
      ("SELECT o_orderpriority, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_null_handling" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "round(coalesce(nullif(l_discount, 0.0), -1.0), 4) AS disc_or_flag, " +
        "CASE WHEN l_tax > 0.05 THEN 'high' ELSE 'low' END AS tax_band " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice"),
    "q_string_funcs" ->
      ("SELECT c_custkey, upper(c_name) AS name_upper, substring(c_name, 1, 8) AS name_prefix, " +
        "CAST(length(c_name) AS INTEGER) AS name_len, reverse(c_mktsegment) AS seg_rev, " +
        "concat_ws('|', c_mktsegment, c_name) AS seg_name, " +
        "replace(c_name, 'Customer', 'Cust') AS name_short " +
        "FROM customer ORDER BY c_custkey"),
    "q_date_funcs" ->
      ("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d, " +
        "CAST(year(o_orderdate) AS INTEGER) AS yr, CAST(quarter(o_orderdate) AS INTEGER) AS qtr, " +
        "CAST(o_orderdate AS DATE) + 30 AS due_date, last_day(o_orderdate) AS month_end, " +
        "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS INTEGER) AS age_days " +
        "FROM orders ORDER BY o_orderkey"),
    "q_math_funcs" ->
      ("SELECT l_orderkey, l_linenumber, round(sqrt(l_extendedprice), 4) AS price_sqrt, " +
        "round(ln(l_extendedprice + 1), 4) AS price_ln, " +
        "CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil, " +
        "CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct, " +
        "abs(l_quantity - 25) AS qty_dev, l_orderkey % 7 AS key_mod " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice"),
    "q_array_funcs" ->
      ("SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim, " +
        "round(CAST(embedding[1] AS DOUBLE), 4) AS first_val, " +
        "round(CAST(embedding[-1] AS DOUBLE), 4) AS last_val, " +
        "CAST(len(embedding[1:8]) AS INTEGER) AS head_len " +
        "FROM embeddings ORDER BY vec_id"),
    "q_asof_join" ->
      ("WITH v AS (SELECT event_id AS view_id, user_id, ts FROM events WHERE event_type = 'view'), " +
        "p AS (SELECT user_id, ts, max(event_id) AS purchase_id FROM events " +
        "WHERE event_type = 'purchase' GROUP BY user_id, ts) " +
        "SELECT v.view_id, v.user_id, p.purchase_id " +
        "FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts " +
        "ORDER BY v.view_id"),
    "q_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders FROM orders " +
        "GROUP BY CUBE(o_orderstatus, o_orderpriority) " +
        "ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"),
    "q_range_join" ->
      ("SELECT band, COUNT(*) AS n_items, round(SUM(l_extendedprice), 4) AS sum_price " +
        "FROM lineitem JOIN (VALUES ('small', 0.0, 10.0), ('mid', 10.0, 25.0), " +
        "('large', 25.0, 51.0)) AS bands(band, lo, hi) " +
        "ON l_quantity >= lo AND l_quantity < hi GROUP BY band ORDER BY band"),
    "q_stats_agg_sketch" ->
      ("SELECT l_returnflag, round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows, " +
        "TRUE AS median_rank_ok, TRUE AS p90_rank_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_stats_agg" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.5), 4) AS median_qty, " +
        "round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price, " +
        "round(stddev_samp(l_quantity), 4) AS sd_qty, " +
        "COUNT(DISTINCT l_partkey) AS n_parts " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_token_bpe" ->
      ("SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_ws_tokens " +
        "FROM documents ORDER BY doc_id"),
    "q_sessionize" ->
      ("WITH g AS (SELECT user_id, event_id, ts, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE " +
        "THEN 1 ELSE 0 END AS new_sess FROM events), " +
        "s AS (SELECT user_id, value, " +
        "CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS sess_id FROM g) " +
        "SELECT user_id, sess_id, COUNT(*) AS n_events, round(SUM(value), 4) AS sum_value " +
        "FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id"),
    "q_topk_custom" ->
      ("SELECT o_orderpriority, o_orderkey, round(o_totalprice, 4) AS o_totalprice " +
        "FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 5 ORDER BY o_orderpriority, o_orderkey"),
    "q_interval_join" ->
      ("SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id " +
        "FROM (SELECT * FROM events WHERE event_type = 'view') v " +
        "JOIN (SELECT * FROM events WHERE event_type = 'purchase') p " +
        "ON v.user_id = p.user_id AND p.ts >= v.ts " +
        "AND p.ts <= v.ts + INTERVAL 30 MINUTE " +
        "ORDER BY view_id, purchase_id"),
    "q_grouping_sets" ->
      ("SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders, " +
        "round(SUM(o_totalprice), 4) AS sum_total FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ()) " +
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"),
    "q_skew_join" ->
      ("SELECT p_brand, COUNT(*) AS n_items, round(SUM(l_extendedprice), 4) AS total " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "q_chunk_docs" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, len(toks) AS n_toks, " +
        "unnest(generate_series(0, CAST(ceil(len(toks)/50.0) AS BIGINT)-1)) AS i FROM t) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS chunk_id, " +
        "CAST(least(50, n_toks - i*50) AS INTEGER) AS n_tokens, " +
        "md5(array_to_string(list_slice(toks, i*50+1, i*50+50), ' ')) AS chunk_md5 " +
        "FROM e ORDER BY doc_id, chunk_id"),
    "q_sample_hash" ->
      ("SELECT doc_id, lang FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' ORDER BY doc_id"),
    "q_pii_redact" ->
      ("WITH t AS (SELECT doc_id, text || ' contact: user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call 555-123-4567 now' AS txt FROM documents) " +
        "SELECT doc_id, md5(regexp_replace(regexp_replace(txt, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '<PHONE>', 'g')) AS redacted_md5 " +
        "FROM t ORDER BY doc_id"),
    "q_vocab_topk" ->
      ("WITH t AS (SELECT list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')) AS toks FROM documents), " +
        "x AS (SELECT unnest(toks) AS token FROM t) " +
        "SELECT token, COUNT(*) AS doc_freq FROM x GROUP BY token " +
        "ORDER BY doc_freq DESC, token LIMIT 50"),
    // exact BECAUSE the sketch never purges at shipped SFs (distinct tokens
    // << the declared 2^15 map): est = lb = ub = the true count, so the
    // oracle is the plain frequency table
    "q_heavy_hitters" ->
      ("WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "x AS (SELECT unnest(toks) AS token FROM t), " +
        "c AS (SELECT token, COUNT(*) AS n FROM x GROUP BY token) " +
        "SELECT token, n AS est, n AS lb, n AS ub FROM c " +
        "ORDER BY est DESC, token LIMIT 30"),
    // the sequential greedy packing replayed one row per recursion step:
    // each bin's state (seq_id, used) advances down its doc_id-ordered
    // stream; the final grouping recovers per-sequence doc counts and spans
    "q_pack" ->
      ("WITH RECURSIVE d AS (SELECT CAST(doc_id % 32 AS INTEGER) AS bin, doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_toks FROM documents), " +
        "r AS (SELECT bin, doc_id, n_toks, " +
        "CAST(row_number() OVER (PARTITION BY bin ORDER BY doc_id) AS INTEGER) AS rn " +
        "FROM d WHERE n_toks BETWEEN 1 AND 256), " +
        "s AS (SELECT bin, rn, doc_id, n_toks, 0 AS seq_id, n_toks AS used " +
        "FROM r WHERE rn = 1 " +
        "UNION ALL " +
        "SELECT r.bin, r.rn, r.doc_id, r.n_toks, " +
        "CASE WHEN s.used + r.n_toks > 256 THEN s.seq_id + 1 ELSE s.seq_id END, " +
        "CASE WHEN s.used + r.n_toks > 256 THEN r.n_toks ELSE s.used + r.n_toks END " +
        "FROM s JOIN r ON r.bin = s.bin AND r.rn = s.rn + 1) " +
        "SELECT bin, seq_id, CAST(COUNT(*) AS INTEGER) AS n_docs, " +
        "CAST(SUM(n_toks) AS INTEGER) AS total_tokens, " +
        "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc " +
        "FROM s GROUP BY bin, seq_id ORDER BY bin, seq_id"),
    "q_explode_tokens" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, " +
        "unnest(generate_series(0, CAST(least(len(toks), 20) AS BIGINT)-1)) AS i FROM t) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i+1] AS token " +
        "FROM e ORDER BY doc_id, pos"),
    "q_udaf_stats" ->
      ("SELECT l_returnflag, SUM(l_quantity * l_quantity) AS sum_sq_qty, " +
        "round(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_union_by_name" ->
      ("SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, 'hi' AS src " +
        "FROM orders WHERE o_totalprice > 200000 " +
        "UNION ALL BY NAME " +
        "SELECT o_orderkey, 'urgent' AS src, o_orderpriority " +
        "FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "ORDER BY o_orderkey, src"),
    "q_window_range" ->
      ("WITH e AS (SELECT event_id, user_id, " +
        "CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS epoch, value FROM events) " +
        "SELECT event_id, user_id, epoch, " +
        "round(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch " +
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4) AS hour_sum " +
        "FROM e ORDER BY event_id"),
    "q_outer_join" ->
      ("SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey, " +
        "c.c_mktsegment AS seg, o.n_orders " +
        "FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c " +
        "FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o " +
        "ON c.c_custkey = o.o_custkey ORDER BY custkey"),
    "q_subquery_agg" ->
      ("WITH a AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS thr FROM orders) " +
        "SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice, " +
        "CAST(round(CAST(thr AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_tp " +
        "FROM orders, a WHERE o_totalprice > thr " +
        "ORDER BY o_orderkey"),
    "q_string_agg" ->
      ("SELECT o_orderpriority, " +
        "string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses, " +
        "COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority " +
        "ORDER BY o_orderpriority"),
    "q_regex_funcs" ->
      ("SELECT c_custkey, " +
        "CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS INTEGER) AS cust_num, " +
        "regexp_replace(c_name, '\\d', '*', 'g') AS masked, " +
        "regexp_matches(c_name, '99') AS has_double9 " +
        "FROM customer ORDER BY c_custkey"),
    "q_window_nav" ->
      ("SELECT o_custkey, o_orderkey, " +
        "CAST(ntile(4) OVER w AS INTEGER) AS quartile, " +
        "round(first_value(o_totalprice) OVER w, 4) AS first_price, " +
        "round(nth_value(o_totalprice, 2) OVER w, 4) AS second_price, " +
        "round(lead(o_totalprice, 1) OVER w, 4) AS next_price " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "q_having" ->
      ("SELECT o_custkey, COUNT(*) AS n_orders, round(SUM(o_totalprice), 4) AS sum_total " +
        "FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5 ORDER BY o_custkey"),
    "q_map_funcs" ->
      ("SELECT o_orderpriority, CAST(COUNT(DISTINCT o_orderstatus) AS INTEGER) AS n_statuses, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_struct_funcs" ->
      ("SELECT l_orderkey, round(l_extendedprice, 4) AS max_price, " +
        "l_partkey AS max_partkey, l_suppkey AS max_suppkey " +
        "FROM (SELECT l_orderkey, l_extendedprice, l_partkey, l_suppkey, " +
        "ROW_NUMBER() OVER (PARTITION BY l_orderkey " +
        "ORDER BY l_extendedprice DESC, l_partkey DESC, l_suppkey DESC) AS rn " +
        "FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey"),
    "q_cross_grid" ->
      ("SELECT p.o_orderpriority, s.o_orderstatus, " +
        "CAST(coalesce(c.n, 0) AS BIGINT) AS n_orders " +
        "FROM (SELECT DISTINCT o_orderpriority FROM orders) p " +
        "CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s " +
        "LEFT JOIN (SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n " +
        "FROM orders GROUP BY 1, 2) c " +
        "ON p.o_orderpriority = c.o_orderpriority AND s.o_orderstatus = c.o_orderstatus " +
        "ORDER BY p.o_orderpriority, s.o_orderstatus"),
    "q_tfidf" ->
      ("WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "r AS (SELECT doc_id, token, tf, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS rn FROM tf) " +
        "SELECT r.doc_id, r.token AS top_token, r.tf, df.df, " +
        "CAST(round(CAST(r.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS tfidf " +
        "FROM r JOIN df ON r.token = df.token CROSS JOIN n WHERE rn = 1 ORDER BY r.doc_id"),
    "q_latest_event" ->
      ("SELECT user_id, event_id, event_type, " +
        "CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS epoch, " +
        "round(value, 4) AS value " +
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY user_id"),
    "q_unpivot" ->
      ("WITH p AS (SELECT o_orderpriority, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o, " +
        "CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p " +
        "FROM orders GROUP BY o_orderpriority) " +
        "SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM p " +
        "UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM p " +
        "UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM p " +
        "ORDER BY o_orderpriority, status_col"),
    "q_corr_stats" ->
      ("SELECT l_returnflag, " +
        "CAST(round(CAST(corr(l_quantity, l_extendedprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS qty_price_corr, " +
        "CAST(round(CAST(covar_samp(l_quantity, l_extendedprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS qty_price_covar, " +
        "COUNT(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_date_spine" ->
      ("WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo, " +
        "date_trunc('month', max(o_orderdate)) AS hi FROM orders), " +
        "s AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE) AS month_start FROM b), " +
        "c AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start, " +
        "COUNT(*) AS n_orders FROM orders GROUP BY 1) " +
        "SELECT s.month_start, CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders " +
        "FROM s LEFT JOIN c ON s.month_start = c.month_start " +
        "ORDER BY s.month_start"),
    "q_lambda_funcs" ->
      ("SELECT vec_id, " +
        "CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos, " +
        "CAST(round(CAST(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DECIMAL(20,8)), 4) AS DOUBLE) AS sum_sq, " +
        "CAST(round(CAST(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DECIMAL(20,8)), 4) AS DOUBLE) AS self_dot " +
        "FROM embeddings ORDER BY vec_id"),
    "q_edit_distance" ->
      ("WITH p AS (SELECT doc_id, substring(lower(text), 1, 16) AS pref, " +
        "substring(lower(text), 1, 2) AS blk FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(levenshtein(a.pref, b.pref) AS INTEGER) AS dist " +
        "FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.pref, b.pref) <= 5 " +
        "ORDER BY dist, da, db LIMIT 20"),
    "q_edit_distance_blocked" ->
      ("WITH p AS (SELECT doc_id, substring(lower(text), 1, 16) AS pref, " +
        "substring(lower(text), 1, 4) AS blk FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(levenshtein(a.pref, b.pref) AS INTEGER) AS dist " +
        "FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE levenshtein(a.pref, b.pref) <= 5 " +
        "ORDER BY dist, da, db LIMIT 20"),
    "q_histogram" ->
      ("SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket, " +
        "COUNT(*) AS n_orders, round(MIN(o_totalprice), 4) AS lo, " +
        "round(MAX(o_totalprice), 4) AS hi " +
        "FROM orders GROUP BY 1 ORDER BY bucket"),
    "q_normalize" ->
      ("WITH b AS (SELECT min(o_totalprice) AS tp_min, max(o_totalprice) AS tp_max FROM orders) " +
        "SELECT o_orderkey, " +
        "CAST(round(CAST((o_totalprice - b.tp_min) / (b.tp_max - b.tp_min) AS DECIMAL(20,8)), 4) AS DOUBLE) AS tp_norm " +
        "FROM orders CROSS JOIN b ORDER BY o_orderkey"),
    // Spark session windows have an INCLUSIVE end (verified in
    // Round3OpsSpec): an event exactly `gap` after its predecessor still
    // merges, so the break flag is `diff > gap`.
    "q_session_window" ->
      ("WITH g AS (SELECT user_id, event_id, ts, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
        "OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000 " +
        "THEN 1 ELSE 0 END AS brk FROM events), " +
        "s AS (SELECT user_id, event_id, ts, " +
        "SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM g) " +
        "SELECT user_id, CAST(floor(min(epoch_us(ts)) / 1000000) AS BIGINT) AS sess_start, " +
        "COUNT(*) AS n_events, min(event_id) AS first_event, max(event_id) AS last_event " +
        "FROM s GROUP BY user_id, sess ORDER BY user_id, sess_start"),
    "q_event_funnel" ->
      ("WITH v AS (SELECT user_id, min(epoch_us(ts)) AS first_view_us " +
        "FROM events WHERE event_type = 'view' GROUP BY user_id), " +
        "p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us " +
        "FROM events e JOIN v ON e.user_id = v.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.first_view_us " +
        "GROUP BY e.user_id) " +
        "SELECT v.user_id, CAST(floor(v.first_view_us / 1000000) AS BIGINT) AS first_view_epoch, " +
        "p.user_id IS NOT NULL AS converted, " +
        "CAST(floor((p.first_purchase_us - v.first_view_us) / 1000000) AS BIGINT) AS latency_sec " +
        "FROM v LEFT JOIN p ON v.user_id = p.user_id ORDER BY v.user_id"),
    "q_rolling_rows" ->
      ("SELECT event_id, user_id, " +
        "CAST(COUNT(*) OVER w AS BIGINT) AS n_frame, " +
        "CAST(SUM(cents) OVER w AS BIGINT) AS cents_sum " +
        "FROM (SELECT event_id, user_id, CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events) " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    "q_minmax_by" ->
      ("SELECT c_mktsegment, arg_max(c_name, c_custkey) AS newest_customer, " +
        "arg_min(c_name, c_custkey) AS oldest_customer, COUNT(*) AS n_customers " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_window_rank" ->
      ("SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS o_totalprice, " +
        "percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume, " +
        "CAST(dense_rank() OVER w AS INTEGER) AS dr " +
        "FROM orders WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice) " +
        "ORDER BY o_orderkey"),
    "q_null_safe_join" ->
      ("WITH l AS (SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_key FROM orders), " +
        "g AS (SELECT nullif(o_orderstatus, 'P') AS g_key, COUNT(*) AS grp_n FROM orders GROUP BY 1) " +
        "SELECT l.o_orderkey, l.status_key, g.grp_n FROM l " +
        "JOIN g ON l.status_key IS NOT DISTINCT FROM g.g_key ORDER BY l.o_orderkey"),
    "q_ngram_freq" ->
      ("WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT toks, unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 1)) AS i FROM t) " +
        "SELECT toks[i] || ' ' || toks[i+1] AS bigram, COUNT(*) AS n " +
        "FROM e GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50"),
    "q_vocab_coverage" ->
      ("WITH c AS (SELECT token, COUNT(*) AS n FROM " +
        "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents) " +
        "GROUP BY token), " +
        "t AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 100) " +
        "SELECT token, n, CAST(round(CAST(CAST(SUM(n) OVER " +
        "(ORDER BY n DESC, token ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) " +
        "/ (SELECT SUM(n) FROM c) AS DECIMAL(20,8)), 4) AS DOUBLE) AS cum_share " +
        "FROM t ORDER BY n DESC, token"),
    "q_dedup_normkey" ->
      ("SELECT min(doc_id) AS doc_id, COUNT(*) AS n_variants, norm_key " +
        "FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_key FROM documents) " +
        "GROUP BY norm_key ORDER BY doc_id"),
    "q_repetition" ->
      ("WITH tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok " +
        "FROM documents) GROUP BY doc_id, tok) " +
        "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(round(CAST(1.0 - COUNT(*) / sum(c) AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_word_frac, " +
        "CAST(round(CAST(max(c) / sum(c) AS DECIMAL(20,8)), 4) AS DOUBLE) AS top_word_share " +
        "FROM tc GROUP BY doc_id ORDER BY doc_id"),
    "q_unigram_logprob" ->
      ("WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token " +
        "FROM documents), " +
        "v AS (SELECT token, COUNT(*) AS n FROM e GROUP BY token), " +
        "tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM v) " +
        "SELECT e.doc_id, COUNT(*) AS n_tokens, " +
        "CAST(round(CAST(AVG(log10(CAST(v.n AS DOUBLE) / tot.total)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_logp, " +
        "(CAST(round(CAST(AVG(log10(CAST(v.n AS DOUBLE) / tot.total)) AS DECIMAL(20,8)), 4) AS DOUBLE) < -3.5) AS low_quality " +
        "FROM e JOIN v USING (token) CROSS JOIN tot " +
        "GROUP BY e.doc_id ORDER BY e.doc_id"),
    "q_knn_label" ->
      ("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.label AS label, " +
        "round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) AS cos_sim " +
        "FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10), " +
        "r AS (SELECT q_id, label, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p), " +
        "v AS (SELECT q_id, label, COUNT(*) AS n_votes FROM r WHERE rn <= 10 GROUP BY q_id, label), " +
        "m AS (SELECT q_id, label, n_votes, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS mr FROM v) " +
        "SELECT m.q_id, m.label AS pred_label, m.n_votes, t.label AS true_label, " +
        "(m.label = t.label) AS correct " +
        "FROM m JOIN e t ON t.vec_id = m.q_id WHERE m.mr = 1 ORDER BY m.q_id"),
    "q_winsorize_sketch" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(round(CAST(AVG(l_extendedprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_raw, " +
        "TRUE AS lo_rank_ok, TRUE AS hi_rank_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_winsorize" ->
      ("WITH b AS (SELECT quantile_cont(l_extendedprice, 0.05) AS lo, " +
        "quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem) " +
        "SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(round(CAST(AVG(l_extendedprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_raw, " +
        "CAST(round(CAST(AVG(greatest(least(l_extendedprice, b.hi), b.lo)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_winsor " +
        "FROM lineitem CROSS JOIN b GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_bigram_logprob" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur " +
        "FROM (SELECT doc_id, toks, unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 1)) AS i FROM t)), " +
        "bc AS (SELECT prev, cur, COUNT(*) AS nbg FROM e GROUP BY 1, 2), " +
        "pc AS (SELECT prev, COUNT(*) AS nprev FROM e GROUP BY 1) " +
        "SELECT e.doc_id, COUNT(*) AS n_bigrams, " +
        "CAST(round(CAST(AVG(log10(CAST(bc.nbg AS DOUBLE) / pc.nprev)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_logp " +
        "FROM e JOIN bc USING (prev, cur) JOIN pc USING (prev) " +
        "GROUP BY e.doc_id ORDER BY e.doc_id"),
    "q_mad_outlier_sketch" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        "TRUE AS med_rank_ok, TRUE AS mad_rank_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_mad_outlier" ->
      ("WITH m AS (SELECT quantile_cont(l_extendedprice, 0.5) AS med FROM lineitem), " +
        "d AS (SELECT l_returnflag, l_extendedprice, m.med, " +
        "abs(l_extendedprice - m.med) AS adev FROM lineitem CROSS JOIN m), " +
        "md AS (SELECT quantile_cont(adev, 0.5) AS mad FROM d) " +
        "SELECT l_returnflag, COUNT(*) AS n, " +
        "CAST(SUM(CASE WHEN d.adev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST(round(CAST(MAX(d.med) AS DECIMAL(20,8)), 4) AS DOUBLE) AS med, " +
        "CAST(round(CAST(MAX(md.mad) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mad " +
        "FROM d CROSS JOIN md GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_quality_deciles" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_letter_chars, " +
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS sw_n " +
        "FROM documents), " +
        "d AS (SELECT doc_id, CAST(n_letter_chars AS DOUBLE) / n_tokens AS awl, " +
        "n_tokens, CAST(sw_n AS DOUBLE) / n_tokens AS swr FROM t), " +
        "s AS (SELECT doc_id, CAST(round(CAST(least(1.0, n_tokens / 50.0) * 0.5 " +
        "+ CASE WHEN awl BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END " +
        "+ least(0.2, swr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS qs FROM d), " +
        "c AS (SELECT quantile_cont(qs, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts FROM s), " +
        "b AS (SELECT CAST(len(list_filter(c.cuts, x -> " +
        "qs > CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE))) AS INTEGER) AS decile, qs " +
        "FROM s CROSS JOIN c) " +
        "SELECT decile, COUNT(*) AS n, " +
        "CAST(round(CAST(MIN(qs) AS DECIMAL(20,8)), 4) AS DOUBLE) AS lo, " +
        "CAST(round(CAST(MAX(qs) AS DECIMAL(20,8)), 4) AS DOUBLE) AS hi " +
        "FROM b GROUP BY decile ORDER BY decile"),
    "q_cohort" ->
      ("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events), " +
        "f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id), " +
        "a AS (SELECT DISTINCT e.user_id, f.cohort_day, " +
        "date_diff('day', f.cohort_day, e.d) AS day_n FROM e JOIN f USING (user_id)), " +
        "s AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM f GROUP BY cohort_day) " +
        "SELECT a.cohort_day, CAST(a.day_n AS INTEGER) AS day_n, COUNT(*) AS n_active, " +
        "CAST(MAX(s.cohort_size) AS BIGINT) AS cohort_size, " +
        "CAST(round(CAST(CAST(COUNT(*) AS DOUBLE) / MAX(s.cohort_size) AS DECIMAL(20,8)), 4) AS DOUBLE) AS retention " +
        "FROM a JOIN s USING (cohort_day) GROUP BY a.cohort_day, a.day_n " +
        "ORDER BY a.cohort_day, a.day_n"),
    "q_interpolate" ->
      ("WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi FROM events), " +
        "s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b), " +
        "o AS (SELECT date_trunc('hour', ts) AS h, " +
        "CAST(round(CAST(SUM(value) AS DECIMAL(20,8)), 4) AS DOUBLE) AS v " +
        "FROM events WHERE event_type = 'purchase' GROUP BY 1), " +
        "j AS (SELECT CAST(s.h AS TIMESTAMP) AS h, o.v FROM s LEFT JOIN o ON s.h = o.h), " +
        "w AS (SELECT h, v, " +
        "last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph, " +
        "last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, " +
        "first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh, " +
        "first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS) OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv " +
        "FROM j) " +
        "SELECT h, (v IS NULL) AS interpolated, " +
        "CAST(round(CAST(CASE WHEN v IS NOT NULL THEN v " +
        "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * (epoch(h) - epoch(ph)) / (epoch(nh) - epoch(ph)) END " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS v_filled " +
        "FROM w ORDER BY h"),
    "q_rfm" ->
      ("WITH m0 AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders), " +
        "p AS (SELECT o_custkey, " +
        "CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), m0.d0)) AS DOUBLE) AS recency, " +
        "CAST(COUNT(*) AS DOUBLE) AS frequency, " +
        "CAST(round(CAST(SUM(o_totalprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS monetary " +
        "FROM orders CROSS JOIN m0 GROUP BY o_custkey), " +
        "c AS (SELECT quantile_cont(recency, [0.25, 0.5, 0.75]) AS rc, " +
        "quantile_cont(frequency, [0.25, 0.5, 0.75]) AS fc, " +
        "quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc FROM p), " +
        "b AS (SELECT o_custkey, monetary, " +
        "5 - (1 + len(list_filter(c.rc, x -> recency > CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE)))) AS r, " +
        "1 + len(list_filter(c.fc, x -> frequency > CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE))) AS f, " +
        "1 + len(list_filter(c.mc, x -> monetary > CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE))) AS m " +
        "FROM p CROSS JOIN c) " +
        "SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment, " +
        "COUNT(*) AS n_customers, " +
        "CAST(round(CAST(AVG(monetary) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_monetary " +
        "FROM b GROUP BY 1 ORDER BY segment"),
    "q_stratified_sample" ->
      ("SELECT doc_id, lang FROM documents " +
        "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < " +
        "CASE WHEN lang = 'en' THEN '0d' ELSE '33' END ORDER BY doc_id"),
    "q_sample_group" ->
      ("SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn FROM " +
        "(SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
        "WHERE rn <= 25 ORDER BY lang, rn"),
    "q_doc_dupe_rate" ->
      ("SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_distinct, " +
        "CAST(round(CAST(1.0 - COUNT(DISTINCT text) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_rate " +
        "FROM documents GROUP BY lang ORDER BY lang"),
    // semantics of the Bloom pre-filter + exact semi join = plain IN subquery
    "q_bloom_join" ->
      ("SELECT l_returnflag, COUNT(*) AS n_items, " +
        "round(SUM(l_quantity), 4) AS sum_qty, " +
        "round(SUM(l_extendedprice), 4) AS total " +
        "FROM lineitem WHERE l_orderkey IN " +
        "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // same score pipeline as q_quality_score; the uniform draw is the first
    // 4 md5 hex digits of doc_id over 2^16 on both engines
    "q_weighted_sample" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_letter_chars, " +
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS sw_n " +
        "FROM documents), " +
        "d AS (SELECT doc_id, n_tokens, " +
        "CAST(n_letter_chars AS DOUBLE) / n_tokens AS awl, " +
        "CAST(sw_n AS DOUBLE) / n_tokens AS swr FROM t), " +
        "s AS (SELECT doc_id, " +
        "CAST(round(CAST(least(1.0, n_tokens / 50.0) * 0.5 + CASE WHEN awl BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END + least(0.2, swr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS quality_score " +
        "FROM d) " +
        "SELECT doc_id, quality_score FROM s " +
        "WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) / 65536.0 < quality_score " +
        "ORDER BY doc_id"),
    "q_upsert" ->
      ("WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders), " +
        "c AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice " +
        "FROM o WHERE o_orderkey % 10 = 0), " +
        "i AS (SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice " +
        "FROM o WHERE o_orderkey % 1000 = 1), " +
        "u AS (SELECT * FROM c UNION ALL SELECT * FROM i), " +
        "m AS (SELECT * FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u) " +
        "UNION ALL SELECT * FROM u) " +
        "SELECT o_orderstatus, COUNT(*) AS n, round(SUM(o_totalprice), 4) AS total " +
        "FROM m GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "q_decontaminate" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "e AS (SELECT doc_id AS eval_id, shingle FROM x WHERE doc_id % 13 = 0), " +
        "tr AS (SELECT doc_id AS train_id, shingle FROM x WHERE doc_id % 13 <> 0) " +
        "SELECT train_id, eval_id, COUNT(*) AS n_shared " +
        "FROM tr JOIN e USING (shingle) GROUP BY train_id, eval_id " +
        "ORDER BY n_shared DESC, train_id, eval_id LIMIT 100"),
    "q_source_mix" ->
      ("WITH c AS (SELECT source, lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source, lang), " +
        "t AS (SELECT COUNT(*) AS total_docs FROM documents) " +
        "SELECT source, lang, n_docs, n_tokens, " +
        "CAST(round(CAST(n_docs / total_docs AS DECIMAL(20,8)), 4) AS DOUBLE) AS doc_share " +
        "FROM c CROSS JOIN t ORDER BY source, lang"),
    // integer checksums over the int8 levels: any per-element divergence
    // between engines flips q_sum/q_norm
    "q_embed_quant" ->
      ("WITH s AS (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale " +
        "FROM embeddings), " +
        "q AS (SELECT vec_id, scale, " +
        "CASE WHEN scale = 0 THEN NULL " +
        "ELSE list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) END AS lv " +
        "FROM s) " +
        "SELECT vec_id, CAST(round(CAST(scale AS DECIMAL(20,8)), 4) AS DOUBLE) AS scale4, " +
        "CASE WHEN scale = 0 THEN 0 ELSE CAST(list_sum(lv) AS BIGINT) END AS q_sum, " +
        "CASE WHEN scale = 0 THEN 0 ELSE CAST(list_sum(list_transform(lv, l -> l * l)) AS BIGINT) END AS q_norm " +
        "FROM q ORDER BY vec_id"),
    "q_dedup_para" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, " +
        "unnest(generate_series(0, CAST(ceil(len(toks)/20.0) AS BIGINT)-1)) AS i FROM t), " +
        "s AS (SELECT doc_id, i AS seg_id, " +
        "md5(array_to_string(list_slice(toks, i*20+1, i*20+20), ' ')) AS seg_md5 FROM e), " +
        "f AS (SELECT seg_md5, min(doc_id*100000 + seg_id) AS first_key FROM s GROUP BY 1), " +
        "k AS (SELECT first_key // 100000 AS doc_id, count(*) AS n_kept FROM f GROUP BY 1), " +
        "tot AS (SELECT doc_id, CAST(ceil(len(toks)/20.0) AS INTEGER) AS n_segments FROM t) " +
        "SELECT tot.doc_id, n_segments, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, " +
        "CAST(round(CAST(CAST(coalesce(n_kept, 0) AS DOUBLE)/n_segments AS DECIMAL(20,8)), 4) AS DOUBLE) AS kept_ratio " +
        "FROM tot LEFT JOIN k ON tot.doc_id = k.doc_id ORDER BY tot.doc_id"),
    "q_repeated_ngrams" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh FROM t), " +
        "x AS (SELECT unnest(sh) AS shingle FROM s) " +
        "SELECT shingle, count(*) AS n_docs FROM x GROUP BY 1 HAVING count(*) >= 2 " +
        "ORDER BY n_docs DESC, shingle LIMIT 40"),
    "q_shard" ->
      ("SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard, " +
        "count(*) AS n_docs, " +
        "CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM documents GROUP BY 1 ORDER BY shard"),
    // seeded global permutation: md5(seed:doc_id) order, first-hex-digit
    // range shards, per-shard head checksum over the first 8 ids
    "q_epoch_shuffle" ->
      ("WITH k AS (SELECT doc_id, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks, " +
        "md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents), " +
        "r AS (SELECT doc_id, n_toks, substr(k, 1, 1) AS shard, " +
        "ROW_NUMBER() OVER (PARTITION BY substr(k, 1, 1) " +
        "ORDER BY k, doc_id) AS rn FROM k) " +
        "SELECT shard, count(*) AS n_docs, " +
        "CAST(sum(n_toks) AS BIGINT) AS n_tokens, " +
        "CAST(sum(CASE WHEN rn <= 8 THEN rn * doc_id END) AS BIGINT) AS head_checksum " +
        "FROM r GROUP BY shard ORDER BY shard"),
    // t-closeness: TVD between class and global sensitive distributions,
    // all exact-integer count ratios
    "q_t_closeness" -> {
      "WITH cells AS (SELECT c_nationkey AS nation, c_mktsegment AS segment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, count(*) AS c " +
        "FROM customer GROUP BY 1, 2, 3), " +
        "g AS (SELECT nation, segment, CAST(sum(c) AS BIGINT) AS n_g FROM cells GROUP BY 1, 2), " +
        "gv AS (SELECT bal_band, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), " +
        "dist AS (SELECT g.nation, g.segment, max(g.n_g) AS class_size, " +
        "sum(abs(CAST(COALESCE(cells.c, 0) AS DOUBLE) / g.n_g - CAST(gv.cv AS DOUBLE) / tot.n)) / 2 AS t_raw " +
        "FROM g CROSS JOIN gv CROSS JOIN tot " +
        "LEFT JOIN cells ON cells.nation = g.nation AND cells.segment = g.segment AND cells.bal_band = gv.bal_band " +
        "GROUP BY g.nation, g.segment) " +
        "SELECT nation, segment, class_size, " + r4("t_raw") + " AS t_dist " +
        "FROM dist ORDER BY t_dist DESC, nation, segment"
    },
    // Jarque-Bera: value-compressed central moments per source
    "q_jarque_bera" -> {
      "WITH vc AS (SELECT source, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2), " +
        "m AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(sum(v * c) AS DOUBLE) / sum(c) AS mu FROM vc GROUP BY 1), " +
        "mom AS (SELECT vc.source, max(m.n) AS n_docs, " +
        "sum(c * (v - mu) * (v - mu)) / max(m.n) AS m2, " +
        "sum(c * (v - mu) * (v - mu) * (v - mu)) / max(m.n) AS m3, " +
        "sum(c * (v - mu) * (v - mu) * (v - mu) * (v - mu)) / max(m.n) AS m4 " +
        "FROM vc JOIN m ON vc.source = m.source GROUP BY 1) " +
        "SELECT source, n_docs, " +
        r4("CASE WHEN m2 > 0 THEN m3 / sqrt(m2 * m2 * m2) END") + " AS skewness, " +
        r4("CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END") + " AS kurtosis, " +
        r4("CASE WHEN m2 > 0 THEN n_docs / 6.0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2)) + 0.25 * (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3)) END") + " AS jb " +
        "FROM mom ORDER BY source"
    },
    // Grubbs: integer-cents argmax deviation, DECIMAL power sum
    "q_grubbs" -> {
      "WITH c AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS s, " +
        "CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS s2 FROM c), " +
        "dev AS (SELECT o_orderkey, cents, abs(CAST(cents AS HUGEINT) * m.n - m.s) AS dev_n FROM c CROSS JOIN m), " +
        "top AS (SELECT o_orderkey, cents, dev_n FROM dev ORDER BY dev_n DESC, o_orderkey LIMIT 1) " +
        "SELECT m.n AS n_orders, top.o_orderkey AS outlier_key, " +
        r4("top.cents / 100.0") + " AS outlier_value, " +
        r4("CASE WHEN m.s2 / m.n - (CAST(m.s AS DOUBLE) / m.n) * (CAST(m.s AS DOUBLE) / m.n) > 0 THEN " +
          "(CAST(top.dev_n AS DOUBLE) / m.n / 100.0) / sqrt((m.s2 / m.n - (CAST(m.s AS DOUBLE) / m.n) * (CAST(m.s AS DOUBLE) / m.n)) / 10000.0) END") + " AS g_stat " +
        "FROM m CROSS JOIN top"
    },
    // partial correlation over the |days|-bounded daily frame
    "q_partial_corr" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x, " +
        "CAST(sum(value) AS DOUBLE) AS y, CAST(count(DISTINCT user_id) AS DOUBLE) AS z " +
        "FROM events GROUP BY 1), " +
        "m AS (SELECT count(*) AS n, avg(x) AS mx, avg(y) AS my, avg(z) AS mz, " +
        "avg(x * y) AS mxy, avg(x * z) AS mxz, avg(y * z) AS myz, " +
        "avg(x * x) AS mxx, avg(y * y) AS myy, avg(z * z) AS mzz FROM d), " +
        "r AS (SELECT n, " +
        "(mxy - mx * my) / sqrt((mxx - mx * mx) * (myy - my * my)) AS rxy, " +
        "(mxz - mx * mz) / sqrt((mxx - mx * mx) * (mzz - mz * mz)) AS rxz, " +
        "(myz - my * mz) / sqrt((myy - my * my) * (mzz - mz * mz)) AS ryz FROM m) " +
        "SELECT CAST(n AS BIGINT) AS n_days, " + r4("rxy") + " AS r_xy, " +
        r4("rxz") + " AS r_xz, " + r4("ryz") + " AS r_yz, " +
        r4("CASE WHEN (1 - rxz * rxz) * (1 - ryz * ryz) > 0 THEN " +
          "(rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)) END") + " AS r_xy_z " +
        "FROM r"
    },
    // Friedman: per-day midranks on the 0-filled day x type grid
    "q_friedman" -> {
      "WITH grid AS (SELECT day, event_type FROM " +
        "(SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) " +
        "CROSS JOIN (SELECT DISTINCT event_type FROM events)), " +
        "dd AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS x FROM events GROUP BY 1, 2), " +
        "f AS (SELECT grid.day, grid.event_type, COALESCE(dd.x, 0) AS x " +
        "FROM grid LEFT JOIN dd ON grid.day = dd.day AND grid.event_type = dd.event_type), " +
        "rk AS (SELECT day, event_type, x, " +
        "rank() OVER (PARTITION BY day ORDER BY x) + (count(*) OVER (PARTITION BY day, x) - 1) / 2.0 AS r FROM f), " +
        "pars AS (SELECT CAST(count(DISTINCT day) AS DOUBLE) AS n, " +
        "CAST(count(DISTINCT event_type) AS DOUBLE) AS k FROM f), " +
        "rj AS (SELECT event_type, sum(r) AS rsum FROM rk GROUP BY 1), " +
        "a AS (SELECT sum(r * r) AS bigA FROM rk), " +
        "num AS (SELECT sum((rsum - n * (k + 1) / 2.0) * (rsum - n * (k + 1) / 2.0)) AS ssq " +
        "FROM rj CROSS JOIN pars) " +
        "SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments, " +
        r4("CASE WHEN bigA - n * k * (k + 1) * (k + 1) / 4.0 > 0 THEN " +
          "(k - 1) * ssq / (bigA - n * k * (k + 1) * (k + 1) / 4.0) END") + " AS friedman_chi2 " +
        "FROM num CROSS JOIN a CROSS JOIN pars"
    },
    // CUSUM via the prefix-sum identity (two cumulative windows)
    "q_cusum" -> {
      "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "st AS (SELECT event_type, CAST(sum(x) AS DOUBLE) / count(*) AS mu, " +
        "sqrt(CAST(sum(x * x) AS DOUBLE) / count(*) - (CAST(sum(x) AS DOUBLE) / count(*)) * (CAST(sum(x) AS DOUBLE) / count(*))) AS sigma, " +
        "count(*) AS n_days FROM d GROUP BY 1), " +
        "p AS (SELECT d.event_type, day, mu, sigma, n_days, " +
        "sum(x - mu) OVER (PARTITION BY d.event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf " +
        "FROM d JOIN st ON d.event_type = st.event_type), " +
        "s AS (SELECT event_type, day, mu, sigma, n_days, " +
        "pf - least(0, min(pf) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sc FROM p) " +
        "SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days, " +
        r4("max(4 * sigma)") + " AS threshold, " +
        "CAST(sum(CASE WHEN sc > 4 * sigma THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms, " +
        r4("max(sc)") + " AS max_cusum " +
        "FROM s GROUP BY event_type ORDER BY event_type"
    },
    // EWMA control chart: first-element-seeded prefix folds (the proven
    // q_ema list_reduce contract) + 3-sigma limits
    "q_ewma_control" -> {
      "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "arr AS (SELECT event_type, list(x ORDER BY day) AS vals, " +
        "CAST(sum(x) AS DOUBLE) / count(*) AS mu, " +
        "sqrt(sum(x * x) / count(*) - (sum(x) / count(*)) * (sum(x) / count(*))) AS sigma, " +
        "count(*) AS n_days FROM d GROUP BY 1), " +
        "idx AS (SELECT event_type, vals, mu, sigma, n_days, " +
        "generate_subscripts(vals, 1) AS t FROM arr), " +
        "e AS (SELECT event_type, mu, sigma, n_days, t, " +
        "list_reduce(list_slice(vals, 1, t), (acc, x) -> acc * 0.7 + x * 0.3) AS ew FROM idx) " +
        "SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days, " +
        r4("max(mu)") + " AS mu, " +
        r4("max(3 * sigma * sqrt(0.3 / 1.7))") + " AS limit_width, " +
        "CAST(sum(CASE WHEN abs(ew - mu) > 3 * sigma * sqrt(0.3 / 1.7) THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, " +
        r4("max(CASE WHEN t = n_days THEN ew END)") + " AS final_ewma " +
        "FROM e GROUP BY event_type ORDER BY event_type"
    },
    // peak detection: integer-exact neighbor + prominence comparisons
    "q_peak_detect" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, " +
        "CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, hr, c, " +
        "lag(c) OVER (PARTITION BY event_type ORDER BY hr) AS prev, " +
        "lead(c) OVER (PARTITION BY event_type ORDER BY hr) AS nxt, " +
        "sum(c) OVER (PARTITION BY event_type ORDER BY hr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum, " +
        "count(*) OVER (PARTITION BY event_type ORDER BY hr ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn " +
        "FROM h) " +
        "SELECT event_type, hr, c AS n_events FROM w " +
        "WHERE prev IS NOT NULL AND nxt IS NOT NULL AND c > prev AND c > nxt " +
        "AND c * wn * 2 >= wsum * 3 " +
        "ORDER BY event_type, hr"),
    // STL residual anomalies: lower-median + MAD on the x10^4 integer
    // residuals of the proven q_stl_decompose chain
    "q_stl_anomaly" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, round(SUM(value), 4) AS total " +
        "FROM events GROUP BY 1), " +
        "d2 AS (SELECT day, total, CAST(round(total * 10000) AS BIGINT) AS total_l FROM d), " +
        "t AS (SELECT day, total, total_l, " +
        "COUNT(*) OVER w AS n_win, SUM(total_l) OVER w AS trend_l FROM d2 " +
        "WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "t2 AS (SELECT day, total, " +
        "round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) AS trend, " +
        "total_l - CAST(round(round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) * 10000) AS BIGINT) AS detr_l " +
        "FROM t WHERE n_win = 7), " +
        "se AS (SELECT dayofweek(day) AS dow, " +
        "round(CAST(SUM(detr_l) AS DOUBLE) / COUNT(*) / 10000.0, 4) AS seasonal " +
        "FROM t2 GROUP BY 1), " +
        "stl AS (SELECT day, total, " +
        "round(total - trend - seasonal, 4) AS residual " +
        "FROM t2 JOIN se ON dayofweek(day) = dow), " +
        "r AS (SELECT day, total, residual, CAST(round(residual * 10000) AS BIGINT) AS r_l FROM stl), " +
        "vc AS (SELECT r_l AS v, count(*) AS c FROM r GROUP BY 1), " +
        "mq AS (SELECT v AS med FROM (SELECT v, c, " +
        "sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM vc) " +
        "WHERE cum - c < ceil(n / 2.0) AND cum >= ceil(n / 2.0)), " +
        "ad AS (SELECT abs(r_l - med) AS adv FROM r CROSS JOIN mq), " +
        "avc AS (SELECT adv AS v, count(*) AS c FROM ad GROUP BY 1), " +
        "madq AS (SELECT v AS mad FROM (SELECT v, c, " +
        "sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM avc) " +
        "WHERE cum - c < ceil(n / 2.0) AND cum >= ceil(n / 2.0)) " +
        "SELECT day, total, residual, " +
        r4("med / 10000.0") + " AS med_residual, " + r4("mad / 10000.0") + " AS mad " +
        "FROM r CROSS JOIN mq CROSS JOIN madq " +
        "WHERE abs(r_l - med) > 3 * mad ORDER BY day"
    },
    // Cronbach's alpha over the quality classifier's four features
    "q_cronbach_alpha" -> {
      "WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS awl, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS swr " +
        "FROM documents), " +
        "dd AS (SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS dupfrac FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY doc_id), " +
        "f AS (SELECT t.doc_id, swr AS x1, least(n_toks / 100.0, 1.0) AS x2, " +
        "dupfrac AS x3, abs(awl - 5.0) AS x4 FROM t JOIN dd ON t.doc_id = dd.doc_id), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "avg(x1 * x1) - avg(x1) * avg(x1) AS v1, " +
        "avg(x2 * x2) - avg(x2) * avg(x2) AS v2, " +
        "avg(x3 * x3) - avg(x3) * avg(x3) AS v3, " +
        "avg(x4 * x4) - avg(x4) * avg(x4) AS v4, " +
        "avg((x1 + x2 + x3 + x4) * (x1 + x2 + x3 + x4)) - avg(x1 + x2 + x3 + x4) * avg(x1 + x2 + x3 + x4) AS vt FROM f) " +
        "SELECT n_docs, 4 AS k_items, " +
        r4("v1 + v2 + v3 + v4") + " AS sum_item_var, " +
        r4("vt") + " AS total_var, " +
        r4("CASE WHEN vt > 0 THEN (4.0 / 3.0) * (1.0 - (v1 + v2 + v3 + v4) / vt) END") + " AS alpha " +
        "FROM m"
    },
    // character-class composition per source (exact integer count ratios)
    "q_char_profile" -> {
      "WITH c AS (SELECT source, length(text) AS n_all, " +
        "length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_letter, " +
        "length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space, " +
        "length(regexp_replace(text, '[^aeiou]', '', 'g')) AS n_vowel " +
        "FROM documents) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_all) AS BIGINT) AS n_chars, " +
        r4("CAST(sum(n_letter) AS DOUBLE) / sum(n_all)") + " AS letter_ratio, " +
        r4("CAST(sum(n_space) AS DOUBLE) / sum(n_all)") + " AS space_ratio, " +
        r4("CASE WHEN sum(n_letter) > 0 THEN CAST(sum(n_vowel) AS DOUBLE) / sum(n_letter) END") + " AS vowel_ratio " +
        "FROM c GROUP BY source ORDER BY source"
    },
    // CLV: integer-exact recency/frequency/monetary inputs, top-20
    "q_clv" -> {
      "WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders), " +
        "per AS (SELECT o_custkey, count(*) AS frequency, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents, " +
        "CAST(min(date_diff('day', CAST(o_orderdate AS DATE), (SELECT d0 FROM mx))) AS BIGINT) AS recency_days " +
        "FROM orders GROUP BY 1) " +
        "SELECT c_custkey, c_name, frequency, monetary_cents, recency_days, " +
        r4("monetary_cents / 100.0 * frequency / (1.0 + recency_days)") + " AS clv_score " +
        "FROM per JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY clv_score DESC, c_custkey LIMIT 20"
    },
    // Chow structural break: centered-moment RSS per half vs pooled
    "q_chow_test" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS y FROM events GROUP BY 1), " +
        "ix AS (SELECT y, CAST(row_number() OVER (ORDER BY day) AS DOUBLE) AS x, count(*) OVER () AS n FROM d), " +
        "g AS (SELECT x, y, n, CASE WHEN x <= n // 2 THEN 1 ELSE 2 END AS regime FROM ix), " +
        "reg AS (SELECT regime, CAST(count(*) AS DOUBLE) AS nr, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM g GROUP BY 1), " +
        "rss AS (SELECT regime, (syy - sy * sy / nr) - (sxy - sx * sy / nr) * (sxy - sx * sy / nr) / (sxx - sx * sx / nr) AS r FROM reg), " +
        "pool AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy, " +
        "sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM g), " +
        "prss AS (SELECT n, (syy - sy * sy / n) - (sxy - sx * sy / n) * (sxy - sx * sy / n) / (sxx - sx * sx / n) AS rp FROM pool), " +
        "sr AS (SELECT sum(r) AS rs FROM rss) " +
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(n // 2 AS BIGINT) AS break_at, " +
        r4("rp") + " AS rss_pooled, " + r4("rs") + " AS rss_split, " +
        r4("CASE WHEN rs > 0 AND n > 4 THEN ((rp - rs) / 2) / (rs / (n - 4)) END") + " AS f_stat " +
        "FROM prss CROSS JOIN sr"
    },
    // TOST equivalence of the first two sources' mean lengths
    "q_tost" -> {
      "WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS s, " +
        "CAST(sum(n_chars * n_chars) AS BIGINT) AS s2 FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1), " +
        "w AS (SELECT " +
        "max(CASE WHEN source = 'src0' THEN CAST(s AS DOUBLE) / n END) AS m1, " +
        "max(CASE WHEN source = 'src1' THEN CAST(s AS DOUBLE) / n END) AS m2, " +
        "max(CASE WHEN source = 'src0' THEN (s2 - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS se1, " +
        "max(CASE WHEN source = 'src1' THEN (s2 - CAST(s AS DOUBLE) * s / n) / (n - 1) / n END) AS se2, " +
        "max(CASE WHEN source = 'src0' THEN n END) AS n1, " +
        "max(CASE WHEN source = 'src1' THEN n END) AS n2 FROM m) " +
        "SELECT n1, n2, " + r4("m1 - m2") + " AS diff, " +
        r4("sqrt(se1 + se2)") + " AS se, " +
        r4("CASE WHEN se1 + se2 > 0 THEN ((m1 - m2) + 100.0) / sqrt(se1 + se2) END") + " AS t_lower, " +
        r4("CASE WHEN se1 + se2 > 0 THEN (100.0 - (m1 - m2)) / sqrt(se1 + se2) END") + " AS t_upper, " +
        "(CASE WHEN se1 + se2 > 0 THEN ((m1 - m2) + 100.0) / sqrt(se1 + se2) END) > 1.645 " +
        "AND (CASE WHEN se1 + se2 > 0 THEN (100.0 - (m1 - m2)) / sqrt(se1 + se2) END) > 1.645 AS equivalent " +
        "FROM w"
    },
    // ACF lags 1-3 + Durbin-Levinson PACF on the hourly series
    "q_acf_pacf" -> {
      "WITH h AS (SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1), " +
        "mu AS (SELECT CAST(sum(x) AS DOUBLE) / count(*) AS m FROM h), " +
        "lagd AS (SELECT x - m AS d, " +
        "lag(x, 1) OVER (ORDER BY hr) - m AS d1, " +
        "lag(x, 2) OVER (ORDER BY hr) - m AS d2, " +
        "lag(x, 3) OVER (ORDER BY hr) - m AS d3 FROM h CROSS JOIN mu), " +
        "s AS (SELECT sum(d * d) AS den, sum(d * d1) AS n1, sum(d * d2) AS n2, sum(d * d3) AS n3 FROM lagd), " +
        "r AS (SELECT n1 / den AS r1, n2 / den AS r2, n3 / den AS r3 FROM s WHERE den > 0), " +
        "dl AS (SELECT r1, r2, r3, (r2 - r1 * r1) / (1 - r1 * r1) AS p2 FROM r), " +
        "dl2 AS (SELECT r1, r2, r3, p2, r1 * (1 - p2) AS phi21 FROM dl), " +
        "dl3 AS (SELECT r1, r2, r3, p2, " +
        "(r3 - phi21 * r2 - p2 * r1) / (1 - phi21 * r1 - p2 * r2) AS p3 FROM dl2) " +
        "SELECT lag, acf, pacf FROM (" +
        "SELECT 1 AS lag, " + r4("r1") + " AS acf, " + r4("r1") + " AS pacf FROM dl3 " +
        "UNION ALL SELECT 2, " + r4("r2") + ", " + r4("p2") + " FROM dl3 " +
        "UNION ALL SELECT 3, " + r4("r3") + ", " + r4("p3") + " FROM dl3) ORDER BY lag"
    },
    // lag-1 Granger: restricted AR(1) vs two-predictor OLS by Cramer
    "q_granger" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x, round(sum(value), 4) AS y FROM events GROUP BY 1), " +
        "l AS (SELECT y, lag(y) OVER (ORDER BY day) AS z1, lag(x) OVER (ORDER BY day) AS z2 FROM d), " +
        "f AS (SELECT * FROM l WHERE z1 IS NOT NULL), " +
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(y) AS sy, sum(z1) AS s1, sum(z2) AS s2, " +
        "sum(y * y) AS syy, sum(z1 * z1) AS s11, sum(z2 * z2) AS s22, " +
        "sum(y * z1) AS s1y, sum(y * z2) AS s2y, sum(z1 * z2) AS s12 FROM f), " +
        "c AS (SELECT n, syy - sy * sy / n AS cyy, s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22, " +
        "s1y - s1 * sy / n AS c1y, s2y - s2 * sy / n AS c2y, s12 - s1 * s2 / n AS c12 FROM s), " +
        "ols AS (SELECT n, cyy - c1y * c1y / c11 AS rss_r, " +
        "c11 * c22 - c12 * c12 AS det, c1y, c2y, c11, c22, c12, cyy FROM c), " +
        "fm AS (SELECT n, rss_r, " +
        "CASE WHEN det > 0 THEN cyy - ((c1y * c22 - c2y * c12) / det) * c1y - ((c2y * c11 - c1y * c12) / det) * c2y END AS rss_f FROM ols) " +
        "SELECT CAST(n AS BIGINT) AS n_days, " + r4("rss_r") + " AS rss_restricted, " +
        r4("rss_f") + " AS rss_full, " +
        r4("CASE WHEN rss_f > 0 AND n > 4 THEN (rss_r - rss_f) / (rss_f / (n - 4)) END") + " AS f_stat " +
        "FROM fm"
    },
    // Cohen's d / Hedges' g per source vs rest (global-minus-source)
    "q_cohens_d" -> {
      "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS s, " +
        "CAST(sum(n_chars * n_chars) AS BIGINT) AS s2 FROM documents GROUP BY 1), " +
        "g AS (SELECT CAST(sum(n) AS BIGINT) AS gn, CAST(sum(s) AS BIGINT) AS gs, CAST(sum(s2) AS BIGINT) AS gs2 FROM per), " +
        "z AS (SELECT source, n, gn, (gn - n) AS nr, CAST(s AS DOUBLE) / n AS m1, " +
        "CAST(gs - s AS DOUBLE) / (gn - n) AS m2, " +
        "(s2 - CAST(s AS DOUBLE) * s / n) / (n - 1) AS v1, " +
        "((gs2 - s2) - CAST(gs - s AS DOUBLE) * (gs - s) / (gn - n)) / (gn - n - 1) AS v2 " +
        "FROM per CROSS JOIN g), " +
        "dd AS (SELECT source, n, nr, m1, m2, gn, " +
        "sqrt(((n - 1) * v1 + (nr - 1) * v2) / (n + nr - 2)) AS sp FROM z) " +
        "SELECT source, n AS n_docs, " + r4("m1") + " AS mean_src, " +
        r4("m2") + " AS mean_rest, " +
        r4("CASE WHEN sp > 0 THEN (m1 - m2) / sp END") + " AS cohens_d, " +
        r4("CASE WHEN sp > 0 THEN (m1 - m2) / sp * (1 - 3.0 / (4 * gn - 9)) END") + " AS hedges_g " +
        "FROM dd ORDER BY source"
    },
    // conditional bigram entropy over within-doc adjacent pairs
    "q_entropy_rate" -> {
      "WITH tok AS (SELECT doc_id, unnest(arr) AS t, generate_subscripts(arr, 1) AS i FROM " +
        "(SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS arr FROM documents)), " +
        "pr AS (SELECT a.t AS w1, b.t AS w2 FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1), " +
        "bg AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM pr GROUP BY 1, 2), " +
        "un AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cu FROM bg GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM bg) " +
        "SELECT tot.n AS n_pairs, CAST(count(*) AS BIGINT) AS n_bigram_types, " +
        r4("-sum((CAST(c AS DOUBLE) / tot.n) * log2(CAST(c AS DOUBLE) / cu))") + " AS entropy_rate " +
        "FROM bg JOIN un USING (w1) CROSS JOIN tot GROUP BY tot.n"
    },
    // within-doc hapax-legomena ratio averaged per source
    "q_hapax" -> {
      "WITH tok AS (SELECT doc_id, source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM documents), " +
        "c AS (SELECT doc_id, source, t, count(*) AS n FROM tok GROUP BY 1, 2, 3), " +
        "h AS (SELECT doc_id, source, CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hr FROM c GROUP BY 1, 2) " +
        "SELECT source, count(*) AS n_docs, " + r4("avg(hr)") + " AS avg_hapax_ratio " +
        "FROM h GROUP BY source ORDER BY source"
    },
    // day-over-day symmetric KL of the smoothed event-type mix
    "q_kl_drift" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c FROM events GROUP BY 1, 2), " +
        "days AS (SELECT day, row_number() OVER (ORDER BY day) AS idx FROM (SELECT DISTINCT day FROM d)), " +
        "types AS (SELECT DISTINCT event_type FROM d), " +
        "k AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM types), " +
        "grid AS (SELECT days.day, days.idx, types.event_type, COALESCE(d.c, 0) AS c " +
        "FROM days CROSS JOIN types LEFT JOIN d ON d.day = days.day AND d.event_type = types.event_type), " +
        "tot AS (SELECT idx, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY 1), " +
        "p AS (SELECT grid.day, grid.idx, grid.event_type, " +
        "CAST(grid.c + 1 AS DOUBLE) / (tot.n + k.nt) AS p FROM grid JOIN tot USING (idx) CROSS JOIN k), " +
        "j AS (SELECT a.day, a.p AS pa, b.p AS pb FROM p a JOIN p b " +
        "ON a.idx = b.idx + 1 AND a.event_type = b.event_type) " +
        "SELECT day, " + r4("sum(pa * ln(pa / pb) + pb * ln(pb / pa))") + " AS kl_sym " +
        "FROM j GROUP BY day ORDER BY day"
    },
    // per-subspace PQ quantization MSE on the proven unrolled-Lloyd model
    "q_pq_distortion" -> {
      "WITH " + pqCtesBody(3, Some(5)) + ", " +
        "er AS (SELECT af.j, " +
        "list_sum(list_transform(range(1, 9), dd -> (af.s[CAST(dd AS INTEGER)] - m.cen[CAST(dd AS INTEGER)]) * (af.s[CAST(dd AS INTEGER)] - m.cen[CAST(dd AS INTEGER)]))) AS sqerr " +
        "FROM af JOIN m3 m ON af.j = m.j AND af.c = m.c) " +
        "SELECT j, CAST(count(*) AS BIGINT) AS n_vecs, " +
        r4("avg(sqerr)") + " AS mse FROM er GROUP BY j ORDER BY j"
    },
    // Hill tail index over the top-100 order statistics (k+1-row take)
    "q_hill_tail" -> {
      "WITH r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn FROM documents), " +
        // rn = 101 as a FILTER, not max(CASE...): on a corpus with fewer
        // than k+1 docs this CTE must be ZERO rows so the cross join
        // empties the result, matching Spark's empty xk frame (a
        // max(CASE) form yields one NULL row instead — r13 advisor).
        "k AS (SELECT n_chars AS xk FROM r WHERE rn = 101), " +
        "top AS (SELECT n_chars FROM r WHERE rn <= 100) " +
        "SELECT 100 AS k, CAST(xk AS BIGINT) AS x_k, " +
        r4("avg(ln(CAST(n_chars AS DOUBLE))) - ln(CAST(xk AS DOUBLE))") + " AS hill_h, " +
        r4("CASE WHEN avg(ln(CAST(n_chars AS DOUBLE))) - ln(CAST(xk AS DOUBLE)) > 0 THEN 1.0 / (avg(ln(CAST(n_chars AS DOUBLE))) - ln(CAST(xk AS DOUBLE))) END") + " AS tail_alpha " +
        "FROM top CROSS JOIN k GROUP BY xk"
    },
    // Gumbel method-of-moments on the daily block maxima
    "q_gumbel_fit" -> {
      "WITH bm AS (SELECT CAST(ts AS DATE) AS day, max(value) AS mx FROM events GROUP BY 1), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS n, avg(mx) AS mean, " +
        "sqrt((sum(mx * mx) - sum(mx) * sum(mx) / count(*)) / (count(*) - 1)) AS sd FROM bm) " +
        "SELECT n AS n_blocks, " + r4("mean") + " AS block_max_mean, " +
        r4("sd * sqrt(6) / pi()") + " AS gumbel_beta, " +
        r4("mean - 0.5772156649015329 * (sd * sqrt(6) / pi())") + " AS gumbel_mu " +
        "FROM m"
    },
    // running-record count vs the harmonic-number expectation
    "q_record_count" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(round(round(sum(value), 4) * 10000) AS BIGINT) AS y FROM events GROUP BY 1), " +
        "w AS (SELECT day, y, max(y) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM d), " +
        "rec AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM w WHERE prevmax IS NULL OR y > prevmax), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d), " +
        "h AS (SELECT list_reduce(list_transform(range(1, CAST(n_days AS INTEGER) + 1), i -> 1.0 / i), (a, b) -> a + b) AS expected FROM n) " +
        "SELECT n.n_days, rec.n_records, " + r4("h.expected") + " AS expected_records " +
        "FROM n CROSS JOIN rec CROSS JOIN h"
    },
    // Wald-Wolfowitz runs test vs the exact lower median
    "q_runs_test" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(round(round(sum(value), 4) * 10000) AS BIGINT) AS y FROM events GROUP BY 1), " +
        "vc AS (SELECT y AS v, count(*) AS c FROM d GROUP BY 1), " +
        "med AS (SELECT v AS m FROM (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM vc) " +
        "WHERE cum - c < ceil(n / 2.0) AND cum >= ceil(n / 2.0)), " +
        "s AS (SELECT day, CASE WHEN y > m THEN 1 ELSE 0 END AS above FROM d CROSS JOIN med), " +
        "runs AS (SELECT CAST(1 + sum(CASE WHEN above <> prev THEN 1 ELSE 0 END) AS BIGINT) AS r FROM " +
        "(SELECT above, lag(above) OVER (ORDER BY day) AS prev FROM s) WHERE prev IS NOT NULL), " +
        "cnt AS (SELECT CAST(sum(above) AS DOUBLE) AS n1, CAST(sum(1 - above) AS DOUBLE) AS n2 FROM s) " +
        "SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below, r AS n_runs, " +
        r4("2 * n1 * n2 / (n1 + n2) + 1") + " AS expected_runs, " +
        r4("CASE WHEN 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)) > 0 THEN (r - (2 * n1 * n2 / (n1 + n2) + 1)) / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))) END") + " AS z " +
        "FROM runs CROSS JOIN cnt"
    },
    // Adamic-Adar on the link_predict candidate chain: round4-ed
    // 1/ln(deg) terms summed by the sorted first-element-seeded fold
    "q_adamic_adar" -> {
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "d AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) u GROUP BY node), " +
        "top AS (SELECT node, degree FROM d ORDER BY degree DESC, node LIMIT 100), " +
        "nb AS (SELECT src AS node, dst AS nbr FROM e UNION ALL SELECT dst AS node, src AS nbr FROM e), " +
        "hn AS (SELECT nb.node, nb.nbr FROM nb JOIN top ON top.node = nb.node), " +
        "pw AS (SELECT node AS nbr, " + r4("1.0 / ln(degree)") + " AS w FROM d), " +
        "c AS (SELECT x.node AS a, y.node AS b, COUNT(*) AS n_common, " +
        "list_reduce(list_sort(list(pw.w)), (acc, x) -> acc + x) AS aa_raw " +
        "FROM hn x JOIN hn y ON x.nbr = y.nbr AND x.node < y.node " +
        "JOIN pw ON pw.nbr = x.nbr GROUP BY 1, 2), " +
        "nc AS (SELECT a, b, n_common, aa_raw FROM c WHERE NOT EXISTS " +
        "(SELECT 1 FROM e WHERE e.src = c.a AND e.dst = c.b)) " +
        "SELECT a, b, n_common, " + r4("aa_raw") + " AS adamic_adar " +
        "FROM nc ORDER BY adamic_adar DESC, a, b LIMIT 20"
    },
    "q_cooccur" ->
      ("WITH dt AS (SELECT doc_id, unnest(list_distinct(" +
        "regexp_split_to_array(trim(lower(text)), '\\s+'))) AS token FROM documents), " +
        "v AS (SELECT token, count(*) AS df FROM dt GROUP BY 1 ORDER BY df DESC, token LIMIT 50), " +
        "n AS (SELECT count(*) AS n_total FROM documents), " +
        "vt AS (SELECT dt.doc_id, dt.token FROM dt JOIN v USING (token)), " +
        "p AS (SELECT a.token AS token_a, b.token AS token_b, count(*) AS n_ab " +
        "FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token GROUP BY 1, 2) " +
        "SELECT token_a, token_b, n_ab, va.df AS df_a, vb.df AS df_b, " +
        "CAST(round(CAST(ln(CAST(n_ab * n_total AS DOUBLE) / (va.df * vb.df)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS pmi " +
        "FROM p JOIN v va ON p.token_a = va.token JOIN v vb ON p.token_b = vb.token CROSS JOIN n " +
        "ORDER BY n_ab DESC, token_a, token_b LIMIT 50"),
    "q_clean_pipeline" ->
      ("WITH d AS (SELECT doc_id, source, lang, text, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_letter, " +
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS sw FROM documents), " +
        "f AS (SELECT doc_id, source, " +
        "lang = 'en' AS pass_lang, " +
        "lang = 'en' AND (least(1.0, n_tokens/50.0)*0.5 " +
        "+ CASE WHEN CAST(n_letter AS DOUBLE)/n_tokens BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END " +
        "+ least(0.2, CAST(sw AS DOUBLE)/n_tokens)) >= 0.75 AS pass_all, " +
        "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM d), " +
        "fun AS (SELECT source, count(*) AS n_raw, " +
        "CAST(sum(CASE WHEN pass_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang, " +
        "CAST(sum(CASE WHEN pass_all THEN 1 ELSE 0 END) AS BIGINT) AS n_quality FROM f GROUP BY 1), " +
        "u AS (SELECT source, count(*) AS n_unique FROM " +
        "(SELECT fp, arg_min(source, doc_id) AS source FROM f WHERE pass_all GROUP BY fp) GROUP BY 1) " +
        "SELECT fun.source, n_raw, n_lang, n_quality, " +
        "CAST(coalesce(n_unique, 0) AS BIGINT) AS n_unique, " +
        "CAST(round(CAST(CAST(coalesce(n_unique, 0) AS DOUBLE)/n_raw AS DECIMAL(20,8)), 4) AS DOUBLE) AS retention " +
        "FROM fun LEFT JOIN u ON fun.source = u.source ORDER BY fun.source"),
    // the Bloom pre-filter is a pure optimization: the oracle is the plain
    // NOT EXISTS anti join, so any semantic leak from the bloom path
    // (a wrongly-dropped definitely-new row) hash-mismatches
    "q_dedup_incr" ->
      ("WITH d AS (SELECT doc_id, source, " +
        "md5(array_to_string(list_slice(regexp_split_to_array(trim(lower(text)), '\\s+'), 1, 10), ' ')) AS fp, " +
        "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_batch " +
        "FROM documents), " +
        "b AS (SELECT * FROM d WHERE is_batch), " +
        "c AS (SELECT fp FROM d WHERE NOT is_batch), " +
        "k AS (SELECT b.source FROM b WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp)), " +
        "nb AS (SELECT source, count(*) AS n_batch FROM b GROUP BY 1), " +
        "nn AS (SELECT source, count(*) AS n_new FROM k GROUP BY 1) " +
        "SELECT nb.source, n_batch, CAST(coalesce(n_new, 0) AS BIGINT) AS n_new, " +
        "CAST(n_batch - coalesce(n_new, 0) AS BIGINT) AS n_dup, " +
        "CAST(round(CAST(CAST(n_batch - coalesce(n_new, 0) AS DOUBLE)/n_batch AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_rate " +
        "FROM nb LEFT JOIN nn ON nb.source = nn.source ORDER BY nb.source"),
    "q_token_entropy" ->
      ("WITH tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok " +
        "FROM documents) GROUP BY doc_id, tok), " +
        "a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct, " +
        "SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sum_clnc FROM tc GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, " +
        "CAST(round(CAST(n_distinct / n_tokens AS DECIMAL(20,8)), 4) AS DOUBLE) AS ttr, " +
        "CAST(round(CAST((ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / n_tokens) / ln(2.0) AS DECIMAL(20,8)), 4) AS DOUBLE) AS entropy_bits " +
        "FROM a ORDER BY doc_id"),
    "q_temperature_mix" ->
      ("WITH c AS (SELECT source, " +
        "CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens, " +
        "SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS tot_pow FROM c) " +
        "SELECT source, n_tokens, " +
        "CAST(round(CAST(n_tokens / tot_tokens AS DECIMAL(20,8)), 4) AS DOUBLE) AS raw_share, " +
        "CAST(round(CAST(pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow AS DECIMAL(20,8)), 4) AS DOUBLE) AS temp_share, " +
        "CAST(round(CAST(pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow / (n_tokens / tot_tokens) AS DECIMAL(20,8)), 4) AS DOUBLE) AS boost " +
        "FROM c CROSS JOIN t ORDER BY source"),
    "q_split" ->
      ("WITH d AS (SELECT CASE " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val' " +
        "ELSE 'test' END AS split, lang, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks FROM documents), " +
        "c AS (SELECT split, lang, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_toks) AS BIGINT) AS n_tokens FROM d GROUP BY split, lang), " +
        "t AS (SELECT split, CAST(SUM(n_docs) AS DOUBLE) AS split_docs FROM c GROUP BY split) " +
        "SELECT split, lang, n_docs, n_tokens, " +
        "CAST(round(CAST(n_docs / split_docs AS DECIMAL(20,8)), 4) AS DOUBLE) AS lang_share " +
        "FROM c JOIN t USING (split) ORDER BY split, lang"),
    "q_zscore_anomaly" ->
      ("WITH h AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, event_type, " +
        "COUNT(*) AS n_events FROM events GROUP BY 1, 2), " +
        "s AS (SELECT event_type, AVG(n_events) AS mu, stddev_samp(n_events) AS sd " +
        "FROM h GROUP BY event_type) " +
        "SELECT h.event_type, hr, n_events, " +
        "CASE WHEN sd > 0 THEN CAST(round(CAST((n_events - mu) / sd AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END AS z, " +
        "abs(CASE WHEN sd > 0 THEN CAST(round(CAST((n_events - mu) / sd AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END) > 2.0 AS is_anomaly " +
        "FROM h JOIN s ON h.event_type = s.event_type " +
        "ORDER BY h.event_type, hr"),
    "q_lag_features" ->
      ("SELECT event_id, user_id, value, " +
        "lag(value) OVER w AS lag1, " +
        "CAST(round(CAST(value - lag(value) OVER w AS DECIMAL(20,8)), 4) AS DOUBLE) AS delta, " +
        "CAST(round(CAST(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean3 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY event_id"),
    "q_label_balance" ->
      ("WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label), " +
        "t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total, CAST(COUNT(*) AS DOUBLE) AS k FROM c) " +
        "SELECT label, n, " +
        "CAST(round(CAST(n / total AS DECIMAL(20,8)), 4) AS DOUBLE) AS share, " +
        "CAST(round(CAST(total / (k * n) AS DECIMAL(20,8)), 4) AS DOUBLE) AS class_weight " +
        "FROM c CROSS JOIN t ORDER BY label"),
    "q_group_zscore" ->
      ("WITH s AS (SELECT lang, AVG(n_chars) AS mu, stddev_samp(n_chars) AS sd " +
        "FROM documents GROUP BY lang) " +
        "SELECT doc_id, d.lang, n_chars, " +
        "CASE WHEN sd > 0 THEN CAST(round(CAST((n_chars - mu) / sd AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END AS z " +
        "FROM documents d JOIN s ON d.lang = s.lang ORDER BY doc_id"),
    "q_benford" ->
      ("WITH g AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit, " +
        "COUNT(*) AS n FROM orders " +
        "WHERE substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) BETWEEN '1' AND '9' " +
        "GROUP BY 1), " +
        "t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM g) " +
        "SELECT digit, n, " +
        "CAST(round(CAST(n / total AS DECIMAL(20,8)), 4) AS DOUBLE) AS observed, " +
        "CAST(round(CAST(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS expected, " +
        "CAST(round(CAST(abs(n / total - log10(1.0 + 1.0 / CAST(digit AS DOUBLE))) AS DECIMAL(20,8)), 4) AS DOUBLE) AS abs_dev " +
        "FROM g CROSS JOIN t ORDER BY digit"),
    "q_autocorr" ->
      ("WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, " +
        "SUM(value) AS v FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, v, lag(v) OVER (PARTITION BY event_type ORDER BY hr) AS v_prev FROM h) " +
        "SELECT event_type, COUNT(v_prev) AS n_pairs, " +
        "CAST(round(CAST(corr(v, v_prev) AS DECIMAL(20,8)), 4) AS DOUBLE) AS lag1_autocorr " +
        "FROM l GROUP BY event_type ORDER BY event_type"),
    "q_null_profile" ->
      ("WITH a AS (SELECT COUNT(*) AS n_rows, " +
        "CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_id, COUNT(DISTINCT event_id) AS dist_event_id, " +
        "CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts, COUNT(DISTINCT ts) AS dist_ts, " +
        "CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id, COUNT(DISTINCT user_id) AS dist_user_id, " +
        "CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type, COUNT(DISTINCT event_type) AS dist_event_type, " +
        "CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value, COUNT(DISTINCT value) AS dist_value, " +
        "CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props, COUNT(DISTINCT props) AS dist_props " +
        "FROM events) " +
        "SELECT column_name, n_rows, n_null, n_distinct FROM (" +
        "SELECT 'event_id' AS column_name, n_rows, null_event_id AS n_null, dist_event_id AS n_distinct FROM a " +
        "UNION ALL SELECT 'ts', n_rows, null_ts, dist_ts FROM a " +
        "UNION ALL SELECT 'user_id', n_rows, null_user_id, dist_user_id FROM a " +
        "UNION ALL SELECT 'event_type', n_rows, null_event_type, dist_event_type FROM a " +
        "UNION ALL SELECT 'value', n_rows, null_value, dist_value FROM a " +
        "UNION ALL SELECT 'props', n_rows, null_props, dist_props FROM a) " +
        "ORDER BY column_name"),
    "q_chi2" ->
      ("WITH c AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2), " +
        "r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS row_n FROM c GROUP BY lang), " +
        "s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS col_n FROM c GROUP BY source), " +
        "g AS (SELECT CAST(SUM(n) AS DOUBLE) AS grand_n FROM c) " +
        "SELECT c.lang, c.source, n, " +
        "CAST(round(CAST(row_n * col_n / grand_n AS DECIMAL(20,8)), 4) AS DOUBLE) AS expected, " +
        "CAST(round(CAST(pow(n - row_n * col_n / grand_n, 2.0) / (row_n * col_n / grand_n) AS DECIMAL(20,8)), 4) AS DOUBLE) AS chi2_cell " +
        "FROM c JOIN r ON c.lang = r.lang JOIN s ON c.source = s.source CROSS JOIN g " +
        "ORDER BY c.lang, c.source"),
    "q_percentile_profile" ->
      ("WITH p AS (SELECT lang, COUNT(*) AS n_docs, " +
        "quantile_cont(n_chars, [0.1, 0.25, 0.5, 0.75, 0.9]) AS q FROM documents GROUP BY lang) " +
        "SELECT lang, n_docs, " +
        "CAST(round(CAST(q[1] AS DECIMAL(20,8)), 4) AS DOUBLE) AS p10, " +
        "CAST(round(CAST(q[2] AS DECIMAL(20,8)), 4) AS DOUBLE) AS p25, " +
        "CAST(round(CAST(q[3] AS DECIMAL(20,8)), 4) AS DOUBLE) AS p50, " +
        "CAST(round(CAST(q[4] AS DECIMAL(20,8)), 4) AS DOUBLE) AS p75, " +
        "CAST(round(CAST(q[5] AS DECIMAL(20,8)), 4) AS DOUBLE) AS p90 " +
        "FROM p ORDER BY lang"),
    // the native JaroWinkler expression is pinned bit-identical to
    // DuckDB's jaro_winkler_similarity — membership thresholds the
    // ROUNDED score on both sides
    "q_fuzzy_jw" ->
      ("WITH p AS (SELECT doc_id, substr(lower(text), 1, 16) AS pref, " +
        "substr(lower(text), 1, 2) AS blk FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(round(CAST(jaro_winkler_similarity(a.pref, b.pref) AS DECIMAL(20,8)), 4) AS DOUBLE) AS jw " +
        "FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE CAST(round(CAST(jaro_winkler_similarity(a.pref, b.pref) AS DECIMAL(20,8)), 4) AS DOUBLE) >= 0.9 " +
        "ORDER BY jw DESC, da, db LIMIT 50"),
    "q_fuzzy_jw_blocked" ->
      ("WITH p AS (SELECT doc_id, substr(lower(text), 1, 16) AS pref, " +
        "substr(lower(text), 1, 4) AS blk FROM documents) " +
        "SELECT a.doc_id AS da, b.doc_id AS db, " +
        "CAST(round(CAST(jaro_winkler_similarity(a.pref, b.pref) AS DECIMAL(20,8)), 4) AS DOUBLE) AS jw " +
        "FROM p a JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE CAST(round(CAST(jaro_winkler_similarity(a.pref, b.pref) AS DECIMAL(20,8)), 4) AS DOUBLE) >= 0.9 " +
        "ORDER BY jw DESC, da, db LIMIT 50"),
    // recursive-CTE replay of the driver's fixed-sweep round-robin
    // PARALLEL Jacobi — see jacobiPcaSql; ~5 s in DuckDB (378 rounds of
    // 32 disjoint rotations; the earlier one-rotation-per-iteration
    // sequential replay cost ~74 s)
    "q_embed_pca" -> jacobiPcaSql(),
    "q_embed_stats" ->
      ("WITH e AS (SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings) " +
        "SELECT dim, COUNT(*) AS n, " +
        "CAST(round(CAST(AVG(x) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean, " +
        "CAST(round(CAST(stddev_samp(x) AS DECIMAL(20,8)), 4) AS DOUBLE) AS std, " +
        "CAST(round(CAST(MIN(x) AS DECIMAL(20,8)), 4) AS DOUBLE) AS min_x, " +
        "CAST(round(CAST(MAX(x) AS DECIMAL(20,8)), 4) AS DOUBLE) AS max_x " +
        "FROM e GROUP BY dim ORDER BY dim"),
    "q_funnel3" ->
      ("WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        // user_id IS NOT NULL mirrors funnel3Totals' engine-side filter
        // (EventOps): without it DuckDB would count a NULL-user group in
        // n1 while the engine drops null users — the contract is explicit
        // rather than dependent on the fixture never emitting nulls
        "v AS (SELECT user_id, MIN(us) AS v_us FROM ev WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id), " +
        "c AS (SELECT ev.user_id, MIN(us) AS c_us FROM ev JOIN v ON ev.user_id = v.user_id " +
        "WHERE event_type = 'click' AND us > v_us GROUP BY ev.user_id), " +
        "p AS (SELECT ev.user_id, MIN(us) AS p_us FROM ev JOIN c ON ev.user_id = c.user_id " +
        "WHERE event_type = 'purchase' AND us > c_us GROUP BY ev.user_id), " +
        "t AS (SELECT (SELECT COUNT(*) FROM v) AS n1, (SELECT COUNT(*) FROM c) AS n2, " +
        "(SELECT COUNT(*) FROM p) AS n3) " +
        "SELECT step, n_users, conv_from_prev, conv_from_start FROM (" +
        "SELECT '1_view' AS step, n1 AS n_users, CAST(1.0 AS DOUBLE) AS conv_from_prev, CAST(1.0 AS DOUBLE) AS conv_from_start FROM t " +
        "UNION ALL SELECT '2_click', n2, " +
        "CASE WHEN n1 > 0 THEN CAST(round(CAST(CAST(n2 AS DOUBLE) / n1 AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END, " +
        "CASE WHEN n1 > 0 THEN CAST(round(CAST(CAST(n2 AS DOUBLE) / n1 AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END FROM t " +
        "UNION ALL SELECT '3_purchase', n3, " +
        "CASE WHEN n2 > 0 THEN CAST(round(CAST(CAST(n3 AS DOUBLE) / n2 AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END, " +
        "CASE WHEN n1 > 0 THEN CAST(round(CAST(CAST(n3 AS DOUBLE) / n1 AS DECIMAL(20,8)), 4) AS DOUBLE) ELSE 0.0 END FROM t) " +
        "ORDER BY step"),
    "q_quality_logistic" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS awl, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS swr " +
        "FROM documents), " +
        "d AS (SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS dupfrac FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY doc_id), " +
        "z AS (SELECT t.doc_id, -1.0 + swr * 8.0 + least(n_toks / 100.0, 1.0) * 1.5 " +
        "- dupfrac * 4.0 - abs(awl - 5.0) * 0.3 AS z FROM t JOIN d ON t.doc_id = d.doc_id) " +
        "SELECT doc_id, " +
        "CAST(round(CAST(1.0 / (1.0 + exp(-z)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p_keep, " +
        "CAST(round(CAST(1.0 / (1.0 + exp(-z)) AS DECIMAL(20,8)), 4) AS DOUBLE) >= 0.5 AS keep " +
        "FROM z ORDER BY doc_id"),
    // logistic p_keep (rounded, as declared) binned against the per-doc
    // all-four-Gopher-rules outcome: the reliability diagram
    "q_calibration" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS awl, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS swr " +
        "FROM documents), " +
        "d AS (SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS dupfrac FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY doc_id), " +
        "z AS (SELECT t.doc_id, -1.0 + swr * 8.0 + least(n_toks / 100.0, 1.0) * 1.5 " +
        "- dupfrac * 4.0 - abs(awl - 5.0) * 0.3 AS z FROM t JOIN d ON t.doc_id = d.doc_id), " +
        "p AS (SELECT doc_id, CAST(round(CAST(1.0 / (1.0 + exp(-z)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p_keep FROM z), " +
        "gt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS n_chars FROM documents), " +
        "gf AS (SELECT doc_id, len(toks) AS n_words, n_chars / len(toks) AS mwl, " +
        "len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS sw_n, " +
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac FROM gt), " +
        "gp AS (SELECT doc_id, CASE WHEN (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) " +
        "AND sw_n >= 2 AND alpha_frac >= 0.8 THEN 1.0 ELSE 0.0 END AS pass FROM gf), " +
        "j AS (SELECT CAST(least(floor(p_keep * 10), 9) AS INTEGER) AS bin, p_keep, pass " +
        "FROM p JOIN gp USING (doc_id)), " +
        "agg AS (SELECT bin, COUNT(*) AS n_docs, " +
        "CAST(round(CAST(avg(p_keep) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_pred, " +
        "CAST(round(CAST(avg(pass) AS DECIMAL(20,8)), 4) AS DOUBLE) AS frac_pass " +
        "FROM j GROUP BY bin) " +
        "SELECT bin, n_docs, mean_pred, frac_pass, " +
        "CAST(round(CAST(abs(mean_pred - frac_pass) AS DECIMAL(20,8)), 4) AS DOUBLE) AS gap " +
        "FROM agg ORDER BY bin"),
    // full-batch logistic GD, 3 steps unrolled: each iteration's weights
    // are a 1-row CTE cross-joined into the next sigmoid; identical
    // left-associated z arithmetic on both engines
    "q_quality_train" -> {
      val z = "((((wb + x1 * wx1) + x2 * wx2) + x3 * wx3) + x4 * wx4)"
      val steps = (1 to 25).map { i =>
        s"g$i AS MATERIALIZED (SELECT avg(e) AS gb, avg(e * x1) AS g1, avg(e * x2) AS g2, " +
          s"avg(e * x3) AS g3, avg(e * x4) AS g4 FROM " +
          s"(SELECT 1.0 / (1.0 + exp(-$z)) - y AS e, x1, x2, x3, x4 " +
          s"FROM f CROSS JOIN w${i - 1})), " +
          s"w$i AS MATERIALIZED (SELECT wb - 5.0 * gb AS wb, wx1 - 5.0 * g1 AS wx1, " +
          s"wx2 - 5.0 * g2 AS wx2, wx3 - 5.0 * g3 AS wx3, wx4 - 5.0 * g4 AS wx4 " +
          s"FROM w${i - 1} CROSS JOIN g$i)"
      }.mkString(", ")
      "WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS awl, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS swr " +
        "FROM documents), " +
        "d AS (SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS dupfrac FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY doc_id), " +
        "gt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS n_chars FROM documents), " +
        "gf AS (SELECT doc_id, len(toks) AS n_words, n_chars / len(toks) AS mwl, " +
        "len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS sw_n, " +
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac FROM gt), " +
        "gp AS (SELECT doc_id, CASE WHEN (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) " +
        "AND sw_n >= 2 AND alpha_frac >= 0.8 THEN 1.0 ELSE 0.0 END AS y FROM gf), " +
        "f AS MATERIALIZED (SELECT t.doc_id, swr AS x1, least(n_toks / 100.0, 1.0) AS x2, " +
        "dupfrac AS x3, abs(awl - 5.0) AS x4, y FROM t JOIN d USING (doc_id) JOIN gp USING (doc_id)), " +
        "w0 AS (SELECT CAST(0.0 AS DOUBLE) AS wb, CAST(0.0 AS DOUBLE) AS wx1, " +
        "CAST(0.0 AS DOUBLE) AS wx2, CAST(0.0 AS DOUBLE) AS wx3, CAST(0.0 AS DOUBLE) AS wx4), " +
        steps + " " +
        "SELECT 25 AS iters, COUNT(*) AS n_docs, " +
        "CAST(round(CAST(avg(y) AS DECIMAL(20,8)), 4) AS DOUBLE) AS base_rate, " +
        "CAST(round(CAST(avg(CASE WHEN (CASE WHEN " +
        s"CAST(round(CAST(1.0 / (1.0 + exp(-$z)) AS DECIMAL(20,8)), 4) AS DOUBLE) >= 0.5 " +
        "THEN 1.0 ELSE 0.0 END) = y THEN 1.0 ELSE 0.0 END) AS DECIMAL(20,8)), 4) AS DOUBLE) AS train_acc, " +
        "CAST(round(CAST(any_value(wb) AS DECIMAL(20,8)), 4) AS DOUBLE) AS w_bias, " +
        "CAST(round(CAST(any_value(wx1) AS DECIMAL(20,8)), 4) AS DOUBLE) AS w_swr, " +
        "CAST(round(CAST(any_value(wx2) AS DECIMAL(20,8)), 4) AS DOUBLE) AS w_len, " +
        "CAST(round(CAST(any_value(wx3) AS DECIMAL(20,8)), 4) AS DOUBLE) AS w_dup, " +
        "CAST(round(CAST(any_value(wx4) AS DECIMAL(20,8)), 4) AS DOUBLE) AS w_awl " +
        "FROM f CROSS JOIN w25"
    },
    "q_chunk_stride" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents), " +
        "e AS (SELECT doc_id, toks, len(toks) AS n_toks, " +
        "unnest(generate_series(0, greatest(1, CAST(ceil((len(toks) - 32) / 32.0) AS BIGINT)) - 1)) AS i FROM t), " +
        "w AS (SELECT doc_id, CAST(i AS INTEGER) AS win_id, CAST(i * 32 AS INTEGER) AS start, " +
        "CAST(least(64, n_toks - i * 32) AS INTEGER) AS n_tokens, toks FROM e) " +
        "SELECT doc_id, win_id, start, n_tokens, " +
        "md5(array_to_string(list_slice(toks, start + 1, start + 64), ' ')) AS chunk_md5 " +
        "FROM w WHERE n_tokens >= 16 OR win_id = 0 ORDER BY doc_id, win_id"),
    // scores a deterministic ~3% md5 sample: on this common-vocabulary
    // fixture every postings list is the whole corpus, so the unsampled
    // inverted-index join is inherently docs^2 (see SimilarityOps scaladoc)
    "q_sparse_sim" ->
      ("WITH s AS (SELECT * FROM documents WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '08'), " +
        "tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM s) " +
        "GROUP BY doc_id, tok), " +
        "dfc AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok), " +
        "nd AS (SELECT COUNT(*) AS n_docs FROM s), " +
        "w AS (SELECT doc_id, tok, tf * ln((n_docs + 1.0) / (df + 1.0)) AS w " +
        "FROM tf JOIN dfc USING (tok) CROSS JOIN nd), " +
        "r AS (SELECT doc_id, tok, w, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY CAST(round(CAST(w AS DECIMAL(20,8)), 4) AS DOUBLE) DESC, tok) AS rn FROM w), " +
        "top AS (SELECT doc_id, tok, w FROM r WHERE rn <= 10), " +
        "nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM top GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS da, b.doc_id AS db, SUM(a.w * b.w) AS dot " +
        "FROM top a JOIN top b ON a.tok = b.tok AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, CAST(round(CAST(dot / (x.nrm * y.nrm) AS DECIMAL(20,8)), 4) AS DOUBLE) AS sim " +
        "FROM p JOIN nrm x ON p.da = x.doc_id JOIN nrm y ON p.db = y.doc_id " +
        "WHERE CAST(round(CAST(dot / (x.nrm * y.nrm) AS DECIMAL(20,8)), 4) AS DOUBLE) >= 0.5 " +
        "ORDER BY sim DESC, da, db LIMIT 50"),
    "q_event_paths" ->
      ("WITH s AS (SELECT user_id, " +
        "list(event_type ORDER BY epoch_us(ts), event_id) AS evs FROM events GROUP BY user_id), " +
        "p AS (SELECT array_to_string(list_slice(evs, 1, 5), '>') AS path FROM s) " +
        "SELECT path, COUNT(*) AS n_users FROM p GROUP BY path " +
        "ORDER BY n_users DESC, path LIMIT 20"),
    "q_zipf" ->
      ("WITH v AS (SELECT tok, COUNT(*) AS n FROM " +
        "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) " +
        "GROUP BY tok ORDER BY n DESC, tok LIMIT 1000), " +
        "r AS (SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, tok) AS DOUBLE)) AS lr, " +
        "ln(CAST(n AS DOUBLE)) AS lf FROM v) " +
        "SELECT COUNT(*) AS n_tokens, " +
        "CAST(round(CAST(regr_slope(lf, lr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS slope, " +
        "CAST(round(CAST(regr_intercept(lf, lr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS intercept, " +
        "CAST(round(CAST(regr_r2(lf, lr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS r2 " +
        "FROM r"),
    "q_weekly_profile" ->
      ("WITH c AS (SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, " +
        "CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n_events " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT dow, CAST(SUM(n_events) AS DOUBLE) AS day_total FROM c GROUP BY dow) " +
        "SELECT c.dow, hr, n_events, " +
        "CAST(round(CAST(n_events / day_total AS DECIMAL(20,8)), 4) AS DOUBLE) AS day_share " +
        "FROM c JOIN t ON c.dow = t.dow ORDER BY c.dow, hr"),
    "q_js_divergence" ->
      ("WITH toks AS (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents), " +
        "vocab AS (SELECT tok, COUNT(*) AS nc FROM toks GROUP BY tok ORDER BY nc DESC, tok LIMIT 200), " +
        "ct AS (SELECT CAST(SUM(nc) AS DOUBLE) AS ct FROM vocab), " +
        "q AS (SELECT tok, nc / ct AS q FROM vocab CROSS JOIN ct), " +
        "sc AS (SELECT source, t.tok, COUNT(*) AS ns FROM toks t JOIN vocab v ON t.tok = v.tok GROUP BY source, t.tok), " +
        "st AS (SELECT source, CAST(SUM(ns) AS DOUBLE) AS st FROM sc GROUP BY source), " +
        "pq AS (SELECT sc.source, sc.tok, ns / st AS p, q FROM sc " +
        "JOIN st ON sc.source = st.source JOIN q ON sc.tok = q.tok), " +
        "kl AS (SELECT source, SUM(p * ln(p * 2.0 / (p + q))) AS kl_p, " +
        "SUM(q * ln(q * 2.0 / (p + q))) AS kl_qp, 1.0 - SUM(q) AS qm FROM pq GROUP BY source) " +
        "SELECT source, " +
        "CAST(round(CAST((kl_p + kl_qp + qm * ln(2.0)) / 2.0 AS DECIMAL(20,8)), 4) AS DOUBLE) AS jsd " +
        "FROM kl ORDER BY source"),
    "q_markov" ->
      ("WITH s AS (SELECT user_id, event_type AS cur, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next " +
        "FROM events), " +
        "t AS (SELECT cur, next, COUNT(*) AS n FROM s WHERE next IS NOT NULL GROUP BY cur, next), " +
        "tot AS (SELECT cur, CAST(SUM(n) AS DOUBLE) AS total FROM t GROUP BY cur) " +
        "SELECT t.cur, next, n, " +
        "CAST(round(CAST(n / total AS DECIMAL(20,8)), 4) AS DOUBLE) AS p " +
        "FROM t JOIN tot ON t.cur = tot.cur ORDER BY t.cur, next"),
    "q_changepoint" ->
      ("WITH h AS (SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr, " +
        "SUM(value) AS v FROM events GROUP BY 1, 2), " +
        "c AS (SELECT event_type, hr, row_number() OVER w AS i, " +
        "SUM(v) OVER (PARTITION BY event_type ORDER BY hr " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s " +
        "FROM h WINDOW w AS (PARTITION BY event_type ORDER BY hr)), " +
        "t AS (SELECT event_type, SUM(v) AS st, COUNT(*) AS hn FROM h GROUP BY 1), " +
        "sc AS (SELECT c.event_type, hr, i, hn, s / i AS ml, (st - s) / (hn - i) AS mr, " +
        "CAST(round(CAST(abs(s / i - (st - s) / (hn - i)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS gap " +
        "FROM c JOIN t ON c.event_type = t.event_type WHERE i < hn), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY gap DESC, hr) AS rk FROM sc) " +
        "SELECT event_type, hr AS split_hr, CAST(i AS BIGINT) AS n_left, " +
        "CAST(hn - i AS BIGINT) AS n_right, " +
        "CAST(round(CAST(ml AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_left, " +
        "CAST(round(CAST(mr AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_right, gap " +
        "FROM r WHERE rk = 1 ORDER BY event_type"),
    // BM25 oracle mirrors the Spark float expression term by term: same
    // literals (1.2 + 1.0, 0.25, 0.75), same left-assoc addition order
    "q_bm25" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS DOUBLE) AS df_hash, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan FROM t), " +
        "d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, " +
        "CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_join, " +
        "CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash, " +
        "CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_scan FROM t) " +
        "SELECT doc_id, CAST(round(CAST(" +
        "(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0) * (tf_join * (1.2 + 1.0))) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0) * (tf_hash * (1.2 + 1.0))) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0) * (tf_scan * (1.2 + 1.0))) / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS bm25 " +
        "FROM d CROSS JOIN s WHERE (tf_join + tf_hash + tf_scan) > 0.0 " +
        "ORDER BY bm25 DESC, doc_id LIMIT 20"),
    // nDCG@10 / MRR for the BM25 top-20: term-coverage graded relevance;
    // log2 spelled ln(x)/ln(2) to match Spark's Logarithm bit-for-bit
    "q_rank_eval" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS DOUBLE) AS df_hash, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan FROM t), " +
        "d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, " +
        "CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_join, " +
        "CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash, " +
        "CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_scan FROM t), " +
        "bm AS (SELECT doc_id, CAST(round(CAST(" +
        "(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0) * (tf_join * (1.2 + 1.0))) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0) * (tf_hash * (1.2 + 1.0))) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0) * (tf_scan * (1.2 + 1.0))) / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS bm25 " +
        "FROM d CROSS JOIN s WHERE (tf_join + tf_hash + tf_scan) > 0.0 " +
        "ORDER BY bm25 DESC, doc_id LIMIT 20), " +
        "rl AS (SELECT doc_id, CASE WHEN cnt >= 10 THEN 3 WHEN cnt >= 6 THEN 2 " +
        "WHEN cnt >= 3 THEN 1 ELSE 0 END AS rel FROM " +
        "(SELECT doc_id, len(list_filter(toks, x -> x = 'join')) " +
        "+ len(list_filter(toks, x -> x = 'hash')) " +
        "+ len(list_filter(toks, x -> x = 'scan')) AS cnt FROM t)), " +
        "rk AS (SELECT bm.doc_id, rel, bm25, " +
        "ROW_NUMBER() OVER (ORDER BY bm25 DESC, bm.doc_id) AS rank FROM bm JOIN rl USING (doc_id)), " +
        "r10 AS (SELECT * FROM rk WHERE rank <= 10), " +
        "dc AS (SELECT SUM((pow(2.0, rel) - 1.0) / (ln(rank + 1.0) / ln(2.0))) AS dcg, " +
        "MIN(CASE WHEN rel >= 2 THEN rank END) AS first_rel, COUNT(*) AS n_ranked FROM r10), " +
        "ideal AS (SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rank " +
        "FROM (SELECT doc_id, rel FROM rl ORDER BY rel DESC, doc_id LIMIT 10)), " +
        "ic AS (SELECT SUM((pow(2.0, rel) - 1.0) / (ln(rank + 1.0) / ln(2.0))) AS idcg FROM ideal) " +
        "SELECT 10 AS k, CAST(n_ranked AS BIGINT) AS n_ranked, " +
        "CAST(round(CAST(dcg AS DECIMAL(20,8)), 4) AS DOUBLE) AS dcg_at_k, " +
        "CAST(round(CAST(idcg AS DECIMAL(20,8)), 4) AS DOUBLE) AS idcg_at_k, " +
        "CAST(round(CAST(dcg / idcg AS DECIMAL(20,8)), 4) AS DOUBLE) AS ndcg_at_k, " +
        "CAST(round(CAST(coalesce(1.0 / first_rel, 0.0) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mrr " +
        "FROM dc CROSS JOIN ic"),
    "q_rrf" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0), " +
        "p AS (SELECT c.vec_id AS id, " +
        "round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * c.v[i])) / (qn * c.nrm), 4) AS sim " +
        "FROM n c CROSS JOIN q WHERE c.vec_id <> 0), " +
        "dtop AS (SELECT id, sim FROM p ORDER BY sim DESC, id LIMIT 50), " +
        "dr AS (SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id) AS INTEGER) AS rd FROM dtop), " +
        "t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS DOUBLE) AS df_hash, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan FROM t), " +
        "d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, " +
        "CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_join, " +
        "CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash, " +
        "CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_scan FROM t), " +
        "sc AS (SELECT doc_id, CAST(round(CAST(" +
        "(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0) * (tf_join * (1.2 + 1.0))) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0) * (tf_hash * (1.2 + 1.0))) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0) * (tf_scan * (1.2 + 1.0))) / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS bm25 " +
        "FROM d CROSS JOIN s WHERE (tf_join + tf_hash + tf_scan) > 0.0), " +
        "stp AS (SELECT doc_id AS id, bm25 FROM sc ORDER BY bm25 DESC, id LIMIT 50), " +
        "sr AS (SELECT id, CAST(row_number() OVER (ORDER BY bm25 DESC, id) AS INTEGER) AS rs FROM stp) " +
        "SELECT coalesce(dr.id, sr.id) AS id, coalesce(rd, 0) AS rank_dense, " +
        "coalesce(rs, 0) AS rank_sparse, " +
        "CAST(round(CAST(coalesce(1.0 / (rd + 60), 0.0) + coalesce(1.0 / (rs + 60), 0.0) " +
        "AS DECIMAL(20,8)), 6) AS DOUBLE) AS rrf " +
        "FROM dr FULL OUTER JOIN sr ON dr.id = sr.id " +
        "ORDER BY rrf DESC, id LIMIT 20"),
    "q_gopher_rules" ->
      ("WITH t AS (SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS n_chars FROM documents), " +
        "f AS (SELECT source, len(toks) AS n_words, n_chars / len(toks) AS mwl, " +
        "len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS sw_n, " +
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac FROM t), " +
        "fl AS (SELECT source, (n_words BETWEEN 20 AND 100000) AS p_wc, " +
        "(mwl BETWEEN 3.0 AND 10.0) AS p_mwl, (sw_n >= 2) AS p_stop, " +
        "(alpha_frac >= 0.8) AS p_alpha FROM f) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN p_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_wc, " +
        "CAST(SUM(CASE WHEN p_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_mwl, " +
        "CAST(SUM(CASE WHEN p_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_stop, " +
        "CAST(SUM(CASE WHEN p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_alpha, " +
        "CAST(SUM(CASE WHEN p_wc AND p_mwl AND p_stop AND p_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all, " +
        "CAST(round(CAST(CAST(SUM(CASE WHEN p_wc AND p_mwl AND p_stop AND p_alpha THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS pass_rate " +
        "FROM fl GROUP BY source ORDER BY source"),
    "q_readability" ->
      ("WITH d AS (SELECT source, " +
        "CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) AS w, " +
        "CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS DOUBLE) AS s, " +
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS y FROM documents), " +
        "f AS (SELECT source, 206.835 - 1.015 * (w / s) - 84.6 * (y / w) AS flesch, " +
        "y / w AS spw FROM d) " +
        "SELECT source, COUNT(*) AS n_docs, " +
        "CAST(round(CAST(avg(flesch) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_flesch, " +
        "CAST(round(CAST(avg(spw) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_syll_per_word " +
        "FROM f GROUP BY source ORDER BY source"),
    // identical fold shape on both sides: seed = oldest value, then
    // acc * 0.7 + x * 0.3 in (ts, event_id) order over the last-50 window
    "q_ema" ->
      ("WITH r AS (SELECT user_id, event_id, value, epoch_us(ts) AS us, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events), " +
        "s AS (SELECT user_id, list(value ORDER BY us, event_id) AS vals " +
        "FROM r WHERE rn <= 50 GROUP BY user_id) " +
        "SELECT user_id, CAST(len(vals) AS INTEGER) AS n_events, " +
        "CAST(round(CAST(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS ema " +
        "FROM s ORDER BY user_id"),
    "q_ttest" ->
      ("WITH s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "AVG(value) AS mean, var_samp(value) AS s2 FROM events GROUP BY event_type) " +
        "SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b, " +
        "CAST(round(CAST(a.mean - b.mean AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_diff, " +
        "CAST(round(CAST((a.mean - b.mean) / sqrt(a.s2 / a.n + b.s2 / b.n) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS t_stat, " +
        "CAST(round(CAST((a.s2 / a.n + b.s2 / b.n) * (a.s2 / a.n + b.s2 / b.n) " +
        "/ (a.s2 / a.n * (a.s2 / a.n) / (a.n - 1.0) + b.s2 / b.n * (b.s2 / b.n) / (b.n - 1.0)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS df " +
        "FROM s a JOIN s b ON a.event_type < b.event_type " +
        "ORDER BY type_a, type_b"),
    "q_confusion" ->
      ("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.label AS label, " +
        "round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) AS cos_sim " +
        "FROM n q JOIN n c ON q.vec_id < 100 AND c.vec_id >= 100), " +
        "r AS (SELECT q_id, label, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, cand_id) AS rn FROM p), " +
        "v AS (SELECT q_id, label, COUNT(*) AS n_votes FROM r WHERE rn <= 10 GROUP BY q_id, label), " +
        "m AS (SELECT q_id, label, n_votes, " +
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) AS mr FROM v), " +
        "pred AS (SELECT m.label AS pred_label, t.label AS true_label " +
        "FROM m JOIN e t ON t.vec_id = m.q_id WHERE m.mr = 1), " +
        "cells AS (SELECT true_label, pred_label, COUNT(*) AS n FROM pred GROUP BY 1, 2), " +
        "rt AS (SELECT true_label, CAST(SUM(n) AS DOUBLE) AS row_total FROM cells GROUP BY 1) " +
        "SELECT c.true_label, c.pred_label, c.n, " +
        "CAST(round(CAST(c.n / rt.row_total AS DECIMAL(20,8)), 4) AS DOUBLE) AS row_share " +
        "FROM cells c JOIN rt USING (true_label) " +
        "ORDER BY true_label, pred_label"),
    "q_psi" ->
      ("WITH d AS (SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bucket FROM documents), " +
        "c AS (SELECT bucket, COUNT(*) AS ncb FROM d GROUP BY bucket), " +
        "t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nbuckets, CAST(SUM(ncb) AS DOUBLE) AS ndocs FROM c), " +
        "sc AS (SELECT source, bucket, COUNT(*) AS nsb FROM d GROUP BY source, bucket), " +
        "st AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS ns FROM d GROUP BY source), " +
        "g AS (SELECT st.source, st.ns, c.ncb, coalesce(sc.nsb, 0) AS nsb " +
        "FROM st CROSS JOIN c LEFT JOIN sc ON sc.source = st.source AND sc.bucket = c.bucket), " +
        "x AS (SELECT source, ns, (nsb + 1.0) / (ns + nbuckets) AS p, " +
        "(ncb + 1.0) / (ndocs + nbuckets) AS q FROM g CROSS JOIN t) " +
        "SELECT source, CAST(max(ns) AS BIGINT) AS n_docs, " +
        "CAST(round(CAST(SUM((p - q) * ln(p / q)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS psi " +
        "FROM x GROUP BY source ORDER BY source"),
    // co-purchase graph CTE shared by the graph oracles: distinct parts per
    // order, basket-capped at 64, pairs with src < dst, deduplicated
    "q_graph_degree" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "d AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) u GROUP BY node) " +
        "SELECT degree, COUNT(*) AS n_nodes FROM d GROUP BY degree ORDER BY degree"),
    // naive a<b<c triangle enumeration — same count as the degree-oriented
    // Spark plan, tractable for DuckDB at oracle SF
    "q_triangles" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM e e1 " +
        "JOIN e e2 ON e2.src = e1.dst " +
        "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst) " +
        "SELECT part_id, COUNT(*) AS n_triangles FROM " +
        "(SELECT a AS part_id FROM t UNION ALL SELECT b AS part_id FROM t " +
        "UNION ALL SELECT c AS part_id FROM t) x " +
        "GROUP BY part_id ORDER BY n_triangles DESC, part_id LIMIT 20"),
    // fixed-iteration PageRank unrolled as 5 chained CTEs over the same
    // co-purchase edges; constants routed through CAST(… AS DOUBLE) so
    // both engines compute the identical IEEE teleport/damping values
    "q_pagerank" -> {
      val iters = (1 to 5).map { i =>
        s"r$i AS (SELECT u.dst AS node, " +
          "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) " +
          "+ CAST(0.85 AS DOUBLE) * SUM(r.rank / d.degree) AS rank " +
          s"FROM und u JOIN r${i - 1} r ON u.src = r.node " +
          "JOIN d ON u.src = d.node GROUP BY u.dst)"
      }.mkString(", ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "d AS (SELECT src AS node, COUNT(*) AS degree FROM und GROUP BY src), " +
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d), " +
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM d), " +
        iters + " " +
        "SELECT node AS part_id, CAST(round(CAST(rank AS DECIMAL(20,8)), 4) AS DOUBLE) AS rank " +
        "FROM r5 ORDER BY rank DESC, part_id LIMIT 20"
    },
    // synchronous LPA, 3 unrolled (votes, argmax) CTE pairs; integer-count
    // argmax with ties to the smallest label on both engines
    "q_graph_lpa" -> {
      val roundsSql = (1 to 3).map { i =>
        s"v$i AS (SELECT u.dst AS node, l.label, COUNT(*) AS n " +
          s"FROM und u JOIN l${i - 1} l ON u.src = l.node GROUP BY 1, 2), " +
          s"l$i AS (SELECT node, label FROM (SELECT node, label, " +
          s"row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn FROM v$i) WHERE rn = 1)"
      }.mkString(", ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM und), " +
        roundsSql + " " +
        "SELECT label AS community, COUNT(*) AS n_members FROM l3 " +
        "GROUP BY label ORDER BY n_members DESC, community LIMIT 50"
    },
    // per-source KS vs rest-of-corpus over the value-compressed n_chars
    // distribution; exact integer cumulatives, two final divisions
    "q_ks_test" ->
      ("WITH d AS (SELECT source, n_chars AS v FROM documents), " +
        "bv AS (SELECT v, COUNT(*) AS n_v FROM d GROUP BY v), " +
        "bsv AS (SELECT source, v, COUNT(*) AS n_sv FROM d GROUP BY source, v), " +
        "bs AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY source), " +
        "tot AS (SELECT SUM(n_v) AS n_total FROM bv), " +
        "grid AS (SELECT bs.source, bv.v, bv.n_v, bs.n_s, " +
        "coalesce(bsv.n_sv, 0) AS n_sv FROM bv CROSS JOIN bs " +
        "LEFT JOIN bsv ON bsv.source = bs.source AND bsv.v = bv.v), " +
        "c AS (SELECT source, n_s, " +
        "SUM(n_sv) OVER (PARTITION BY source ORDER BY v) AS cum_sv, " +
        "SUM(n_v) OVER (PARTITION BY source ORDER BY v) AS cum_v FROM grid) " +
        "SELECT source, CAST(n_s AS BIGINT) AS n_docs, " +
        "CAST(round(CAST(MAX(abs(CAST(cum_sv AS DOUBLE) / n_s " +
        "- CAST(cum_v - cum_sv AS DOUBLE) / (n_total - n_s))) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS ks_stat " +
        "FROM c CROSS JOIN tot GROUP BY source, n_s, n_total ORDER BY source"),
    // per-source Mann-Whitney U with midrank ties + tie-corrected z
    "q_mannwhitney" ->
      ("WITH d AS (SELECT source, n_chars AS v FROM documents), " +
        "bv AS (SELECT v, COUNT(*) AS n_v FROM d GROUP BY v), " +
        "bsv AS (SELECT source, v, COUNT(*) AS n_sv FROM d GROUP BY source, v), " +
        "bs AS (SELECT source, COUNT(*) AS n_s FROM d GROUP BY source), " +
        "tot AS (SELECT SUM(n_v) AS n_total, " +
        "SUM(n_v * n_v * n_v - n_v) AS tie_sum FROM bv), " +
        "rk AS (SELECT v, CAST(coalesce(SUM(n_v) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) " +
        "+ CAST(n_v + 1 AS DOUBLE) / 2.0 AS midrank FROM bv), " +
        "rs AS (SELECT source, SUM(CAST(n_sv AS DOUBLE) * midrank) AS rank_sum " +
        "FROM rk JOIN bsv USING (v) GROUP BY source) " +
        "SELECT source, CAST(n_s AS BIGINT) AS n_docs, " +
        "CAST(round(CAST(rank_sum - CAST(n_s AS DOUBLE) * (n_s + 1) / 2.0 " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS u_stat, " +
        "CAST(round(CAST((rank_sum - CAST(n_s AS DOUBLE) * (n_s + 1) / 2.0 " +
        "- CAST(n_s AS DOUBLE) * (n_total - n_s) / 2.0) " +
        "/ sqrt(CAST(n_s AS DOUBLE) * (n_total - n_s) / 12.0 " +
        "* (CAST(n_total + 1 AS DOUBLE) - CAST(tie_sum AS DOUBLE) " +
        "/ (CAST(n_total AS DOUBLE) * (n_total - 1)))) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS z_stat " +
        "FROM rs JOIN bs USING (source) CROSS JOIN tot ORDER BY source"),
    // SCD-2: runs of identical per-user states -> versioned validity ranges
    "q_scd2" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us " +
        "FROM events), " +
        "ch AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY us, event_id) AS prev FROM e), " +
        "f AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> event_type) " +
        "SELECT user_id, CAST(ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY us, event_id) AS INTEGER) AS version, " +
        "event_type AS state, us AS valid_from, " +
        "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to, " +
        "CAST(CASE WHEN lead(us) OVER (PARTITION BY user_id " +
        "ORDER BY us, event_id) IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current " +
        "FROM f ORDER BY user_id, version"),
    // point-in-time join: the scd2 CTE + a 1h-lookback interval left join
    "q_pit_join" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us " +
        "FROM events), " +
        "ch AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id " +
        "ORDER BY us, event_id) AS prev FROM e), " +
        "f AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> event_type), " +
        "dim AS (SELECT user_id, CAST(ROW_NUMBER() OVER (PARTITION BY user_id " +
        "ORDER BY us, event_id) AS INTEGER) AS version, " +
        "event_type AS state, us AS valid_from, " +
        "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to FROM f), " +
        "obs AS (SELECT event_id, user_id, us, us - 3600000000 AS asof_us " +
        "FROM e WHERE event_type = 'purchase') " +
        "SELECT obs.event_id, obs.user_id, obs.us AS label_us, " +
        "coalesce(dim.state, 'none') AS state_asof, " +
        "coalesce(dim.version, -1) AS dim_version " +
        "FROM obs LEFT JOIN dim ON obs.user_id = dim.user_id " +
        "AND dim.valid_from <= obs.asof_us " +
        "AND (dim.valid_to IS NULL OR obs.asof_us < dim.valid_to) " +
        "ORDER BY obs.event_id"),
    // the ORACLE recomputes the v2 join from scratch; the declared query
    // merges stored state with signed deltas — equality IS the IVM claim
    "q_incr_join" ->
      ("WITH v1 AS (SELECT o_orderkey AS key, o_custkey AS cust, o_totalprice AS price FROM orders), " +
        "v2 AS (SELECT key, cust, CASE WHEN key % 13 = 0 THEN round(price * 1.05, 4) ELSE price END AS price " +
        "FROM v1 WHERE key % 97 <> 0 " +
        "UNION ALL SELECT key + 1000000000, cust, price FROM v1 WHERE key % 101 = 0) " +
        "SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_orders, " +
        "CAST(round(CAST(CAST(SUM(CAST(round(price * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS revenue " +
        "FROM v2 JOIN customer ON cust = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY seg"),
    // top-3 highest-cosine different-label neighbors per probe vector
    "q_hard_negative" ->
      ("WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT q.vec_id AS q_id, q.label AS q_label, " +
        "c.vec_id AS cand_id, c.label AS neg_label, " +
        "round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) " +
        "/ (q.nrm * c.nrm), 4) AS cos_sim " +
        "FROM n q JOIN n c ON q.vec_id < 20 AND q.label <> c.label), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id " +
        "ORDER BY cos_sim DESC, cand_id) AS rn FROM p) " +
        "SELECT q_id, CAST(rn AS INTEGER) AS rn, cand_id, q_label, " +
        "neg_label, cos_sim FROM r WHERE rn <= 3 ORDER BY q_id, rn"),
    // every 4th 16-byte frame slice; ASCII corpus -> char slicing == byte
    // slicing, so substring+md5 reproduces the Spark binary digests
    // stub featurizer = md5-digest bytes of each sampled frame, scaled
    // through double and narrowed to float32 (CAST AS REAL) — round-9 port
    "q_frame_features" ->
      ("WITH x AS (SELECT doc_id, text, " +
        "unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT))) AS i FROM documents), " +
        "fr AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, " +
        "md5(substring(text, CAST(i * 16 + 1 AS INTEGER), 16)) AS h " +
        "FROM x WHERE i % 4 = 0) " +
        "SELECT doc_id, frame_idx, " +
        (0 until 8).map(d =>
          "CAST(round(CAST(CAST(CAST(('0x' || substr(h, " + (2 * d + 1) +
            ", 2)) AS INTEGER) / 255.0 AS REAL) AS DECIMAL(20,8)), 4) AS DOUBLE) AS f" + d)
          .mkString(", ") +
        " FROM fr ORDER BY doc_id, frame_idx"),
    "q_frame_sample" ->
      ("WITH x AS (SELECT doc_id, text, " +
        "unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT))) AS i FROM documents) " +
        "SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, " +
        "CAST(16 AS INTEGER) AS n_bytes, " +
        "md5(substring(text, CAST(i * 16 + 1 AS INTEGER), 16)) AS frame_hash " +
        "FROM x WHERE i % 4 = 0 ORDER BY doc_id, frame_idx"),
    // Morton-interleave of the two 8-bit bucket ids, expanded to plain bit
    // arithmetic (generated: bit i of bx -> z bit 2i, bit i of by -> 2i+1)
    "q_zorder" ->
      ("WITH b AS (SELECT CAST(least(floor(o_totalprice / 2000), 255) AS INTEGER) AS bx, " +
        "CAST(((date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) % 256) + 256) % 256 AS INTEGER) AS by " +
        "FROM orders), " +
        "z AS (SELECT bx, by, " +
        (0 until 8).map(i =>
          s"((bx >> $i) & 1) * ${1 << (2 * i)} + ((by >> $i) & 1) * ${1 << (2 * i + 1)}")
          .mkString(" + ") +
        " AS zkey FROM b) " +
        "SELECT CAST(zkey // 64 AS INTEGER) AS zrange, COUNT(*) AS n, " +
        "MIN(bx) AS min_price_bucket, MAX(bx) AS max_price_bucket, " +
        "MIN(by) AS min_day_bucket, MAX(by) AS max_day_bucket " +
        "FROM z GROUP BY zrange ORDER BY zrange"),
    // same bucketization + zkey as q_zorder; three layout keys over one
    // scan, footer-style min/max pruning test per 64-key range
    "q_skip_audit" ->
      ("WITH b AS (SELECT CAST(least(floor(o_totalprice / 2000), 255) AS INTEGER) AS bx, " +
        "CAST(((date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) % 256) + 256) % 256 AS INTEGER) AS by " +
        "FROM orders), " +
        "z AS (SELECT bx, by, " +
        (0 until 8).map(i =>
          s"((bx >> $i) & 1) * ${1 << (2 * i)} + ((by >> $i) & 1) * ${1 << (2 * i + 1)}")
          .mkString(" + ") +
        " AS zkey FROM b), " +
        "t AS (SELECT 'price_day' AS layout, CAST((bx * 256 + by) // 64 AS INTEGER) AS rng, bx, by FROM z " +
        "UNION ALL SELECT 'day_price', CAST((by * 256 + bx) // 64 AS INTEGER), bx, by FROM z " +
        "UNION ALL SELECT 'zorder', CAST(zkey // 64 AS INTEGER), bx, by FROM z), " +
        "r AS (SELECT layout, rng, COUNT(*) AS n, MIN(bx) AS minx, MAX(bx) AS maxx, " +
        "MIN(by) AS miny, MAX(by) AS maxy, " +
        "SUM(CASE WHEN bx BETWEEN 10 AND 25 AND by BETWEEN 40 AND 90 THEN 1 ELSE 0 END) AS n_match " +
        "FROM t GROUP BY layout, rng) " +
        "SELECT layout, COUNT(*) AS n_ranges, " +
        "CAST(SUM(CASE WHEN maxx >= 10 AND minx <= 25 AND maxy >= 40 AND miny <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned_ranges, " +
        "CAST(SUM(n) AS BIGINT) AS rows_total, " +
        "CAST(SUM(CASE WHEN maxx >= 10 AND minx <= 25 AND maxy >= 40 AND miny <= 90 THEN n ELSE 0 END) AS BIGINT) AS rows_scanned, " +
        "CAST(SUM(n_match) AS BIGINT) AS rows_matching, " +
        "CAST(round(CAST(CAST(SUM(CASE WHEN maxx >= 10 AND minx <= 25 AND maxy >= 40 AND miny <= 90 THEN n ELSE 0 END) AS DOUBLE) " +
        "/ SUM(n) AS DECIMAL(20,8)), 4) AS DOUBLE) AS scan_frac " +
        "FROM r GROUP BY layout ORDER BY layout"),
    // market-basket support/confidence/lift over the capped baskets
    "q_lift" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "o AS (SELECT * FROM op WHERE okey IN (SELECT okey FROM ok)), " +
        "t AS (SELECT CAST(COUNT(DISTINCT okey) AS DOUBLE) AS n_orders FROM o), " +
        "item AS (SELECT pkey, COUNT(*) AS n_item FROM o GROUP BY pkey), " +
        "p AS (SELECT a.pkey AS src, b.pkey AS dst, COUNT(*) AS n_pair " +
        "FROM o a JOIN o b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2) " +
        "SELECT src, dst, n_pair, i1.n_item AS n_src, i2.n_item AS n_dst, " +
        "CAST(round(CAST(n_pair / n_orders AS DECIMAL(20,8)), 4) AS DOUBLE) AS support, " +
        "CAST(round(CAST(CAST(n_pair AS DOUBLE) / i1.n_item AS DECIMAL(20,8)), 4) AS DOUBLE) AS confidence, " +
        "CAST(round(CAST(n_pair * n_orders / (CAST(i1.n_item AS DOUBLE) * i2.n_item) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS lift " +
        "FROM p JOIN item i1 ON i1.pkey = src JOIN item i2 ON i2.pkey = dst " +
        "CROSS JOIN t ORDER BY lift DESC, src, dst LIMIT 20"),
    // two-proportion z on the parity split (conversion = first event is a
    // purchase); HUGEINT sums cast back; z NULL when all-or-nothing
    "q_abtest" ->
      ("WITH f AS (SELECT user_id, event_type, ROW_NUMBER() OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn FROM events), " +
        "pu AS (SELECT user_id % 2 AS variant, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted " +
        "FROM f WHERE rn = 1), " +
        "bv AS (SELECT variant, COUNT(*) AS n, SUM(converted) AS conv FROM pu GROUP BY variant), " +
        "w AS (SELECT CAST(SUM(CASE WHEN variant = 0 THEN n END) AS BIGINT) AS n_a, " +
        "CAST(SUM(CASE WHEN variant = 1 THEN n END) AS BIGINT) AS n_b, " +
        "CAST(SUM(CASE WHEN variant = 0 THEN conv END) AS BIGINT) AS conv_a, " +
        "CAST(SUM(CASE WHEN variant = 1 THEN conv END) AS BIGINT) AS conv_b FROM bv) " +
        "SELECT n_a, n_b, conv_a, conv_b, " +
        "CAST(round(CAST(CAST(conv_a AS DOUBLE) / n_a AS DECIMAL(20,8)), 4) AS DOUBLE) AS rate_a, " +
        "CAST(round(CAST(CAST(conv_b AS DOUBLE) / n_b AS DECIMAL(20,8)), 4) AS DOUBLE) AS rate_b, " +
        "CAST(round(CAST(CASE WHEN conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b THEN " +
        "(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) " +
        "/ sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) " +
        "* (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)) " +
        "* (1.0 / n_a + 1.0 / n_b)) END AS DECIMAL(20,8)), 4) AS DOUBLE) AS z_stat " +
        "FROM w"),
    // gap-based debounce: drop events within 60 min of the same user's
    // previous same-type event, report the per-type keep funnel
    "q_debounce" ->
      ("WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events), " +
        "l AS (SELECT event_type, CASE WHEN lag(us) OVER (PARTITION BY user_id, event_type " +
        "ORDER BY us, event_id) IS NULL OR us - lag(us) OVER (PARTITION BY user_id, event_type " +
        "ORDER BY us, event_id) > 3600000000 THEN 1 ELSE 0 END AS kept FROM e) " +
        "SELECT event_type, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept, " +
        "CAST(round(CAST(CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS kept_share " +
        "FROM l GROUP BY event_type ORDER BY event_type"),
    // Poisson bootstrap: weights from the SAME md5-hex thresholds as the
    // Spark side (StatOps.PoissonCdfHex), replicate means are exact-integer
    // ratios, CI from interpolated percentiles over the replicate means
    "q_bootstrap" ->
      ("WITH r AS (SELECT lang, doc_id, n_chars, " +
        "unnest(range(1, 201)) AS b FROM documents), " +
        "wts AS (SELECT lang, b, n_chars, CASE " +
        StatOps.PoissonCdfHex.zipWithIndex.map { case (h, k) =>
          s"WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 6) < '$h' THEN $k "
        }.mkString +
        "ELSE 7 END AS w FROM r), " +
        "m AS (SELECT lang, b, CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w) AS m " +
        "FROM wts GROUP BY lang, b HAVING SUM(w) > 0), " +
        "ci AS (SELECT lang, " +
        "CAST(round(CAST(quantile_cont(m, 0.025) AS DECIMAL(20,8)), 4) AS DOUBLE) AS ci_lo, " +
        "CAST(round(CAST(quantile_cont(m, 0.975) AS DECIMAL(20,8)), 4) AS DOUBLE) AS ci_hi " +
        "FROM m GROUP BY lang), " +
        "base AS (SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(round(CAST(AVG(n_chars) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_len " +
        "FROM documents GROUP BY lang) " +
        "SELECT lang, n_docs, mean_len, ci_lo, ci_hi " +
        "FROM ci JOIN base USING (lang) ORDER BY lang"),
    // the incremental-merge result must equal the full recompute — the
    // oracle IS the full recompute
    "q_incr_rollup" ->
      ("SELECT CAST(o_orderdate AS DATE) AS day, " +
        "round(SUM(o_totalprice), 4) AS revenue, " +
        "COUNT(*) AS n_orders, " +
        "CAST(round(CAST(SUM(o_totalprice) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_order " +
        "FROM orders GROUP BY 1 ORDER BY day"),
    // one-way ANOVA from per-group sufficient statistics
    "q_anova" ->
      ("WITH g AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, " +
        "SUM(value) AS s, SUM(value * value) AS ss FROM events GROUP BY event_type), " +
        "t AS (SELECT COUNT(*) AS k, SUM(n) AS n_total, SUM(s) AS s_all, " +
        "SUM(s * s / n) AS sb_raw, SUM(ss - s * s / n) AS ssw FROM g) " +
        "SELECT CAST(k AS INTEGER) AS k_groups, CAST(n_total AS BIGINT) AS n_rows, " +
        "CAST(round(CAST(((sb_raw - s_all * s_all / n_total) / (k - 1)) " +
        "/ (ssw / (n_total - k)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS f_stat FROM t"),
    // k-anonymity audit: QI equivalence classes below k
    "q_k_anonymity" ->
      ("SELECT c_nationkey AS nation, c_mktsegment AS segment, " +
        "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, " +
        "COUNT(*) AS class_size FROM customer " +
        "GROUP BY 1, 2, 3 HAVING COUNT(*) < 5 " +
        "ORDER BY class_size, nation, segment, bal_band"),
    // last-touch attribution: per-purchase argmax over the 7-day banded
    // user join, integer event_id tiebreak; zero-touch purchases = direct
    "q_attribution" ->
      ("WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, " +
        "value AS revenue FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT event_id AS t_id, user_id AS t_user, ts AS t_ts, " +
        "event_type AS channel FROM events WHERE event_type <> 'purchase'), " +
        "c AS (SELECT p.p_id, p.revenue, t.channel, t.t_ts, t.t_id, " +
        "row_number() OVER (PARTITION BY p.p_id " +
        "ORDER BY t.t_ts DESC NULLS LAST, t.t_id DESC NULLS LAST) AS rn " +
        "FROM p LEFT OUTER JOIN t ON p.p_user = t.t_user " +
        "AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY) " +
        "SELECT COALESCE(channel, 'direct') AS channel, " +
        "COUNT(*) AS n_conversions, " +
        "round(SUM(revenue), 4) AS attributed_revenue " +
        "FROM c WHERE rn = 1 GROUP BY 1 ORDER BY 1"),
    // U-shaped attribution: weight from (rn, n) over the same banded
    // join; revenue*weight cast DECIMAL(20,8) BEFORE the sum (order-free)
    "q_attribution_position" ->
      ("WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, " +
        "value AS revenue FROM events WHERE event_type = 'purchase'), " +
        "t AS (SELECT event_id AS t_id, user_id AS t_user, ts AS t_ts, " +
        "event_type AS channel FROM events WHERE event_type <> 'purchase'), " +
        "c AS (SELECT p.p_id, p.revenue, t.channel, " +
        "row_number() OVER (PARTITION BY p.p_id " +
        "ORDER BY t.t_ts ASC NULLS LAST, t.t_id ASC NULLS LAST) AS rn, " +
        "COUNT(*) OVER (PARTITION BY p.p_id) AS n " +
        "FROM p LEFT OUTER JOIN t ON p.p_user = t.t_user " +
        "AND t.t_ts <= p.p_ts AND t.t_ts >= p.p_ts - INTERVAL 7 DAY), " +
        "wv AS (SELECT COALESCE(channel, 'direct') AS channel, " +
        "CAST(revenue * (CASE WHEN n = 1 THEN 1.0 WHEN n = 2 THEN 0.5 " +
        "WHEN rn = 1 OR rn = n THEN 0.4 " +
        "ELSE 0.2 / CAST(n - 2 AS DOUBLE) END) AS DECIMAL(20,8)) AS wrev " +
        "FROM c) " +
        "SELECT channel, COUNT(*) AS n_touches, " +
        "CAST(round(SUM(wrev), 4) AS DOUBLE) AS attributed_revenue " +
        "FROM wv GROUP BY 1 ORDER BY 1"),
    // CDC snapshot diff: keys %97 deleted, %13 repriced x1.05, %101
    // re-inserted under key+1e9; classify via full-outer null pattern
    "q_snapshot_diff" ->
      ("WITH old AS (SELECT o_orderkey AS key, o_totalprice AS price, " +
        "o_orderstatus AS status FROM orders), " +
        "neu AS (SELECT key, CASE WHEN key % 13 = 0 " +
        "THEN round(price * 1.05, 4) ELSE price END AS price, status " +
        "FROM old WHERE key % 97 <> 0 " +
        "UNION ALL SELECT key + 1000000000 AS key, price, status " +
        "FROM old WHERE key % 101 = 0) " +
        "SELECT CASE WHEN o.key IS NULL THEN 'insert' " +
        "WHEN n.key IS NULL THEN 'delete' " +
        "WHEN o.price <> n.price OR o.status <> n.status THEN 'update' " +
        "ELSE 'unchanged' END AS change_type, " +
        "COUNT(*) AS n_rows, " +
        "round(SUM(CASE WHEN o.key IS NOT NULL AND n.key IS NOT NULL " +
        "THEN abs(n.price - o.price) ELSE 0.0 END), 4) AS abs_price_drift " +
        "FROM old o FULL OUTER JOIN neu n ON o.key = n.key " +
        "GROUP BY 1 ORDER BY 1"),
    // 2-D skyline via the distinct-point sort sweep: a point survives iff
    // its size strictly exceeds the running max over all (cheaper-or-
    // equal) preceding points
    "q_skyline" ->
      ("WITH pts AS (SELECT round(p_retailprice, 4) AS price, p_size, " +
        "COUNT(*) AS n_parts, MIN(p_partkey) AS sample_part " +
        "FROM part GROUP BY 1, 2), " +
        "sw AS (SELECT price, p_size, n_parts, sample_part, " +
        "MAX(p_size) OVER (ORDER BY price ASC, p_size DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev " +
        "FROM pts) " +
        "SELECT price, p_size AS size, n_parts, sample_part " +
        "FROM sw WHERE max_prev IS NULL OR p_size > max_prev " +
        "ORDER BY price"),
    // lang×source mutual information from the integer contingency table;
    // DuckDB ln = Spark log
    "q_mutual_info" ->
      ("WITH c AS (SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY 1, 2), " +
        "nl AS (SELECT lang, CAST(SUM(n_ls) AS BIGINT) AS n_l FROM c GROUP BY 1), " +
        "ns AS (SELECT source, CAST(SUM(n_ls) AS BIGINT) AS n_s FROM c GROUP BY 1), " +
        "agg AS (SELECT CAST(SUM(n_ls) AS BIGINT) AS n_total, COUNT(*) AS n_cells, " +
        "SUM(CAST(n_ls AS DOUBLE) * ln(CAST(n_ls AS DOUBLE) " +
        "/ (CAST(n_l AS DOUBLE) * CAST(n_s AS DOUBLE)))) AS mi_raw " +
        "FROM c JOIN nl USING (lang) JOIN ns USING (source)), " +
        "ml AS (SELECT SUM(CAST(n_l AS DOUBLE) * ln(CAST(n_l AS DOUBLE))) AS sum_l_logl FROM nl), " +
        "ms AS (SELECT SUM(CAST(n_s AS DOUBLE) * ln(CAST(n_s AS DOUBLE))) AS sum_s_logs FROM ns) " +
        "SELECT n_total, n_cells, " +
        "round(mi_raw / n_total + ln(CAST(n_total AS DOUBLE)), 4) AS mi_nats, " +
        "round(ln(CAST(n_total AS DOUBLE)) - sum_l_logl / n_total, 4) AS h_lang, " +
        "round(ln(CAST(n_total AS DOUBLE)) - sum_s_logs / n_total, 4) AS h_source, " +
        "round((mi_raw / n_total + ln(CAST(n_total AS DOUBLE))) " +
        "/ sqrt((ln(CAST(n_total AS DOUBLE)) - sum_l_logl / n_total) " +
        "* (ln(CAST(n_total AS DOUBLE)) - sum_s_logs / n_total)), 4) AS nmi " +
        "FROM agg, ml, ms"),
    // entropy l-diversity audit: H(sensitive|group) vs ln l per QI group
    // (DuckDB ln = Spark log; SUM(bigint) is HUGEINT, cast back)
    "q_entropy_ldiv" ->
      ("WITH b AS (SELECT c_nationkey AS nation, c_mktsegment AS segment, " +
        "floor(c_acctbal / 1000) AS band, COUNT(*) AS n_band " +
        "FROM customer GROUP BY 1, 2, 3) " +
        "SELECT nation, segment, " +
        "CAST(SUM(n_band) AS BIGINT) AS group_n, " +
        "COUNT(*) AS l_distinct, " +
        "round(ln(CAST(SUM(n_band) AS DOUBLE)) " +
        "- SUM(CAST(n_band AS DOUBLE) * ln(CAST(n_band AS DOUBLE))) " +
        "/ CAST(SUM(n_band) AS DOUBLE), 4) AS entropy, " +
        "COUNT(*) < 3 AS at_risk " +
        "FROM b GROUP BY 1, 2 ORDER BY 1, 2"),
    // strong-tie (≥2 co-baskets, same brand) connected components via the
    // recursive min-label transitive closure; components are threshold-
    // bounded small, which keeps `reach` tractable
    "q_graph_cc" ->
      ("WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "JOIN part pa ON a.pkey = pa.p_partkey " +
        "JOIN part pb ON b.pkey = pb.p_partkey AND pa.p_brand = pb.p_brand " +
        "WHERE a.okey IN (SELECT okey FROM ok) " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2), " +
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "reach AS (SELECT node, node AS r FROM nodes " +
        "UNION SELECT reach.node, u.dst FROM reach JOIN und u ON reach.r = u.src) " +
        "SELECT node AS part_id, MIN(r) AS component_id FROM reach " +
        "GROUP BY node ORDER BY part_id"),
    // STL skeleton: centered 7-row MA trend over 1e-4-scaled longs (sum of
    // longs is order-independent), per-weekday seasonal means, residual.
    // DuckDB dayofweek() is 0-6 vs Spark 1-7 — used only as an internal
    // join key, consistently within each engine, never output.
    "q_stl_decompose" ->
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, round(SUM(value), 4) AS total " +
        "FROM events GROUP BY 1), " +
        "d2 AS (SELECT day, total, CAST(round(total * 10000) AS BIGINT) AS total_l FROM d), " +
        "t AS (SELECT day, total, total_l, " +
        "COUNT(*) OVER w AS n_win, SUM(total_l) OVER w AS trend_l FROM d2 " +
        "WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "t2 AS (SELECT day, total, " +
        "round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) AS trend, " +
        "total_l - CAST(round(round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) * 10000) AS BIGINT) AS detr_l " +
        "FROM t WHERE n_win = 7), " +
        "s AS (SELECT dayofweek(day) AS dow, " +
        "round(CAST(SUM(detr_l) AS DOUBLE) / COUNT(*) / 10000.0, 4) AS seasonal " +
        "FROM t2 GROUP BY 1) " +
        "SELECT day, total, trend, seasonal, " +
        "round(total - trend - seasonal, 4) AS residual " +
        "FROM t2 JOIN s ON dayofweek(day) = dow ORDER BY day"),
    // neighborhood-Jaccard link prediction over the top-100-degree batch
    "q_link_predict" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "d AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) u GROUP BY node), " +
        "top AS (SELECT node, degree FROM d ORDER BY degree DESC, node LIMIT 100), " +
        "nb AS (SELECT src AS node, dst AS nbr FROM e UNION ALL SELECT dst AS node, src AS nbr FROM e), " +
        "hn AS (SELECT nb.node, nb.nbr FROM nb JOIN top ON top.node = nb.node), " +
        "c AS (SELECT x.node AS a, y.node AS b, COUNT(*) AS n_common " +
        "FROM hn x JOIN hn y ON x.nbr = y.nbr AND x.node < y.node GROUP BY 1, 2), " +
        "nc AS (SELECT a, b, n_common FROM c WHERE NOT EXISTS " +
        "(SELECT 1 FROM e WHERE e.src = c.a AND e.dst = c.b)) " +
        "SELECT a, b, n_common, " +
        "CAST(round(CAST(CAST(n_common AS DOUBLE) / (ta.degree + tb.degree - n_common) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS jaccard " +
        "FROM nc JOIN top ta ON ta.node = a JOIN top tb ON tb.node = b " +
        "ORDER BY jaccard DESC, a, b LIMIT 20"),
    // entity resolution: the blocked Jaro-Winkler edge set is plain SQL
    // (the native expression is pinned bit-identical to DuckDB's
    // jaro_winkler_similarity), and the connected-components min-label
    // fixpoint equals MIN(r) over the transitive closure computed by a
    // recursive CTE (UNION dedup terminates it)
    "q_entity_match_capped" ->
      ("WITH RECURSIVE p0 AS (SELECT doc_id, substr(lower(text), 1, 16) AS name, " +
        "substr(lower(text), 1, 8) AS blk FROM documents), " +
        "p AS (SELECT doc_id, name, blk FROM (SELECT doc_id, name, blk, " +
        "row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn FROM p0) " +
        s"WHERE rn <= ${operators.DedupOps.EntityBlockCap}), " +
        "e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM p a " +
        "JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE jaro_winkler_similarity(a.name, b.name) >= 0.92), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "reach AS (SELECT src AS node, src AS r FROM und " +
        "UNION SELECT reach.node, u.dst FROM reach JOIN und u ON reach.r = u.src), " +
        "comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node) " +
        "SELECT comp AS entity_id, COUNT(*) AS n_members, " +
        "string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members " +
        "FROM comp GROUP BY comp HAVING COUNT(*) >= 2 " +
        "ORDER BY n_members DESC, entity_id LIMIT 20"),
    "q_entity_match" ->
      ("WITH RECURSIVE p AS (SELECT doc_id, substr(lower(text), 1, 16) AS name, " +
        "substr(lower(text), 1, 8) AS blk FROM documents), " +
        "e AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM p a " +
        "JOIN p b ON a.blk = b.blk AND a.doc_id < b.doc_id " +
        "WHERE jaro_winkler_similarity(a.name, b.name) >= 0.92), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "reach AS (SELECT src AS node, src AS r FROM und " +
        "UNION SELECT reach.node, u.dst FROM reach JOIN und u ON reach.r = u.src), " +
        "comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node) " +
        "SELECT comp AS entity_id, COUNT(*) AS n_members, " +
        "string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS members " +
        "FROM comp GROUP BY comp HAVING COUNT(*) >= 2 " +
        "ORDER BY n_members DESC, entity_id LIMIT 20"),
    // transitive near-dup clustering: recall-1 candidates (pairs sharing a
    // word-3-gram shingle), exact-Jaccard edges, then min-label CC via the
    // recursive transitive closure seeded with EVERY doc (singletons label
    // themselves)
    "q_dedup_clusters" ->
      ("WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "c AS (SELECT doc_id, COUNT(*) AS n FROM x GROUP BY doc_id), " +
        "pr AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared FROM x a " +
        "JOIN x b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "e AS (SELECT da, db FROM pr JOIN c ca ON pr.da = ca.doc_id " +
        "JOIN c cb ON pr.db = cb.doc_id " +
        "WHERE CAST(shared AS DOUBLE) / (ca.n + cb.n - shared) >= 0.5), " +
        "und AS (SELECT da AS src, db AS dst FROM e UNION ALL SELECT db AS src, da AS dst FROM e), " +
        "reach AS (SELECT doc_id AS node, doc_id AS r FROM documents " +
        "UNION SELECT reach.node, u.dst FROM reach JOIN und u ON reach.r = u.src) " +
        "SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node " +
        "ORDER BY doc_id"),
    "q_tpch_q3" ->
      ("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, " +
        "o_orderpriority, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderdate < TIMESTAMP '1995-03-15 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' " +
        "GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderkey LIMIT 10"),
    // Q12's CASE-classification aggregate with the adapted mode/lateness
    // columns (see JoinOps.tpchQ12)
    "q_tpch_q12" ->
      ("SELECT l_returnflag AS ship_mode, " +
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAY " +
        "GROUP BY 1 ORDER BY 1"),
    // Q21's multi-EXISTS / NOT-EXISTS composite over the adapted late rule
    "q_tpch_q21" ->
      ("WITH late AS (SELECT DISTINCT l.l_orderkey, l.l_suppkey FROM lineitem l " +
        "JOIN orders o ON l.l_orderkey = o.o_orderkey " +
        "WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) " +
        "SELECT s.s_name, count(*) AS numwait FROM late l1 " +
        "JOIN supplier s ON l1.l_suppkey = s.s_suppkey " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey) " +
        "GROUP BY s.s_name ORDER BY numwait DESC, s_name LIMIT 20"),
    // Q4's correlated EXISTS with the adapted predicate (see JoinOps.tpchQ4)
    "q_tpch_q4" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders o " +
        "WHERE o_orderdate >= TIMESTAMP '1995-07-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1995-10-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate) " +
        "GROUP BY 1 ORDER BY 1"),
    "q_tpch_q18" ->
      ("WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS total_qty " +
        "FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) " +
        "SELECT c_custkey, c_name, o_orderkey, " +
        "CAST(o_orderdate AS DATE) AS order_date, " +
        "round(o_totalprice, 4) AS o_totalprice, " +
        "round(total_qty, 4) AS total_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    // Q10 returned-item reporting over one quarter, adapted columns
    "q_tpch_q10" ->
      ("SELECT c_custkey, c_name, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "round(c_acctbal, 4) AS c_acctbal, n_name " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_returnflag = 'R' " +
        "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    // Q6 forecasting-revenue-change: pure pushed-predicate scan aggregate
    "q_tpch_q6" ->
      ("SELECT round(SUM(l_extendedprice * l_discount), 4) AS revenue, " +
        "COUNT(*) AS n_items FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    // Q7 volume shipping: nation joined twice under two roles; year()
    // widens to BIGINT in DuckDB -> cast to match Spark's INT
    "q_tpch_q7" ->
      ("SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INTEGER) AS l_year, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ns ON s_nationkey = ns.n_nationkey " +
        "JOIN nation nc ON c_nationkey = nc.n_nationkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND ns.n_name <> nc.n_name " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    // Q14 promotion effect: conditional-aggregate revenue share
    "q_tpch_q14" ->
      ("SELECT " +
        "round(SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 4) AS promo_revenue, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue, " +
        "round(SUM(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END) * 100.0 " +
        "/ SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_pct " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'"),
    // Q22 dormant prospects: above-average positive balance, no order
    // since the cutoff
    "q_tpch_q22" ->
      ("WITH t AS (SELECT AVG(c_acctbal) AS threshold FROM customer " +
        "WHERE c_acctbal > 0) " +
        "SELECT c_nationkey, COUNT(*) AS n_custs, " +
        "round(SUM(c_acctbal), 4) AS total_acctbal " +
        "FROM customer, t WHERE c_acctbal > t.threshold " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    // Q2 minimum-cost supplier: correlated-min over the fact-derived
    // partsupp (min round4 unit price — order-independent)
    "q_tpch_q2" ->
      ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
        "min(CAST(round(CAST(l_extendedprice / l_quantity AS DECIMAL(20,8)), 4) AS DOUBLE)) AS ps_supplycost " +
        "FROM lineitem GROUP BY 1, 2), " +
        "eligible AS (SELECT p_partkey, p_name, ps_supplycost, s_name, " +
        "round(s_acctbal, 4) AS s_acctbal, n_name " +
        "FROM ps JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE p_size <= 10 AND p_type = 'LARGE' AND r_name = 'ASIA'), " +
        "mn AS (SELECT p_partkey AS mk, min(ps_supplycost) AS min_cost " +
        "FROM eligible GROUP BY 1) " +
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_supplycost " +
        "FROM eligible JOIN mn ON p_partkey = mk AND ps_supplycost = min_cost " +
        "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),
    // Q9 product-type profit: six-table star on the derived partsupp
    "q_tpch_q9" ->
      ("WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk, " +
        "min(CAST(round(CAST(l_extendedprice / l_quantity AS DECIMAL(20,8)), 4) AS DOUBLE)) AS ps_supplycost " +
        "FROM lineitem GROUP BY 1, 2) " +
        "SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year, " +
        "round(sum(l_extendedprice * (1 - l_discount) " +
        "- ps_supplycost * l_quantity), 4) AS profit " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN ps ON pk = l_partkey AND sk = l_suppkey " +
        "WHERE p_name LIKE '%red%' " +
        "GROUP BY 1, 2 ORDER BY nation, o_year DESC"),
    // Q11 important inventory: integer-cents values vs a scalar-subquery
    // threshold (cents compression makes the HAVING ULP-proof)
    "q_tpch_q11" ->
      ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
        "CAST(round(min(CAST(round(CAST(l_extendedprice / l_quantity AS DECIMAL(20,8)), 4) AS DOUBLE)) * 100) AS BIGINT) AS cost_cents, " +
        "CAST(sum(l_quantity) AS BIGINT) AS qty FROM lineitem GROUP BY 1, 2), " +
        "v AS (SELECT l_partkey AS p_partkey, " +
        "CAST(sum(cost_cents * qty) AS BIGINT) AS value_cents " +
        "FROM ps JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE n_regionkey = 0 GROUP BY 1), " +
        "t AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total FROM v) " +
        "SELECT p_partkey, value_cents FROM v CROSS JOIN t " +
        "WHERE value_cents > 0.0001 * total " +
        "ORDER BY value_cents DESC, p_partkey"),
    // Q16 supplier count by part attributes: NOT-IN blocklist (negative
    // balance as the complaints stand-in) + count distinct
    "q_tpch_q16" ->
      ("WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) " +
        "SELECT p_brand, p_type, p_size, " +
        "count(DISTINCT l_suppkey) AS supplier_cnt " +
        "FROM pairs JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
        "AND p_size IN (1, 4, 9, 14, 19, 24, 28, 35) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY 1, 2, 3 " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    // Q20 excess-supply suppliers: IN over grouped-HAVING over IN, all
    // integer quantity sums
    "q_tpch_q20" ->
      ("WITH sel AS (SELECT DISTINCT l_suppkey FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'blue%') " +
        "GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 40) " +
        "SELECT s_name, round(s_acctbal, 4) AS s_acctbal, n_name " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE s_suppkey IN (SELECT l_suppkey FROM sel) AND n_regionkey = 2 " +
        "ORDER BY s_name"),
    // Q1 pricing summary: one fact pass, eight aggregates, ~6 groups
    "q_tpch_q1" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(SUM(l_quantity), 4) AS sum_qty, " +
        "round(SUM(l_extendedprice), 4) AS sum_base_price, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, " +
        "round(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge, " +
        "round(AVG(l_quantity), 4) AS avg_qty, " +
        "round(AVG(l_extendedprice), 4) AS avg_price, " +
        "round(AVG(l_discount), 4) AS avg_disc, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    // Q5 local supplier volume: customer and supplier share a nation,
    // one region, one order year
    "q_tpch_q5" ->
      ("SELECT n_name, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name"),
    // Q8 national market share: NATION_2's share of ASIA ECONOMY-part
    // revenue per order year
    "q_tpch_q8" ->
      ("SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "round(SUM(CASE WHEN ns.n_name = 'NATION_2' " +
        "THEN l_extendedprice * (1 - l_discount) ELSE 0 END) " +
        "/ SUM(l_extendedprice * (1 - l_discount)), 6) AS mkt_share, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_volume " +
        "FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation nc ON c_nationkey = nc.n_nationkey " +
        "JOIN region ON nc.n_regionkey = r_regionkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ns ON s_nationkey = ns.n_nationkey " +
        "WHERE p_type = 'ECONOMY' AND r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY 1 ORDER BY 1"),
    // Q13 customer distribution (adapted: no o_comment in the synthetic
    // schema, so no comment-exclusion predicate); zero bucket included
    "q_tpch_q13" ->
      ("WITH pc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count " +
        "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
        "GROUP BY c_custkey) " +
        "SELECT c_count, COUNT(*) AS custdist FROM pc " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    // Q15 top supplier: argmax over one quarter's per-supplier revenue
    "q_tpch_q15" ->
      ("WITH revenue AS (SELECT l_suppkey, " +
        "round(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue " +
        "FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' " +
        "GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, total_revenue " +
        "FROM revenue JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue) " +
        "ORDER BY s_suppkey"),
    // Q17 small-quantity-order revenue (adapted: brand+size segment in
    // place of brand+container)
    "q_tpch_q17" ->
      ("WITH seg AS (SELECT p_partkey FROM part " +
        "WHERE p_brand = 'Brand#3' AND p_size <= 10), " +
        "si AS (SELECT l_partkey, l_quantity, l_extendedprice " +
        "FROM lineitem JOIN seg ON l_partkey = p_partkey), " +
        "pa AS (SELECT l_partkey AS ap_key, AVG(l_quantity) AS avg_qty " +
        "FROM si GROUP BY 1) " +
        "SELECT round(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly, " +
        "COUNT(*) AS n_small " +
        "FROM si JOIN pa ON l_partkey = ap_key " +
        "WHERE l_quantity < 0.2 * avg_qty"),
    // Q19 discounted revenue (adapted: brand+size+quantity disjuncts in
    // place of container/shipmode) — OR-of-ANDs over one equi-join
    "q_tpch_q19" ->
      ("SELECT round(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "COUNT(*) AS n_items " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_quantity >= 1 AND l_quantity <= 40 AND (" +
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) OR " +
        "(p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) OR " +
        "(p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 40))"),
    // theta sketches stay in the no-purge (exact) regime on the fixture,
    // so every estimate equals the exact pairwise distinct-user algebra
    "q_theta_audience" ->
      ("WITH tu AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "s AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1), " +
        "grid AS (SELECT sa.event_type AS type_a, sb.event_type AS type_b, " +
        "sa.n AS na, sb.n AS nb FROM s sa JOIN s sb ON sa.event_type < sb.event_type), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter " +
        "FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2) " +
        "SELECT g.type_a, g.type_b, COALESCE(p.n_inter, 0) AS n_inter, " +
        "g.na - COALESCE(p.n_inter, 0) AS only_a, " +
        "g.nb - COALESCE(p.n_inter, 0) AS only_b, " +
        "g.na + g.nb - COALESCE(p.n_inter, 0) AS n_union, " +
        "CAST(round(CAST(CAST(COALESCE(p.n_inter, 0) AS DOUBLE) " +
        "/ (g.na + g.nb - COALESCE(p.n_inter, 0)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS jaccard " +
        "FROM grid g LEFT JOIN p ON g.type_a = p.type_a AND g.type_b = p.type_b " +
        "ORDER BY g.type_a, g.type_b"),
    // out-of-order-arrival audit: per-user consecutive pairs in event_id
    // order whose event time goes backward
    "q_event_lag" ->
      ("WITH x AS (SELECT event_type, " +
        "CASE WHEN ts < lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY event_id) THEN 1 ELSE 0 END AS inv, " +
        "lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS pts FROM events) " +
        "SELECT event_type, COUNT(*) AS n_pairs, CAST(SUM(inv) AS BIGINT) AS n_inversions, " +
        "CAST(round(CAST(CAST(SUM(inv) AS DOUBLE) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS inversion_frac " +
        "FROM x WHERE pts IS NOT NULL GROUP BY event_type ORDER BY event_type"),
    // pairwise event-type audience Jaccard over distinct (type, user)
    "q_audience_overlap" ->
      ("WITH tu AS (SELECT DISTINCT event_type, user_id FROM events), " +
        "s AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_shared " +
        "FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type GROUP BY 1, 2) " +
        "SELECT type_a, type_b, n_shared, " +
        "CAST(round(CAST(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS DECIMAL(20,8)), 4) AS DOUBLE) AS jaccard " +
        "FROM p JOIN s sa ON type_a = sa.event_type JOIN s sb ON type_b = sb.event_type " +
        "ORDER BY type_a, type_b"),
    // fake resize: output byte i = input byte (i*len)//1024; ASCII corpus
    // makes the byte-picking reproducible as character substring picks
    "q_resize_meta" ->
      ("SELECT doc_id, CAST(32 AS INTEGER) AS width, CAST(32 AS INTEGER) AS height, " +
        "md5(array_to_string(list_transform(range(0, 1024), " +
        "i -> substring(text, CAST(i * length(text) // 1024 AS INTEGER) + 1, 1)), '')) AS payload_hash " +
        "FROM documents WHERE n_chars > 0 ORDER BY doc_id"),
    // deterministic token dropout: token at 0-based position i survives iff
    // md5(doc_id:i) 2-hex prefix >= '20' (drop p = 32/256)
    "q_augment" ->
      ("WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents), " +
        "k AS (SELECT doc_id, len(l) AS n_orig, " +
        "list_filter(list_transform(range(0, len(l)), " +
        "i -> CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 2) >= '20' " +
        "THEN l[CAST(i + 1 AS INTEGER)] END), x -> x IS NOT NULL) AS kept FROM t) " +
        "SELECT doc_id, CAST(n_orig AS INTEGER) AS n_orig, " +
        "CAST(len(kept) AS INTEGER) AS n_kept, " +
        "md5(array_to_string(kept, ' ')) AS aug_hash FROM k ORDER BY doc_id"),
    // Laplace mechanism with a derived (md5-uniform) noise draw
    "q_dp_noise" ->
      ("WITH g AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source), " +
        "u AS (SELECT source, n_docs, " +
        "(CAST(('0x' || substring(md5('dp:' || source), 1, 6)) AS BIGINT) + 0.5) / 16777216.0 AS uu FROM g) " +
        "SELECT source, n_docs, " +
        "CAST(round(CAST(n_docs + (CASE WHEN uu - 0.5 > 0 THEN -1.0 WHEN uu - 0.5 < 0 THEN 1.0 ELSE 0.0 END) " +
        "* ln(1.0 - 2.0 * abs(uu - 0.5)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS noisy_count " +
        "FROM u ORDER BY source"),
    // noisy-top-k-with-threshold: Laplace b=2 derived from md5(token)
    "q_dp_topk" ->
      ("WITH c AS (SELECT tok, COUNT(*) AS n FROM " +
        "(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY tok), " +
        "u AS (SELECT tok, n, " +
        "(CAST(('0x' || substring(md5('dptopk:' || tok), 1, 6)) AS BIGINT) + 0.5) / 16777216.0 AS uu FROM c), " +
        "r AS (SELECT tok, n, " +
        "CAST(round(CAST(n + (-2.0) * (CASE WHEN uu - 0.5 > 0 THEN 1.0 WHEN uu - 0.5 < 0 THEN -1.0 ELSE 0.0 END) " +
        "* ln(1.0 - 2.0 * abs(uu - 0.5)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS noisy_count FROM u) " +
        "SELECT tok, n, noisy_count, noisy_count >= 50.0 AS released " +
        "FROM r ORDER BY noisy_count DESC, tok LIMIT 20"),
    // Holt double-exponential smoothing: identical sequential fold via
    // list_reduce (the l' expression is spelled twice — same arithmetic)
    "q_holt" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, SUM(value) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "s AS (SELECT event_type, list(v ORDER BY hr) AS vs FROM h GROUP BY event_type), " +
        "r AS (SELECT event_type, len(vs) AS n_hours, " +
        "CASE WHEN len(vs) = 1 THEN [vs[1], 0.0::DOUBLE] ELSE " +
        "list_reduce(list_prepend([vs[1], 0.0::DOUBLE], " +
        "list_transform(vs[2:], x -> [x, 0.0::DOUBLE])), " +
        "(a, x) -> [0.5 * x[1] + 0.5 * (a[1] + a[2]), " +
        "0.3 * ((0.5 * x[1] + 0.5 * (a[1] + a[2])) - a[1]) + 0.7 * a[2]]) END AS lb " +
        "FROM s) " +
        "SELECT event_type, CAST(n_hours AS INTEGER) AS n_hours, " +
        "CAST(round(CAST(lb[1] AS DECIMAL(20,8)), 4) AS DOUBLE) AS level, " +
        "CAST(round(CAST(lb[2] AS DECIMAL(20,8)), 4) AS DOUBLE) AS trend, " +
        "CAST(round(CAST(lb[1] + lb[2] AS DECIMAL(20,8)), 4) AS DOUBLE) AS forecast " +
        "FROM r ORDER BY event_type"),
    // weekly seasonal-naive backtest: predict = same hour last week
    "q_seasonal_naive" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr, SUM(value) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "p AS (SELECT event_type, v, lag(v, 168) OVER " +
        "(PARTITION BY event_type ORDER BY hr) AS pred FROM h) " +
        "SELECT event_type, COUNT(*) AS n_hours, " +
        "CAST(round(CAST(SUM(abs(v - pred)) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mae, " +
        "CAST(round(CAST(SUM(v - pred) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS bias " +
        "FROM p WHERE pred IS NOT NULL GROUP BY event_type ORDER BY event_type"),
    // revenue concentration above exact spend percentiles (rounded revs)
    "q_pareto" ->
      ("WITH pc AS (SELECT o_custkey, " +
        "CAST(round(CAST(SUM(o_totalprice) AS DECIMAL(20,8)), 4) AS DOUBLE) AS rev " +
        "FROM orders GROUP BY o_custkey), " +
        "s AS (SELECT SUM(rev) AS total_rev, COUNT(*) AS n_cust, " +
        "quantile_cont(rev, 0.5) AS p50, quantile_cont(rev, 0.8) AS p80, " +
        "quantile_cont(rev, 0.95) AS p95 FROM pc) " +
        "SELECT CAST(MAX(n_cust) AS BIGINT) AS n_cust, " +
        "CAST(round(CAST(SUM(CASE WHEN rev >= p50 THEN rev ELSE 0.0 END) / MAX(total_rev) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS share_top50, " +
        "CAST(round(CAST(SUM(CASE WHEN rev >= p80 THEN rev ELSE 0.0 END) / MAX(total_rev) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS share_top20, " +
        "CAST(round(CAST(SUM(CASE WHEN rev >= p95 THEN rev ELSE 0.0 END) / MAX(total_rev) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS share_top5 " +
        "FROM pc CROSS JOIN s"),
    // inter-order day gaps per customer, global cadence profile
    "q_order_gaps" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS day FROM orders), " +
        "g AS (SELECT day - lag(day) OVER (PARTITION BY o_custkey " +
        "ORDER BY day, o_orderkey) AS gap FROM o) " +
        "SELECT COUNT(*) AS n_gaps, " +
        "CAST(round(CAST(AVG(gap) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_gap_days, " +
        "CAST(round(CAST(quantile_cont(gap, 0.5) AS DECIMAL(20,8)), 4) AS DOUBLE) AS med_gap_days, " +
        "CAST(round(CAST(quantile_cont(gap, 0.9) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p90_gap_days " +
        "FROM g WHERE gap IS NOT NULL"),
    // majority language per source, ties to the smaller lang
    "q_lang_purity" ->
      ("WITH c AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs FROM c GROUP BY source), " +
        "r AS (SELECT source, lang, n, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY n DESC, lang) AS rk FROM c) " +
        "SELECT r.source, t.n_docs, r.lang AS major_lang, " +
        "CAST(round(CAST(CAST(r.n AS DOUBLE) / t.n_docs AS DECIMAL(20,8)), 4) AS DOUBLE) AS major_share " +
        "FROM r JOIN t ON t.source = r.source WHERE rk = 1 ORDER BY r.source"),
    // per-source exact-dedup scorecard: global min-id survivors + within-
    // source distinct texts
    "q_dedup_report" ->
      ("WITH s AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) " +
        "SELECT d.source, COUNT(*) AS n_docs, " +
        "CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors, " +
        "COUNT(DISTINCT d.text) AS n_distinct_texts, " +
        "CAST(round(CAST(1.0 - CAST(SUM(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) " +
        "/ COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_rate " +
        "FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id " +
        "GROUP BY d.source ORDER BY d.source"),
    // q_dedup_ngram with a shingle document-frequency cap (df <= 16);
    // Jaccard recomputed over the SURVIVING shingle sets
    "q_dedup_ngram_capped" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "f AS (SELECT shingle FROM x GROUP BY shingle HAVING count(*) <= 16), " +
        "xs AS (SELECT x.doc_id, x.shingle FROM x JOIN f USING (shingle)), " +
        "c AS (SELECT doc_id, count(*) AS n FROM xs GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS shared FROM xs a " +
        "JOIN xs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, round(CAST(shared AS DOUBLE) / (ca.n + cb.n - shared), 4) AS jaccard " +
        "FROM p JOIN c ca ON p.da = ca.doc_id JOIN c cb ON p.db = cb.doc_id " +
        "ORDER BY jaccard DESC, da, db LIMIT 20"),
    // survivor = argmax (quality_score, -doc_id) within each normalized-md5
    // fingerprint group; quality formula identical to q_quality_score
    "q_dedup_survivor" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS n_tokens, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS n_letter_chars, " +
        "len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS sw_n " +
        "FROM documents), " +
        "d AS (SELECT doc_id, n_tokens, CAST(n_letter_chars AS DOUBLE) / n_tokens AS awl, " +
        "CAST(sw_n AS DOUBLE) / n_tokens AS swr FROM t), " +
        "q AS (SELECT doc_id, CAST(round(CAST(least(1.0, n_tokens / 50.0) * 0.5 " +
        "+ CASE WHEN awl BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END " +
        "+ least(0.2, swr) AS DECIMAL(20,8)), 4) AS DOUBLE) AS quality_score FROM d), " +
        "f AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents), " +
        "s AS (SELECT f.doc_id, f.fp, q.quality_score FROM f JOIN q USING (doc_id)), " +
        "w AS (SELECT doc_id, quality_score, COUNT(*) OVER (PARTITION BY fp) AS n_copies, " +
        "row_number() OVER (PARTITION BY fp ORDER BY quality_score DESC, doc_id) AS rn FROM s) " +
        "SELECT doc_id, n_copies, quality_score FROM w WHERE rn = 1 ORDER BY doc_id"),
    // per-doc share of distinct 5-grams occurring in >= 2 documents
    "q_dup_span_frac" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "f AS (SELECT shingle, COUNT(*) AS df FROM x GROUP BY shingle), " +
        "p AS (SELECT doc_id, COUNT(*) AS n_shingles, " +
        "CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup " +
        "FROM x JOIN f USING (shingle) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(n_shingles, 0) AS n_shingles, COALESCE(n_dup, 0) AS n_dup, " +
        "CAST(round(CAST(COALESCE(CAST(n_dup AS DOUBLE) / n_shingles, 0.0) AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_frac " +
        "FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id"),
    "q_dedup_spans" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "g AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 4)) AS s FROM t), " +
        "gr AS (SELECT g.doc_id, s, t.toks[s] || ' ' || t.toks[s+1] || ' ' || t.toks[s+2] || ' ' || t.toks[s+3] || ' ' || t.toks[s+4] AS gram " +
        "FROM g JOIN t USING (doc_id)), " +
        "f AS (SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM gr) GROUP BY gram HAVING COUNT(*) >= 2), " +
        "dp AS (SELECT DISTINCT doc_id, pos FROM (SELECT doc_id, s + unnest(generate_series(0, 4)) AS pos " +
        "FROM gr WHERE gram IN (SELECT gram FROM f))), " +
        "pl AS (SELECT doc_id, list(pos) AS pl FROM dp GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(len(pl.pl), 0) AS BIGINT) AS n_removed, " +
        // COALESCE: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
        "COALESCE(array_to_string(list_filter(t.toks, (x, i) -> pl.pl IS NULL OR NOT list_contains(pl.pl, i)), ' '), '') AS clean_text " +
        "FROM t LEFT JOIN pl USING (doc_id) ORDER BY t.doc_id"),
    // full source-pair grid with zero-filled 5-gram-set Jaccard overlap
    "q_source_overlap" ->
      ("WITH t AS (SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT source, list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh FROM t), " +
        "x AS (SELECT DISTINCT source, shingle FROM (SELECT source, unnest(sh) AS shingle FROM s)), " +
        "per AS (SELECT source, COUNT(*) AS n_sh FROM x GROUP BY source), " +
        "sh2 AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared FROM x a " +
        "JOIN x b ON a.shingle = b.shingle AND a.source < b.source GROUP BY 1, 2), " +
        "g AS (SELECT pa.source AS sa, pa.n_sh AS na, pb.source AS sb, pb.n_sh AS nb " +
        "FROM per pa CROSS JOIN per pb WHERE pa.source < pb.source) " +
        "SELECT g.sa, g.sb, g.na, g.nb, COALESCE(shared, 0) AS shared, " +
        "CAST(round(CAST(CAST(COALESCE(shared, 0) AS DOUBLE) / (na + nb - COALESCE(shared, 0)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS jaccard " +
        "FROM g LEFT JOIN sh2 ON g.sa = sh2.sa AND g.sb = sh2.sb ORDER BY g.sa, g.sb"),
    // declared-vs-detected confusion matrix; detector identical to q_lang_id
    "q_lang_confusion" ->
      ("WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "c AS (SELECT doc_id, lang, " +
        "CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of' OR t = 'and')) AS INTEGER) AS en_n, " +
        "CAST(len(list_filter(toks, t -> t = 'der' OR t = 'die' OR t = 'das' OR t = 'und')) AS INTEGER) AS de_n, " +
        "CAST(len(list_filter(toks, t -> t = 'el' OR t = 'los' OR t = 'las' OR t = 'y')) AS INTEGER) AS es_n, " +
        "CAST(len(list_filter(toks, t -> t = 'le' OR t = 'les' OR t = 'des' OR t = 'et')) AS INTEGER) AS fr_n " +
        "FROM t), " +
        "p AS (SELECT lang, CASE WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en' " +
        "WHEN de_n >= es_n AND de_n >= fr_n THEN 'de' " +
        "WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END AS lang_pred FROM c), " +
        "m AS (SELECT lang, lang_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2), " +
        "tot AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_lang FROM m GROUP BY lang) " +
        "SELECT m.lang, m.lang_pred, m.n_docs, " +
        "CAST(round(CAST(CAST(m.n_docs AS DOUBLE) / t2.n_lang AS DECIMAL(20,8)), 4) AS DOUBLE) AS share " +
        "FROM m JOIN tot t2 ON m.lang = t2.lang ORDER BY m.lang, m.lang_pred"),
    // CCNet-style per-language logp terciles; LM identical to q_unigram_logprob
    "q_ppl_buckets" ->
      ("WITH e AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents), " +
        "v AS (SELECT token, COUNT(*) AS n FROM e GROUP BY token), " +
        "tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM v), " +
        "s AS (SELECT e.doc_id, COUNT(*) AS n_tokens, " +
        "CAST(round(CAST(AVG(log10(CAST(v.n AS DOUBLE) / tot.total)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_logp " +
        "FROM e JOIN v USING (token) CROSS JOIN tot GROUP BY e.doc_id), " +
        "d AS (SELECT s.doc_id, s.n_tokens, s.mean_logp, doc.lang FROM s JOIN documents doc USING (doc_id)), " +
        "c AS (SELECT lang, quantile_cont(mean_logp, [1.0/3, 2.0/3]) AS cuts FROM d GROUP BY lang), " +
        "b AS (SELECT d.lang, d.mean_logp, d.n_tokens, " +
        "CAST(len(list_filter(c.cuts, x -> d.mean_logp > CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE))) AS INTEGER) AS bn " +
        "FROM d JOIN c ON d.lang = c.lang) " +
        "SELECT lang, CASE WHEN bn = 2 THEN 'head' WHEN bn = 1 THEN 'middle' ELSE 'tail' END AS bucket, " +
        "COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(round(CAST(MIN(mean_logp) AS DECIMAL(20,8)), 4) AS DOUBLE) AS lo, " +
        "CAST(round(CAST(MAX(mean_logp) AS DECIMAL(20,8)), 4) AS DOUBLE) AS hi " +
        "FROM b GROUP BY 1, 2 ORDER BY lang, bucket"),
    // centroids stabilized to 4 decimals then scaled to exact BIGINT
    // coordinates, so the cosine is integer arithmetic on both engines
    "q_embed_drift" ->
      ("WITH e AS (SELECT label, CAST(vec_id % 2 AS INTEGER) AS half, " +
        "CAST(generate_subscripts(embedding, 1) AS INTEGER) AS dim, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), " +
        "c AS (SELECT label, half, dim, " +
        "CAST(round(CAST(round(CAST(AVG(x) AS DECIMAL(20,8)), 4) AS DOUBLE) * 10000) AS BIGINT) AS mi " +
        "FROM e GROUP BY 1, 2, 3), " +
        "j AS (SELECT a.label, SUM(a.mi * b.mi) AS dot, SUM(a.mi * a.mi) AS na2, SUM(b.mi * b.mi) AS nb2 " +
        "FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1 GROUP BY 1), " +
        "n AS (SELECT label, CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even, " +
        "CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_odd FROM embeddings GROUP BY label) " +
        "SELECT n.label, n.n_even, n.n_odd, " +
        "CAST(round(CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS centroid_cos " +
        "FROM n JOIN j ON n.label = j.label ORDER BY n.label"),
    // per-language tokenizer fertility (BPE-ish vs whitespace segmentation)
    "q_token_fertility" ->
      ("WITH t AS (SELECT lang, " +
        "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS b, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS w, " +
        "length(regexp_replace(text, '\\s', '', 'g')) AS c FROM documents) " +
        "SELECT lang, COUNT(*) AS n_docs, " +
        "CAST(round(CAST(CAST(SUM(b) AS DOUBLE) / SUM(w) AS DECIMAL(20,8)), 4) AS DOUBLE) AS fertility, " +
        "CAST(round(CAST(CAST(SUM(c) AS DOUBLE) / SUM(b) AS DECIMAL(20,8)), 4) AS DOUBLE) AS chars_per_token " +
        "FROM t GROUP BY lang ORDER BY lang"),
    // per-source type-token ratio + hapax fraction
    "q_ttr" ->
      ("WITH x AS (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token FROM documents), " +
        "c AS (SELECT source, token, COUNT(*) AS cnt FROM x GROUP BY 1, 2) " +
        "SELECT source, COUNT(*) AS n_types, CAST(SUM(cnt) AS BIGINT) AS n_tokens, " +
        "CAST(round(CAST(CAST(COUNT(*) AS DOUBLE) / SUM(cnt) AS DECIMAL(20,8)), 4) AS DOUBLE) AS ttr, " +
        "CAST(round(CAST(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS hapax_frac " +
        "FROM c GROUP BY source ORDER BY source"),
    // l-diversity audit: distinct sensitive values per QI class
    "q_l_diversity" ->
      ("SELECT c_nationkey AS nation, c_mktsegment AS segment, " +
        "COUNT(*) AS class_size, " +
        "COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS n_sensitive, " +
        "COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) >= 3 AS diverse " +
        "FROM customer GROUP BY 1, 2 ORDER BY nation, segment"),
    // shingle containment top pairs over the df<=16 surviving shingle sets
    "q_ngram_containment" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "keep AS (SELECT shingle FROM x GROUP BY shingle HAVING COUNT(*) <= 16), " +
        "sv AS (SELECT x.doc_id, x.shingle FROM x JOIN keep USING (shingle)), " +
        "c AS (SELECT doc_id, COUNT(*) AS n FROM sv GROUP BY doc_id), " +
        "p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared FROM sv a " +
        "JOIN sv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT da, db, CAST(shared AS BIGINT) AS shared, " +
        "round(CAST(shared AS DOUBLE) / least(ca.n, cb.n), 4) AS containment " +
        "FROM p JOIN c ca ON p.da = ca.doc_id JOIN c cb ON p.db = cb.doc_id " +
        "ORDER BY containment DESC, da, db LIMIT 20"),
    // cross-split near-dup contamination: eval docs sharing >=3 df-capped
    // shingles with any train doc, per split
    "q_split_leakage" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks, " +
        "CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train' " +
        "WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents), " +
        "s AS (SELECT doc_id, split, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh FROM t), " +
        "x AS (SELECT doc_id, split, unnest(sh) AS shingle FROM s), " +
        "keep AS (SELECT shingle FROM x GROUP BY shingle HAVING COUNT(*) <= 16), " +
        "sv AS (SELECT x.doc_id, x.split, x.shingle FROM x JOIN keep USING (shingle)), " +
        "pr AS (SELECT e.split, e.doc_id, tr.doc_id AS train_id, COUNT(*) AS shared " +
        "FROM sv e JOIN sv tr ON e.shingle = tr.shingle " +
        "WHERE e.split <> 'train' AND tr.split = 'train' GROUP BY 1, 2, 3), " +
        "lk AS (SELECT split, COUNT(DISTINCT doc_id) AS n_leaked FROM pr WHERE shared >= 3 GROUP BY split), " +
        "tot AS (SELECT split, COUNT(*) AS n_docs FROM t WHERE split <> 'train' GROUP BY split) " +
        "SELECT tot.split, tot.n_docs, CAST(coalesce(lk.n_leaked, 0) AS BIGINT) AS n_leaked, " +
        "round(CAST(coalesce(lk.n_leaked, 0) AS DOUBLE) / tot.n_docs, 4) AS leak_rate " +
        "FROM tot LEFT JOIN lk ON tot.split = lk.split ORDER BY tot.split"),
    // compaction planner: per-month rows/bytes/target files + layout flags
    "q_compaction_plan" ->
      ("SELECT CAST(year(l_shipdate) AS INTEGER) AS yr, " +
        "CAST(month(l_shipdate) AS INTEGER) AS mon, " +
        "COUNT(*) AS n_rows, " +
        "CAST(SUM(64 + length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS est_bytes, " +
        "CAST(ceil(CAST(COUNT(*) AS DOUBLE) / 50000) AS BIGINT) AS target_files, " +
        "COUNT(*) > 50000 AS needs_compact, " +
        "COUNT(*) < 5000 AS small_partition " +
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"),
    // one-row dataset card: counts, sizes, dup rate, token stats, en share
    "q_dataset_card" ->
      ("WITH d AS (SELECT lang, source, length(text) AS n_chars_exact, " +
        "len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS n_toks, " +
        "md5(text) AS fp FROM documents) " +
        "SELECT COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources, " +
        "COUNT(DISTINCT lang) AS n_langs, " +
        "CAST(SUM(n_chars_exact) AS BIGINT) AS total_chars, " +
        "CAST(SUM(n_toks) AS BIGINT) AS total_tokens, " +
        "CAST(round(CAST(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS dup_rate, " +
        "CAST(round(CAST(AVG(n_toks) AS DECIMAL(20,8)), 4) AS DOUBLE) AS mean_toks, " +
        "CAST(round(CAST(quantile_cont(n_toks, 0.5) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p50_toks, " +
        "CAST(round(CAST(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS DECIMAL(20,8)), 4) AS DOUBLE) AS en_share " +
        "FROM d"),
    // Cavnar-Trenkle trigram profiles: top-64 per lang by (count desc, g),
    // rank weight 65-rank, presence scoring, argmax with lang tiebreak
    "q_lang_trigram" ->
      ("WITH d AS (SELECT doc_id, lang, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM documents), " +
        "g AS (SELECT doc_id, lang, unnest(list_transform(range(1, length(s) - 1), i -> s[i:i+2])) AS g " +
        "FROM d WHERE length(s) >= 3), " +
        "dg AS (SELECT DISTINCT doc_id, g FROM g), " +
        "pc AS (SELECT lang AS plang, g, COUNT(*) AS c FROM g GROUP BY 1, 2), " +
        "pr AS (SELECT plang, g, 65 - CAST(row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) AS BIGINT) AS w " +
        "FROM pc QUALIFY row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) <= 64), " +
        "sc AS (SELECT dg.doc_id, pr.plang, SUM(pr.w) AS score FROM dg JOIN pr USING (g) GROUP BY 1, 2), " +
        "best AS (SELECT doc_id, plang FROM (SELECT doc_id, plang, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn FROM sc) WHERE rn = 1), " +
        "ml AS (SELECT min(lang) AS min_lang FROM documents) " +
        "SELECT d2.lang, coalesce(b.plang, ml.min_lang) AS lang_pred, COUNT(*) AS n_docs " +
        "FROM documents d2 LEFT JOIN best b USING (doc_id) CROSS JOIN ml " +
        "GROUP BY 1, 2 ORDER BY lang, lang_pred"),
    // sampling plan for a 2x token budget under tau=0.7 tempered shares;
    // expression order mirrors the Spark side exactly (floor/compare on
    // the same raw doubles)
    "q_data_recipe" ->
      ("WITH c AS (SELECT source, CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS tot_tokens, " +
        "SUM(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS tot_pow FROM c) " +
        "SELECT source, n_tokens, " +
        "CAST(round(CAST(pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow AS DECIMAL(20,8)), 4) AS DOUBLE) AS temp_share, " +
        "CAST(floor(2.0 * tot_tokens * (pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow)) AS BIGINT) AS target_tokens, " +
        "CAST(round(CAST(2.0 * tot_tokens * (pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow) / n_tokens AS DECIMAL(20,8)), 4) AS DOUBLE) AS epochs, " +
        "CAST(round(CAST(least(1.0, 2.0 * tot_tokens * (pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow) / n_tokens) AS DECIMAL(20,8)), 4) AS DOUBLE) AS sample_rate, " +
        "(2.0 * tot_tokens * (pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow) / n_tokens > 4.0) AS over_repeated " +
        "FROM c CROSS JOIN t ORDER BY source"),
    // per-doc novel-5-gram fraction (first occurrence = min doc_id)
    "q_gram_novelty" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS sh FROM t), " +
        "x AS (SELECT doc_id, unnest(sh) AS shingle FROM s), " +
        "f AS (SELECT shingle, MIN(doc_id) AS fd FROM x GROUP BY shingle), " +
        "p AS (SELECT doc_id, COUNT(*) AS n_grams, " +
        "CAST(SUM(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel " +
        "FROM x JOIN f USING (shingle) GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams, COALESCE(n_novel, 0) AS n_novel, " +
        "CAST(round(CAST(COALESCE(CAST(n_novel AS DOUBLE) / n_grams, 0.0) AS DECIMAL(20,8)), 4) AS DOUBLE) AS novelty_frac " +
        "FROM documents d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id"),
    // top-20 exact-cosine embed pairs (the q_dedup_embed CTE) joined to
    // both captions' 3-gram shingle sets; set-Jaccard + mismatch flag
    "q_caption_dedup" ->
      ("WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        "n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e), " +
        "p AS (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        "round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos_sim " +
        "FROM n a JOIN n b ON a.vec_id < b.vec_id ORDER BY cos_sim DESC, va, vb LIMIT 20), " +
        "t AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)), " +
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh " +
        "FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents)), " +
        "j AS (SELECT va, vb, cos_sim, " +
        "CASE WHEN len(list_distinct(list_concat(ta.sh, tb.sh))) = 0 THEN 0.0 " +
        "ELSE round(CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE) " +
        "/ len(list_distinct(list_concat(ta.sh, tb.sh))), 4) END AS text_jaccard " +
        "FROM p JOIN t ta ON p.va = ta.doc_id JOIN t tb ON p.vb = tb.doc_id) " +
        "SELECT va, vb, cos_sim, text_jaccard, " +
        "(cos_sim >= 0.3 AND text_jaccard < 0.5) AS caption_mismatch " +
        "FROM j ORDER BY cos_sim DESC, va, vb"),
    // ---- round-10 second batch ----
    // fixed-8-round k-core peel per k, unrolled; AS MATERIALIZED is load-
    // bearing: each round's edge CTE is read 4× (degree union ×2 + two IN
    // filters) and plain CTEs inline — 4^8 scans otherwise
    "q_kcore" -> {
      import graft.operators.GraphOps.{KCoreMinK, KCoreMaxK, KCoreRounds}
      val peels = (KCoreMinK to KCoreMaxK).flatMap { k =>
        (1 to KCoreRounds).map { r =>
          val prev = if (r == 1) "e0" else s"e${k}_${r - 1}"
          s"d${k}_$r AS MATERIALIZED (SELECT node FROM " +
            s"(SELECT src AS node FROM $prev UNION ALL SELECT dst FROM $prev) u " +
            s"GROUP BY node HAVING COUNT(*) >= $k), " +
            s"e${k}_$r AS MATERIALIZED (SELECT src, dst FROM $prev " +
            s"WHERE src IN (SELECT node FROM d${k}_$r) " +
            s"AND dst IN (SELECT node FROM d${k}_$r))"
        }
      }.mkString(", ")
      val sel = (KCoreMinK to KCoreMaxK).map { k =>
        s"SELECT CAST($k AS INTEGER) AS k, " +
          "(SELECT COUNT(DISTINCT node) FROM (SELECT src AS node " +
          s"FROM e${k}_$KCoreRounds UNION ALL SELECT dst FROM e${k}_$KCoreRounds)) AS n_core_nodes, " +
          s"(SELECT COUNT(*) FROM e${k}_$KCoreRounds) AS n_core_edges"
      }.mkString(" UNION ALL ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e0 AS MATERIALIZED (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        peels + " " + sel + " ORDER BY k"
    },
    // 4 unrolled min-dist relaxation rounds from the top-degree seeds
    "q_bfs_hops" -> {
      import graft.operators.GraphOps.{BfsSeeds, BfsMaxHops}
      val rounds = (1 to BfsMaxHops).map { t =>
        s"s$t AS MATERIALIZED (SELECT seed, node, MIN(dist) AS dist FROM " +
          s"(SELECT seed, node, dist FROM s${t - 1} " +
          s"UNION ALL SELECT s.seed, u.dst AS node, s.dist + 1 AS dist " +
          s"FROM s${t - 1} s JOIN und u ON u.src = s.node) x GROUP BY 1, 2)"
      }.mkString(", ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS MATERIALIZED (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS MATERIALIZED (SELECT src, dst FROM e " +
        "UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "d AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u GROUP BY node), " +
        s"seeds AS MATERIALIZED (SELECT node FROM d ORDER BY degree DESC, node LIMIT $BfsSeeds), " +
        "s0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist FROM seeds), " +
        rounds + " " +
        s"SELECT seed, CAST(dist AS INTEGER) AS dist, COUNT(*) AS n_nodes " +
        s"FROM s$BfsMaxHops GROUP BY 1, 2 ORDER BY seed, dist"
    },
    // greedy k-center replayed on the same integer-quantized vectors:
    // 8 unrolled (argmax, min-dist-update) CTE pairs, integer-exact
    "q_kcenter" -> {
      import graft.operators.SelectionOps.KCenterK
      val dim = graft.operators.SimilarityOps.EmbeddingDim
      def dist(v: String, c: String) =
        s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
          s"i -> ($v.q[i] - $c.q[i]) * ($v.q[i] - $c.q[i]))) AS BIGINT)"
      val steps = (2 to KCenterK).map { t =>
        s"c$t AS MATERIALIZED (SELECT vec_id, q, md FROM md${t - 1} " +
          "ORDER BY md DESC, vec_id LIMIT 1), " +
          s"md$t AS MATERIALIZED (SELECT v.vec_id, v.q, " +
          s"least(v.md, ${dist("v", "c")}) AS md FROM md${t - 1} v, c$t c)"
      }.mkString(", ")
      val sel = (2 to KCenterK).map { t =>
        s"SELECT CAST($t AS INTEGER) AS step, vec_id AS center_id, md AS sel_dist FROM c$t"
      }.mkString(" UNION ALL ")
      "WITH qe AS MATERIALIZED (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(round(CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE) * 10000) AS BIGINT)) AS q " +
        "FROM embeddings), " +
        "c1 AS MATERIALIZED (SELECT vec_id, q FROM qe ORDER BY vec_id LIMIT 1), " +
        s"md1 AS MATERIALIZED (SELECT v.vec_id, v.q, ${dist("v", "c")} AS md " +
        "FROM qe v, c1 c), " +
        steps + " " +
        "SELECT CAST(1 AS INTEGER) AS step, vec_id AS center_id, CAST(0 AS BIGINT) AS sel_dist FROM c1 " +
        "UNION ALL " + sel + " ORDER BY step"
    },
    // MMR greedy selection replayed on the same pool: 10 unrolled
    // argmax-over-remaining CTEs with the integer 7·rel − 3·max-sim score
    "q_mmr" -> {
      import graft.operators.SelectionOps.{MmrPool, MmrK, MmrRelWeight, MmrSimWeight}
      val dim = graft.operators.SimilarityOps.EmbeddingDim
      val steps = (2 to MmrK).map { t =>
        s"s$t AS MATERIALIZED (SELECT vec_id, " +
          s"$MmrRelWeight * rel - $MmrSimWeight * " +
          s"(SELECT MAX(dot) FROM pp WHERE pp.va = p.vec_id " +
          s"AND pp.vb IN (SELECT vec_id FROM sel${t - 1})) AS score " +
          s"FROM pool p WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${t - 1}) " +
          "ORDER BY score DESC, vec_id LIMIT 1), " +
          s"sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} " +
          s"UNION ALL SELECT CAST($t AS INTEGER) AS rank, vec_id, score FROM s$t)"
      }.mkString(", ")
      "WITH qe AS MATERIALIZED (SELECT vec_id, label, list_transform(embedding, " +
        "x -> CAST(round(CAST(round(CAST(x AS DECIMAL(20,8)), 4) AS DOUBLE) * 10000) AS BIGINT)) AS q " +
        "FROM embeddings), " +
        "qd AS (SELECT CAST(generate_subscripts(embedding, 1) AS INTEGER) AS d, " +
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings WHERE label = 0), " +
        "qc AS (SELECT d, CAST(round(CAST(round(CAST(AVG(x) AS DECIMAL(20,8)), 4) AS DOUBLE) * 10000) AS BIGINT) AS m " +
        "FROM qd GROUP BY d), " +
        "qcl AS MATERIALIZED (SELECT list(m ORDER BY d) AS m FROM qc), " +
        s"pool AS MATERIALIZED (SELECT vec_id, q, CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        s"i -> v.q[i] * c.m[i])) AS BIGINT) AS rel FROM qe v, qcl c " +
        s"ORDER BY rel DESC, vec_id LIMIT $MmrPool), " +
        s"pp AS MATERIALIZED (SELECT a.vec_id AS va, b.vec_id AS vb, " +
        s"CAST(list_sum(list_transform(range(1, ${dim + 1}), " +
        "i -> a.q[i] * b.q[i])) AS BIGINT) AS dot " +
        "FROM pool a JOIN pool b ON a.vec_id <> b.vec_id), " +
        s"s1 AS (SELECT vec_id, $MmrRelWeight * rel AS score FROM pool " +
        "ORDER BY score DESC, vec_id LIMIT 1), " +
        "sel1 AS MATERIALIZED (SELECT CAST(1 AS INTEGER) AS rank, vec_id, score FROM s1), " +
        steps + " " +
        s"SELECT rank, vec_id, CAST(score AS BIGINT) AS mmr_score FROM sel$MmrK ORDER BY rank"
    },
    // interpolated Kneser-Ney from exact integer count tables; the float
    // assembly mirrors the engine's association order term for term
    "q_kn_bigram" -> {
      import graft.operators.TextOps.{KnDiscount, KnMinCount, KnTopN}
      "WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "b AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg " +
        "FROM t WHERE len(toks) >= 2), " +
        "bgc AS MATERIALIZED (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2), " +
        "pfx AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n_after FROM bgc GROUP BY 1), " +
        "cont AS (SELECT w2, COUNT(*) AS n_before FROM bgc GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n_big FROM bgc) " +
        "SELECT g.w1, g.w2, g.c12, " +
        s"CAST(round(CAST(greatest(CAST(c12 AS DOUBLE) - $KnDiscount, 0.0) / CAST(c1 AS DOUBLE) " +
        s"+ (($KnDiscount * CAST(n_after AS DOUBLE)) / CAST(c1 AS DOUBLE)) " +
        "* (CAST(n_before AS DOUBLE) / CAST(n_big AS DOUBLE)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p_kn " +
        "FROM bgc g JOIN pfx USING (w1) JOIN cont USING (w2) CROSS JOIN tot " +
        s"WHERE c12 >= $KnMinCount ORDER BY p_kn DESC, g.w1, g.w2 LIMIT $KnTopN"
    },
    // full interpolated KN recursion; float chain composed in ONE fixed
    // association order mirroring the Column expression exactly
    "q_kn_trigram" -> {
      import graft.operators.TextOps.{KnDiscount, KnMinCount, KnTopN}
      "WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "tg AS (SELECT unnest(list_transform(range(1, len(toks) - 1), " +
        "i -> struct_pack(w1 := toks[i], w2 := toks[i + 1], w3 := toks[i + 2]))) AS g " +
        "FROM t WHERE len(toks) >= 3), " +
        "tgc AS MATERIALIZED (SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3, COUNT(*) AS c123 FROM tg GROUP BY 1, 2, 3), " +
        "ctx AS (SELECT w1, w2, SUM(c123) AS c12dot, COUNT(*) AS n_after12 FROM tgc GROUP BY 1, 2), " +
        "midpair AS MATERIALIZED (SELECT w2, w3, COUNT(*) AS n_before23 FROM tgc GROUP BY 1, 2), " +
        "mid AS (SELECT w2, SUM(n_before23) AS n_mid2 FROM midpair GROUP BY 1), " +
        "b AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg " +
        "FROM t WHERE len(toks) >= 2), " +
        "bgc AS MATERIALIZED (SELECT bg.w1 AS bw1, bg.w2 AS bw2, COUNT(*) AS cb FROM b GROUP BY 1, 2), " +
        "after2 AS (SELECT bw1 AS w2, COUNT(*) AS n_after2 FROM bgc GROUP BY 1), " +
        "cont3 AS (SELECT bw2 AS w3, COUNT(*) AS n_before3 FROM bgc GROUP BY 1), " +
        "tot AS (SELECT COUNT(*) AS n_big FROM bgc) " +
        "SELECT g.w1, g.w2, g.w3, g.c123, " +
        s"CAST(round(CAST(greatest(CAST(c123 AS DOUBLE) - $KnDiscount, 0.0) / CAST(c12dot AS DOUBLE) " +
        s"+ (($KnDiscount * CAST(n_after12 AS DOUBLE)) / CAST(c12dot AS DOUBLE)) " +
        s"* (greatest(CAST(n_before23 AS DOUBLE) - $KnDiscount, 0.0) / CAST(n_mid2 AS DOUBLE) " +
        s"+ (($KnDiscount * CAST(n_after2 AS DOUBLE)) / CAST(n_mid2 AS DOUBLE)) " +
        "* (CAST(n_before3 AS DOUBLE) / CAST(n_big AS DOUBLE))) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p_kn " +
        "FROM tgc g JOIN ctx USING (w1, w2) JOIN midpair USING (w2, w3) " +
        "JOIN mid USING (w2) JOIN after2 USING (w2) JOIN cont3 USING (w3) CROSS JOIN tot " +
        s"WHERE c123 >= $KnMinCount ORDER BY p_kn DESC, g.w1, g.w2, g.w3 LIMIT $KnTopN"
    },
    // Wilson interval, closed form on (n, x) — same association order
    "q_wilson_ci" -> {
      import graft.operators.StatOps.{WilsonThreshold, WilsonZ}
      val zz = WilsonZ * WilsonZ
      val denom = s"(1.0 + $zz / nd)"
      val center = s"(p + $zz / (2.0 * nd)) / $denom"
      val half = s"$WilsonZ * sqrt(p * (1.0 - p) / nd + $zz / (4.0 * (nd * nd))) / $denom"
      "WITH a AS (SELECT event_type, COUNT(*) AS n, " +
        s"SUM(CASE WHEN value > $WilsonThreshold THEN 1 ELSE 0 END) AS x FROM events GROUP BY 1), " +
        "f AS (SELECT event_type, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p, " +
        "CAST(n AS DOUBLE) AS nd FROM a) " +
        s"SELECT event_type, n, CAST(x AS BIGINT) AS x, ${r4("p")} AS p_hat, " +
        s"${r4(s"$center - $half")} AS lo, ${r4(s"$center + $half")} AS hi " +
        "FROM f ORDER BY event_type"
    },
    // IVF (prefixed unrolled Lloyd) × PQ (per-subspace unrolled Lloyd)
    // with cell-restricted ADC candidates — see ivfPqSql
    "q_ivfpq" -> ivfPqSql(),
    // q_knn_graph: the identical hash-proven IVF+PQ composition with the
    // probe filter REMOVED (nq = None — the same full-corpus semantics
    // as the engine's nProbes = None; round 12 replaced the divergent
    // 1e9 / Int.MaxValue sentinels) and the knn-graph k/shortlist —
    // only the batch size differs from q_ivfpq
    "q_knn_graph" -> ivfPqSql(k = 3, shortlist = 20, nq = None),
    // q_knn_components: the full-corpus graph as a nested MATERIALIZED
    // CTE (one evaluation — the recursive closure must not re-run the
    // Lloyd chains per iteration), mutual edges via the reversed-pair
    // self-join, then the q_dedup_clusters transitive-closure pattern
    "q_knn_components" ->
      ("WITH RECURSIVE ann AS MATERIALIZED (" +
        ivfPqSql(k = 3, shortlist = 20, nq = None) + "), " +
        "me AS MATERIALIZED (SELECT a.q_id AS src, a.cand_id AS dst " +
        "FROM ann a JOIN ann b ON a.q_id = b.cand_id AND a.cand_id = b.q_id " +
        "WHERE a.q_id < a.cand_id), " +
        "und AS MATERIALIZED (SELECT src, dst FROM me " +
        "UNION ALL SELECT dst AS src, src AS dst FROM me), " +
        "reach AS (SELECT vec_id AS node, vec_id AS r FROM embeddings " +
        "UNION SELECT reach.node, u.dst FROM reach JOIN und u ON reach.r = u.src) " +
        "SELECT node AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY node " +
        "ORDER BY vec_id"),
    // q_knn_recall: exact top-k on the probe sample (the annRecallSql
    // exact block at this k) scored against the nested IVF+PQ search
    "q_knn_recall" -> knnRecallSql(),
    // RBO over the two embedded rankings: exact top-10 (simTopkSql) vs
    // the unrolled-Lloyd IVF ranking (ivfSearchSql); per-candidate
    // weights are the driver-literal rboTable, the per-query sum is the
    // same sorted fold both sides (0.0-seed vs first-element-seed folds
    // agree bitwise: 0.0 + x = x)
    "q_rbo" -> {
      val tblSql = graft.operators.RetrievalOps.rboTable()
        .mkString("[", ", ", "]")
      "WITH ra AS (" + simTopkSql + "), " +
        "rb AS (" + ivfSearchSql(nprobe = 4, topk = 10, nq = 5) + "), " +
        "mm AS (SELECT ra.q_id, greatest(ra.rn, rb.rn) AS m FROM ra " +
        "JOIN rb ON ra.q_id = rb.q_id AND ra.cand_id = rb.cand_id), " +
        "ag AS (SELECT q_id, COUNT(*) AS n_common, MAX(m = 1) AS top1_agree, " +
        s"list_reduce(list_transform(list_sort(list(m)), x -> ($tblSql)[x]), " +
        "(acc, t) -> acc + t) AS rbo_raw FROM mm GROUP BY q_id), " +
        "sp AS (SELECT DISTINCT q_id FROM ra) " +
        "SELECT sp.q_id, COALESCE(n_common, 0) AS n_common, " +
        "COALESCE(top1_agree, FALSE) AS top1_agree, " +
        "CAST(round(CAST(COALESCE(rbo_raw, 0.0) AS DECIMAL(20,8)), 4) AS DOUBLE) AS rbo " +
        "FROM sp LEFT JOIN ag USING (q_id) ORDER BY sp.q_id"
    },
    // HitsRounds unrolled integer reinforcement rounds over the bipartite
    // purchase edges; scores stay exact BIGINTs (the round count is capped
    // by the long-range magnitude argument in GraphOps.HitsRounds)
    "q_hits" -> {
      import graft.operators.GraphOps.{HitsRounds, HitsTopN}
      val sb = new StringBuilder(
        "WITH be AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p " +
          "FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey), ")
      sb ++= "a1 AS MATERIALIZED (SELECT p, COUNT(*) AS a FROM be GROUP BY p), "
      sb ++= "h1 AS MATERIALIZED (SELECT c, CAST(SUM(a) AS BIGINT) AS h " +
        "FROM be JOIN a1 USING (p) GROUP BY c), "
      for (t <- 2 to HitsRounds) {
        sb ++= s"a$t AS MATERIALIZED (SELECT p, CAST(SUM(h) AS BIGINT) AS a " +
          s"FROM be JOIN h${t - 1} USING (c) GROUP BY p), "
        sb ++= s"h$t AS MATERIALIZED (SELECT c, CAST(SUM(a) AS BIGINT) AS h " +
          s"FROM be JOIN a$t USING (p) GROUP BY c), "
      }
      sb ++= "ta AS (SELECT 'authority' AS kind, node_id, score, rn FROM " +
        "(SELECT p AS node_id, a AS score, row_number() OVER (ORDER BY a DESC, p) AS rn " +
        s"FROM a$HitsRounds) WHERE rn <= $HitsTopN), "
      sb ++= "th AS (SELECT 'hub' AS kind, node_id, score, rn FROM " +
        "(SELECT c AS node_id, h AS score, row_number() OVER (ORDER BY h DESC, c) AS rn " +
        s"FROM h$HitsRounds) WHERE rn <= $HitsTopN) "
      sb ++= "SELECT kind, node_id, score, CAST(rn AS INTEGER) AS rank FROM " +
        "(SELECT * FROM ta UNION ALL SELECT * FROM th) u ORDER BY kind, rank"
      sb.toString
    },
    // integer degree sums over the doubled edge list; the Pearson assembly
    // mirrors the engine's association order term for term
    "q_assortativity" ->
      ("WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS MATERIALIZED (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS MATERIALIZED (SELECT src, dst FROM e " +
        "UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "d AS MATERIALIZED (SELECT src AS node, COUNT(*) AS degree FROM und GROUP BY src), " +
        "s AS (SELECT COUNT(*) AS m2, CAST(SUM(da.degree) AS BIGINT) AS sx, " +
        "CAST(SUM(da.degree * db.degree) AS BIGINT) AS sxy, " +
        "CAST(SUM(da.degree * da.degree) AS BIGINT) AS sxx " +
        "FROM und JOIN d da ON da.node = und.src JOIN d db ON db.node = und.dst) " +
        "SELECT CAST(m2 / 2 AS BIGINT) AS n_edges, " +
        "CAST(round(CAST((CAST(sxy AS DOUBLE) / CAST(m2 AS DOUBLE) " +
        "- (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))) " +
        "/ (CAST(sxx AS DOUBLE) / CAST(m2 AS DOUBLE) " +
        "- (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(m2 AS DOUBLE))) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS assortativity FROM s"),
    // ---------------- round 12 ----------------
    // Kaplan-Meier: exact integer risk/churn tables; the cumulative
    // ln-sum passes an 8-decimal barrier before exp (window sum order
    // differs between engines only at ULP; the barrier absorbs it)
    "q_kaplan_meier" -> {
      "WITH u AS (SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts FROM events GROUP BY user_id), " +
        "h AS (SELECT max(ts) AS max_ts FROM events), " +
        "l AS (SELECT CAST(datediff('day', CAST(first_ts AS DATE), CAST(last_ts AS DATE)) AS BIGINT) AS t_days, " +
        "CASE WHEN last_ts < max_ts - INTERVAL 7 DAY THEN 1 ELSE 0 END AS churned FROM u CROSS JOIN h), " +
        "b AS (SELECT t_days, COUNT(*) AS n_ending, SUM(churned) AS n_churned FROM l GROUP BY t_days), " +
        "r AS (SELECT t_days, n_churned, SUM(n_ending) OVER (ORDER BY t_days DESC) AS n_at_risk FROM b), " +
        "s AS (SELECT t_days, n_at_risk, n_churned, " +
        "SUM(ln(1.0 - CAST(n_churned AS DOUBLE) / n_at_risk)) OVER (ORDER BY t_days) AS lnsum FROM r) " +
        "SELECT t_days, CAST(n_at_risk AS BIGINT) AS n_at_risk, CAST(n_churned AS BIGINT) AS n_churned, " +
        r4("exp(CAST(round(CAST(lnsum AS DECIMAL(20,10)), 8) AS DOUBLE))") +
        " AS survival FROM s ORDER BY t_days"
    },
    // burstiness: exact integer moments over hourly counts (zero hours
    // fold in arithmetically), two final divisions
    "q_burstiness" -> {
      val mean = "CAST(n_events AS DOUBLE) / n_hours"
      val varr = s"CAST(sum_c2 AS DOUBLE) / n_hours - ($mean) * ($mean)"
      "WITH hc AS (SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, " +
        "CAST((epoch(max(hr)) - epoch(min(hr))) / 3600 AS BIGINT) + 1 AS n_hours, " +
        "CAST(SUM(c) AS BIGINT) AS n_events, CAST(SUM(c * c) AS BIGINT) AS sum_c2 " +
        "FROM hc GROUP BY event_type) " +
        "SELECT event_type, n_hours, n_events, " +
        r4(mean) + " AS mean_per_hour, " +
        r4(s"($varr) / ($mean)") + " AS fano, " +
        r4(s"(sqrt($varr) - ($mean)) / (sqrt($varr) + ($mean))") +
        " AS burstiness FROM m ORDER BY event_type"
    },
    // TextRank: the q_pagerank unrolled power-iteration CTE pattern over
    // the adjacent content-word co-occurrence graph
    "q_textrank" -> {
      val iters = (1 to 5).map { i =>
        s"r$i AS (SELECT u.dst AS node, " +
          "(CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn) " +
          "+ CAST(0.85 AS DOUBLE) * SUM(r.rank / d.degree) AS rank " +
          s"FROM und u JOIN r${i - 1} r ON u.src = r.node " +
          "JOIN d ON u.src = d.node GROUP BY u.dst)"
      }.mkString(", ")
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "p AS MATERIALIZED (SELECT doc_id, pos, tok FROM (SELECT doc_id, unnest(toks) AS tok, " +
        "generate_subscripts(toks, 1) AS pos FROM t) WHERE len(tok) >= 4), " +
        "e AS MATERIALIZED (SELECT DISTINCT least(a.tok, b.tok) AS src, greatest(a.tok, b.tok) AS dst " +
        "FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.pos + 1 = b.pos AND a.tok <> b.tok), " +
        "und AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "d AS MATERIALIZED (SELECT src AS node, COUNT(*) AS degree FROM und GROUP BY src), " +
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d), " +
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM d), " +
        iters + " " +
        "SELECT node AS token, CAST(round(CAST(rank AS DECIMAL(20,8)), 4) AS DOUBLE) AS rank " +
        "FROM r5 ORDER BY rank DESC, token LIMIT 20"
    },
    // LOF on the hash-proven full-corpus IVF+PQ kNN graph: the ann CTE
    // is the identical q_knn_graph composition; reach/lrd/lof sums fold
    // in sorted order (list_reduce(list_sort) ≡ aggregate(sort_array))
    "q_lof" -> {
      "WITH ann AS MATERIALIZED (" + ivfPqSql(k = 3, shortlist = 20, nq = None) + "), " +
        "ed AS MATERIALIZED (SELECT q_id, cand_id, greatest(0.0001, 1.0 - cos_sim) AS dist FROM ann), " +
        "kd AS (SELECT q_id, max(dist) AS kdist FROM ed GROUP BY q_id), " +
        "re AS (SELECT e.q_id, greatest(k.kdist, e.dist) AS reach " +
        "FROM ed e JOIN kd k ON e.cand_id = k.q_id), " +
        "lrd AS MATERIALIZED (SELECT q_id, CAST(COUNT(*) AS DOUBLE) / " +
        "list_reduce(list_sort(list(reach)), (a, b) -> a + b) AS lrd FROM re GROUP BY q_id), " +
        "nb AS (SELECT e.q_id, list_reduce(list_sort(list(l.lrd)), (a, b) -> a + b) AS sum_nbr, " +
        "COUNT(*) AS deg FROM ed e JOIN lrd l ON e.cand_id = l.q_id GROUP BY e.q_id) " +
        "SELECT nb.q_id AS vec_id, " + r4("l.lrd") + " AS lrd, " +
        r4("nb.sum_nbr / nb.deg / l.lrd") + " AS lof " +
        "FROM nb JOIN lrd l ON nb.q_id = l.q_id " +
        "ORDER BY lof DESC, vec_id LIMIT 50"
    },
    // Gini/Lorenz: cents-exact integer sums and rank products, one final
    // division per emitted ratio
    "q_gini" -> {
      "WITH c AS (SELECT o_custkey, SUM(CAST(round(CAST(o_totalprice AS DECIMAL(20,8)) * 100, 0) AS BIGINT)) AS cents " +
        "FROM orders GROUP BY o_custkey), " +
        "r AS (SELECT o_custkey, cents, row_number() OVER (ORDER BY cents, o_custkey) AS i, " +
        "ntile(10) OVER (ORDER BY cents, o_custkey) AS decile FROM c), " +
        "t AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS total, " +
        "CAST(SUM(i * cents) AS BIGINT) AS srs FROM r), " +
        "g AS (SELECT " +
        r4("(2.0 * CAST(srs AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(total AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))") +
        " AS gini FROM t), " +
        "d AS (SELECT decile, COUNT(*) AS n_custs, CAST(SUM(cents) AS BIGINT) AS d_cents FROM r GROUP BY decile), " +
        "cd AS (SELECT decile, n_custs, d_cents, " +
        "CAST(SUM(d_cents) OVER (ORDER BY decile) AS BIGINT) AS cum FROM d) " +
        "SELECT CAST(decile AS INTEGER) AS decile, CAST(n_custs AS BIGINT) AS n_custs, " +
        r4("CAST(d_cents AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)") + " AS spend_share, " +
        r4("CAST(cum AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)") + " AS cum_share, " +
        "(SELECT gini FROM g) AS gini FROM cd ORDER BY decile"
    },
    // CDC chunking: md5-60 rolling boundary on token 2-grams, integer
    // prefix-sum chunk ids, md5-60 chunk hashes counted corpus-wide
    "q_cdc_chunks" ->
      ("WITH t AS (SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "p AS (SELECT doc_id, source, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t), " +
        "f AS (SELECT doc_id, source, pos, tok, CASE WHEN " +
        "lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AND " +
        md5h60("lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || tok") +
        " % 16 = 0 THEN 1 ELSE 0 END AS boundary FROM p), " +
        "c AS (SELECT doc_id, source, pos, tok, " +
        "SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id FROM f), " +
        "g AS (SELECT doc_id, source, chunk_id, COUNT(*) AS n_tokens, " +
        md5h60("string_agg(tok, ' ' ORDER BY pos)") + " AS chunk_hash " +
        "FROM c GROUP BY doc_id, source, chunk_id), " +
        "h AS (SELECT chunk_hash, COUNT(*) AS n_occ FROM g GROUP BY chunk_hash) " +
        "SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        r4("AVG(n_tokens)") + " AS avg_chunk_tokens, " +
        r4("CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)") +
        " AS dup_chunk_frac FROM g JOIN h USING (chunk_hash) " +
        "GROUP BY source ORDER BY source"),
    // centroid silhouette: the hash-proven unrolled-Lloyd chain, per-pair
    // squared distances with the proven list_sum accumulation pairing,
    // sorted-fold means
    "q_silhouette" -> {
      val dim = graft.operators.SimilarityOps.EmbeddingDim
      "WITH " + lloydCtesBody("") + ", " +
        "d2 AS (SELECT a.vec_id, a.cid, c.cid AS ccid, " +
        s"list_sum(list_transform(range(1, ${dim + 1}), i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i]))) AS d2 " +
        "FROM af a CROSS JOIN cf c), " +
        "ab AS (SELECT vec_id, cid, sqrt(max(CASE WHEN ccid = cid THEN d2 END)) AS a, " +
        "sqrt(min(CASE WHEN ccid <> cid THEN d2 END)) AS b FROM d2 GROUP BY vec_id, cid), " +
        "sc AS (SELECT cid, CASE WHEN greatest(a, b) > 0.0 THEN (b - a) / greatest(a, b) ELSE 0.0 END AS s FROM ab), " +
        "pc AS (SELECT cid, COUNT(*) AS n_vecs, " +
        "list_reduce(list_sort(list(s)), (x, y) -> x + y) AS sum_s FROM sc GROUP BY cid), " +
        "al AS (SELECT -1 AS cid, CAST(SUM(n_vecs) AS BIGINT) AS n_vecs, " +
        "list_reduce(list_sort(list(sum_s)), (x, y) -> x + y) AS sum_s FROM pc) " +
        "SELECT CAST(cid AS INTEGER) AS centroid_id, CAST(n_vecs AS BIGINT) AS n_vecs, " +
        r4("sum_s / n_vecs") + " AS mean_silhouette FROM " +
        "(SELECT cid, n_vecs, sum_s FROM pc UNION ALL SELECT cid, n_vecs, sum_s FROM al) " +
        "ORDER BY centroid_id"
    },
    // ARI: exact integer pair counting over the (cell, label) contingency
    // table from the same unrolled-Lloyd assignment
    "q_rand_index" -> {
      val c2n = "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2)"
      val expected = s"CAST(suma AS DOUBLE) * CAST(sumb AS DOUBLE) / $c2n"
      val maxIdx = "(CAST(suma AS DOUBLE) + CAST(sumb AS DOUBLE)) / 2.0"
      "WITH " + lloydCtesBody("") + ", " +
        "lab AS (SELECT a.vec_id, a.cid, e.label FROM af a JOIN e ON a.vec_id = e.vec_id), " +
        "ct AS (SELECT cid, label, COUNT(*) AS nij FROM lab GROUP BY cid, label), " +
        "att AS (SELECT SUM(ai * (ai - 1) / 2) AS suma, COUNT(*) AS n_cells FROM " +
        "(SELECT cid, SUM(nij) AS ai FROM ct GROUP BY cid)), " +
        "btt AS (SELECT SUM(bj * (bj - 1) / 2) AS sumb, COUNT(*) AS n_labels FROM " +
        "(SELECT label, SUM(nij) AS bj FROM ct GROUP BY label)), " +
        "ix AS (SELECT SUM(nij * (nij - 1) / 2) AS sumij, CAST(SUM(nij) AS BIGINT) AS n FROM ct) " +
        "SELECT n AS n_vecs, CAST(n_cells AS BIGINT) AS n_cells, CAST(n_labels AS BIGINT) AS n_labels, " +
        r4(s"(CAST(sumij AS DOUBLE) - $expected) / ($maxIdx - $expected)") +
        " AS ari FROM ix CROSS JOIN att CROSS JOIN btt"
    },
    // SPRT: integer prefix counts per variant; the four log terms are
    // the driver-computed literals interpolated into both engines
    "q_sprt" -> {
      import graft.operators.StatOps._
      "WITH wk AS (SELECT user_id % 2 AS variant, ts, event_id, " +
        s"CASE WHEN value > $SprtThreshold THEN 1 ELSE 0 END AS conv FROM events), " +
        "cw AS (SELECT variant, COUNT(*) OVER w AS n, SUM(conv) OVER w AS k FROM wk " +
        "WINDOW w AS (PARTITION BY variant ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        s"dd AS (SELECT variant, n, k, k * $SprtLnLr1 + (n - k) * $SprtLnLr0 AS llr FROM cw), " +
        s"de AS (SELECT variant, n, k, llr, CASE WHEN llr >= $SprtUpper THEN 'accept_h1' " +
        s"WHEN llr <= $SprtLower THEN 'accept_h0' ELSE 'continue' END AS decision FROM dd), " +
        "fst AS (SELECT variant, n, k, llr, decision FROM " +
        "(SELECT de.*, row_number() OVER (PARTITION BY variant ORDER BY n) AS rn FROM de " +
        "WHERE decision <> 'continue') WHERE rn = 1), " +
        "lst AS (SELECT variant, n, k, llr, decision FROM " +
        "(SELECT de.*, row_number() OVER (PARTITION BY variant ORDER BY n DESC) AS rn FROM de) WHERE rn = 1) " +
        "SELECT l.variant AS variant, CAST(COALESCE(f.n, l.n) AS BIGINT) AS n_at_decision, " +
        "CAST(COALESCE(f.k, l.k) AS BIGINT) AS k_conversions, " +
        r4("COALESCE(f.llr, l.llr)") + " AS llr, " +
        "COALESCE(f.decision, l.decision) AS decision " +
        "FROM lst l LEFT JOIN fst f ON l.variant = f.variant ORDER BY variant"
    },
    // EM-GMM: 5 unrolled EM CTE rounds — per-row responsibilities are
    // plain IEEE algebra against the previous round's barriered params;
    // every M-step statistic passes the stable6 two-stage barrier (the
    // unrolled-GD/Lloyd recipe), so all rounds replay bit-identically
    "q_em_gmm" -> {
      val s2raw = "sxx / n - (sx / n) * (sx / n)"
      val rounds = (1 to 5).map { t =>
        s"e$t AS (SELECT x.x, " +
          "(p.w * exp(-((x.x - p.mu1) * (x.x - p.mu1)) / (2.0 * p.s21)) / sqrt(p.s21)) AS num1, " +
          "((1.0 - p.w) * exp(-((x.x - p.mu2) * (x.x - p.mu2)) / (2.0 * p.s22)) / sqrt(p.s22)) AS num2 " +
          s"FROM x CROSS JOIN p${t - 1} p), " +
          s"m$t AS (SELECT SUM(num1 / (num1 + num2)) AS sr1, " +
          "SUM(num1 / (num1 + num2) * x) AS sx1, " +
          "SUM(num1 / (num1 + num2) * x * x) AS sxx1, " +
          "SUM(num2 / (num1 + num2)) AS sr2, " +
          "SUM(num2 / (num1 + num2) * x) AS sx2, " +
          "SUM(num2 / (num1 + num2) * x * x) AS sxx2, " +
          s"COUNT(*) AS n FROM e$t), " +
          s"p$t AS MATERIALIZED (SELECT ${r6("sr1 / n")} AS w, " +
          r6("sx1 / sr1") + " AS mu1, " +
          r6(s"sxx1 / sr1 - ${r6("sx1 / sr1")} * ${r6("sx1 / sr1")}") + " AS s21, " +
          r6("sx2 / sr2") + " AS mu2, " +
          r6(s"sxx2 / sr2 - ${r6("sx2 / sr2")} * ${r6("sx2 / sr2")}") + " AS s22 " +
          s"FROM m$t)"
      }.mkString(", ")
      "WITH x AS MATERIALIZED (SELECT l_extendedprice / 10000.0 AS x FROM lineitem), " +
        "i AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx FROM x), " +
        "p0 AS MATERIALIZED (SELECT 0.5 AS w, " +
        r6(s"${r6("sx / n")} - 0.5 * sqrt(${r6(s2raw)})") + " AS mu1, " +
        r6(s2raw) + " AS s21, " +
        r6(s"${r6("sx / n")} + 0.5 * sqrt(${r6(s2raw)})") + " AS mu2, " +
        r6(s2raw) + " AS s22 FROM i), " +
        rounds + " " +
        "SELECT component, weight, mu, sigma2 FROM (" +
        s"SELECT 1 AS component, ${r4("w")} AS weight, ${r4("mu1")} AS mu, ${r4("s21")} AS sigma2 FROM p5 " +
        s"UNION ALL SELECT 2 AS component, ${r4("1.0 - w")} AS weight, ${r4("mu2")} AS mu, ${r4("s22")} AS sigma2 FROM p5" +
        ") ORDER BY component"
    },
    // DiD: exact integer midpoint-day split, four cell means, one
    // closed-form assembly
    "q_diff_in_diff" -> {
      "WITH mm AS (SELECT min(CAST(ts AS DATE)) AS min_d, max(CAST(ts AS DATE)) AS max_d FROM events), " +
        "f AS (SELECT user_id % 2 AS treat, " +
        "CASE WHEN CAST(ts AS DATE) >= min_d + CAST(datediff('day', min_d, max_d) // 2 AS INTEGER) THEN 1 ELSE 0 END AS post, " +
        "value FROM events CROSS JOIN mm), " +
        "c AS (SELECT treat, post, COUNT(*) AS n, AVG(value) AS m FROM f GROUP BY treat, post), " +
        "g AS (SELECT " +
        "max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m00, " +
        "max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m01, " +
        "max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m10, " +
        "max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m11 FROM c) " +
        "SELECT treat, CAST(post AS INTEGER) AS post, CAST(n AS BIGINT) AS n, " +
        r4("m") + " AS mean_value, " +
        r4("(m11 - m10) - (m01 - m00)") + " AS did " +
        "FROM c CROSS JOIN g ORDER BY treat, post"
    },
    // CUPED: per-user pre/post sums, pooled theta = cov/var from the
    // 5-number moment pass, adjusted means per variant
    "q_cuped" -> {
      val n = "CAST(n AS DOUBLE)"
      val covxy = s"sxy - sx * sy / $n"
      val varx = s"sxx - sx * sx / $n"
      val vary = s"syy - sy * sy / $n"
      val theta = s"($covxy) / ($varx)"
      "WITH mm AS (SELECT min(CAST(ts AS DATE)) AS min_d, max(CAST(ts AS DATE)) AS max_d FROM events), " +
        "f AS (SELECT user_id, " +
        "CASE WHEN CAST(ts AS DATE) >= min_d + CAST(datediff('day', min_d, max_d) // 2 AS INTEGER) THEN 1 ELSE 0 END AS post, " +
        "value FROM events CROSS JOIN mm), " +
        "u AS (SELECT user_id, SUM(CASE WHEN post = 0 THEN value ELSE 0.0 END) AS x, " +
        "SUM(CASE WHEN post = 1 THEN value ELSE 0.0 END) AS y FROM f GROUP BY user_id), " +
        "uv AS (SELECT user_id % 2 AS variant, x, y FROM u), " +
        "mom AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, " +
        "SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM uv), " +
        "bv AS (SELECT variant, COUNT(*) AS n_users, AVG(y) AS my, AVG(x) AS mx FROM uv GROUP BY variant) " +
        "SELECT variant, CAST(n_users AS BIGINT) AS n_users, " +
        r4("my") + " AS mean_y, " +
        r4(s"my - ($theta) * (mx - sx / $n)") + " AS mean_y_cuped, " +
        r4(theta) + " AS theta, " +
        r4(s"($covxy) * ($covxy) / (($varx) * ($vary))") + " AS var_reduction " +
        "FROM bv CROSS JOIN mom ORDER BY variant"
    },
    // AR(2) Yule-Walker from lead-window autocovariances of the daily
    // value series; degenerate denominators emit NULL on both engines
    "q_ar_fit" -> {
      val den = "g0 * g0 - g1 * g1"
      "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS d, SUM(value) AS v " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, AVG(v) AS m, COUNT(*) AS n_days FROM d GROUP BY event_type), " +
        "l AS (SELECT d.event_type, d.v, m.m, m.n_days, " +
        "lead(v, 1) OVER (PARTITION BY d.event_type ORDER BY d.d) AS v1, " +
        "lead(v, 2) OVER (PARTITION BY d.event_type ORDER BY d.d) AS v2 " +
        "FROM d JOIN m ON d.event_type = m.event_type), " +
        "g AS (SELECT event_type, CAST(max(n_days) AS BIGINT) AS n_days, " +
        "SUM((v - m) * (v - m)) / max(n_days) AS g0, " +
        "SUM(CASE WHEN v1 IS NOT NULL THEN (v - m) * (v1 - m) ELSE 0.0 END) / max(n_days) AS g1, " +
        "SUM(CASE WHEN v2 IS NOT NULL THEN (v - m) * (v2 - m) ELSE 0.0 END) / max(n_days) AS g2 " +
        "FROM l GROUP BY event_type) " +
        "SELECT event_type, n_days, " +
        s"CASE WHEN $den <> 0.0 THEN " +
        r4(s"g1 * (g0 - g2) / ($den)") + " END AS phi1, " +
        s"CASE WHEN $den <> 0.0 THEN " +
        r4(s"(g0 * g2 - g1 * g1) / ($den)") + " END AS phi2 " +
        "FROM g ORDER BY event_type"
    },
    // CDC near-dup pairs: distinct (doc, chunk-hash) from the same
    // chunk CTEs as q_cdc_chunks, df-capped bucket self-join, exact
    // integer Jaccard up to one division; threshold on the ROUNDED value
    "q_dedup_cdc" ->
      ("WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "p AS (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t), " +
        "f AS (SELECT doc_id, pos, tok, CASE WHEN " +
        "lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL AND " +
        md5h60("lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) || ' ' || tok") +
        " % 16 = 0 THEN 1 ELSE 0 END AS boundary FROM p), " +
        "c AS (SELECT doc_id, pos, tok, " +
        "SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id FROM f), " +
        "g AS (SELECT doc_id, chunk_id, " +
        md5h60("string_agg(tok, ' ' ORDER BY pos)") + " AS ch " +
        "FROM c GROUP BY doc_id, chunk_id), " +
        "dd AS MATERIALIZED (SELECT DISTINCT doc_id, ch FROM g), " +
        "capped AS (SELECT ch FROM dd GROUP BY ch HAVING COUNT(*) BETWEEN 2 AND 64), " +
        "ib AS MATERIALIZED (SELECT dd.doc_id, dd.ch FROM dd JOIN capped USING (ch)), " +
        "pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared " +
        "FROM ib a JOIN ib b ON a.ch = b.ch AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "nd AS (SELECT doc_id, COUNT(*) AS nc FROM dd GROUP BY doc_id), " +
        "pj AS (SELECT doc_a, doc_b, n_shared, na.nc AS n_a, nb.nc AS n_b, " +
        r4("CAST(n_shared AS DOUBLE) / (na.nc + nb.nc - n_shared)") + " AS jaccard " +
        "FROM pr JOIN nd na ON pr.doc_a = na.doc_id JOIN nd nb ON pr.doc_b = nb.doc_id) " +
        "SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, " +
        "CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, jaccard " +
        "FROM pj WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"),
    // rank-sum AUC with midrank ties on the compressed score domain;
    // every midrank is a half-integer so the rank sum is float-exact
    "q_auc" -> {
      "WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS v, " +
        "CASE WHEN label = 1 THEN 1 ELSE 0 END AS pos FROM embeddings), " +
        "bv AS (SELECT v, COUNT(*) AS n_v, SUM(pos) AS n_pv FROM s GROUP BY v), " +
        "r AS (SELECT v, n_pv, COALESCE(SUM(n_v) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
        "+ (n_v + 1) / 2.0 AS midrank FROM bv), " +
        "t AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, " +
        "CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg FROM s), " +
        "rs AS (SELECT SUM(CAST(n_pv AS DOUBLE) * midrank) AS rank_sum FROM r) " +
        "SELECT n_pos, n_neg, " +
        r4("CASE WHEN n_pos > 0 AND n_neg > 0 THEN " +
          "(rank_sum - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0) " +
          "/ (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END") + " AS auc " +
        "FROM rs CROSS JOIN t"
    },
    // Brown-Forsythe: lower-median centering (exact integer at cumulative
    // rank ceil(n/2)), integer z-moments, closed-form W on the k-row agg
    "q_levene" -> {
      "WITH sv AS (SELECT source, n_chars AS v, COUNT(*) AS n_sv " +
        "FROM documents GROUP BY 1, 2), " +
        "c AS (SELECT source, v, n_sv, " +
        "SUM(n_sv) OVER (PARTITION BY source ORDER BY v) AS cum, " +
        "SUM(n_sv) OVER (PARTITION BY source) AS n_s FROM sv), " +
        "med AS (SELECT source, v AS med FROM c " +
        "WHERE cum - n_sv < ceil(n_s / 2.0) AND cum >= ceil(n_s / 2.0)), " +
        "zs AS (SELECT sv.source, SUM(n_sv) AS n_s, " +
        "SUM(n_sv * abs(v - med)) AS sz, " +
        "SUM(n_sv * (v - med) * (v - med)) AS szz " +
        "FROM sv JOIN med ON sv.source = med.source GROUP BY 1), " +
        "tot AS (SELECT SUM(n_s) AS n_total, COUNT(*) AS k, SUM(sz) AS sz_all FROM zs), " +
        "w AS (SELECT max(n_total) AS n_total, max(k) AS k, " +
        "SUM(CAST(n_s AS DOUBLE) * (CAST(sz AS DOUBLE) / n_s - CAST(sz_all AS DOUBLE) / n_total) " +
        "* (CAST(sz AS DOUBLE) / n_s - CAST(sz_all AS DOUBLE) / n_total)) AS ssb, " +
        "SUM(CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz / n_s) AS ssw " +
        "FROM zs CROSS JOIN tot) " +
        "SELECT CAST(n_total AS BIGINT) AS n_total, CAST(k AS BIGINT) AS k, " +
        r4("ssb") + " AS ssb, " + r4("ssw") + " AS ssw, " +
        r4("(CAST(n_total - k AS DOUBLE) / (k - 1)) * ssb / ssw") + " AS w_stat " +
        "FROM w"
    },
    // Box-Cox grid pinned to halves: sqrt/reciprocal transforms only
    // (IEEE-identical), one 12-statistic pass, LLs unpivoted per lambda
    "q_boxcox" -> {
      val ys = Seq(
        "-1.0" -> "(1.0 - 1.0 / x)",
        "-0.5" -> "((1.0 - 1.0 / sqrt(x)) * 2.0)",
        "0.0" -> "ln(x)",
        "0.5" -> "((sqrt(x) - 1.0) * 2.0)",
        "1.0" -> "(x - 1.0)")
      val aggCols = ys.zipWithIndex.map { case ((_, y), i) =>
        s"SUM($y) AS s$i, SUM($y * $y) AS q$i"
      }.mkString(", ")
      val branches = ys.zipWithIndex.map { case ((lam, _), i) =>
        s"SELECT CAST($lam AS DOUBLE) AS lambda, n, " +
          s"-0.5 * n * ln((q$i - s$i * s$i / n) / n) + " +
          s"(${lam.toDouble - 1.0}) * sum_ln AS ll FROM a"
      }.mkString(" UNION ALL ")
      "WITH x AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents WHERE n_chars > 0), " +
        "a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(ln(x)) AS sum_ln, " +
        aggCols + " FROM x), " +
        s"u AS ($branches), " +
        "b AS (SELECT max(ll) AS ll_max FROM u) " +
        "SELECT lambda, CAST(n AS BIGINT) AS n, " +
        r4("ll") + " AS log_likelihood, ll >= ll_max AS is_best " +
        "FROM u CROSS JOIN b ORDER BY lambda"
    },
    // md5-randomization test: permutation r relabels by u(doc,r) < p_en;
    // group sums are exact integers so every comparison is bit-stable
    "q_permutation_test" -> {
      "WITH d AS (SELECT doc_id, lang, n_chars FROM documents), " +
        "o AS (SELECT COUNT(*) AS n, " +
        "SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_en, " +
        "SUM(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END) AS sum_en, " +
        "SUM(CASE WHEN lang <> 'en' THEN n_chars ELSE 0 END) AS sum_rest FROM d), " +
        "ob AS (SELECT n, n_en, CAST(sum_en AS DOUBLE) / n_en " +
        "- CAST(sum_rest AS DOUBLE) / (n - n_en) AS obs_diff FROM o), " +
        "p AS (SELECT r, n_chars, " +
        "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 6)) AS BIGINT) " +
        "/ 16777216.0) < (CAST(n_en AS DOUBLE) / n) AS is_en " +
        "FROM d CROSS JOIN ob CROSS JOIN (SELECT unnest(generate_series(1, 20)) AS r)), " +
        "g AS (SELECT r, SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS k_en, " +
        "SUM(CASE WHEN is_en THEN n_chars ELSE 0 END) AS s_en, " +
        "SUM(CASE WHEN NOT is_en THEN n_chars ELSE 0 END) AS s_rest, " +
        "COUNT(*) AS k_all FROM p GROUP BY r), " +
        "pd AS (SELECT r, CAST(s_en AS DOUBLE) / k_en " +
        "- CAST(s_rest AS DOUBLE) / (k_all - k_en) AS perm_diff FROM g) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_perms, " +
        "CAST(SUM(CASE WHEN abs(perm_diff) >= abs(obs_diff) THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme, " +
        r4("max(obs_diff)") + " AS obs_diff, " +
        r4("CAST(SUM(CASE WHEN abs(perm_diff) >= abs(obs_diff) THEN 1 ELSE 0 END) + 1 AS DOUBLE) " +
          "/ CAST(COUNT(*) + 1 AS DOUBLE)") + " AS p_value " +
        "FROM pd CROSS JOIN ob"
    },
    // Dirichlet-smoothed query likelihood: per-term tf as list_filter
    // lengths, ONE collection-stats row, chained fixed-order ln sum
    "q_query_likelihood" -> {
      val terms = graft.operators.RetrievalOps.QueryTerms
      val mu = graft.operators.RetrievalOps.DirichletMu
      val tfCols = terms.map(t =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf_$t")
        .mkString(", ")
      val cfCols = terms.map(t => s"SUM(tf_$t) AS cf_$t").mkString(", ")
      val score = terms.map(t =>
        s"ln((tf_$t + $mu * (cf_$t / n_tokens)) / (dl + $mu))")
        .mkString(" + ")
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        s"d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfCols FROM t), " +
        s"s AS (SELECT SUM(dl) AS n_tokens, $cfCols FROM d) " +
        s"SELECT doc_id, ${r4(score)} AS ql_score " +
        "FROM d CROSS JOIN s ORDER BY ql_score DESC, doc_id LIMIT 20"
    },
    // Dunning G² collocations: bigram counts + two marginals + one total;
    // zero cells contribute 0 (CASE keeps ln off the zero branch)
    "q_llr_colloc" -> {
      import graft.operators.TextOps.{LlrMinCount, LlrTopN}
      def term(k: String, row: String, colm: String) =
        s"CASE WHEN $k > 0 THEN CAST($k AS DOUBLE) " +
          s"* ln(CAST($k AS DOUBLE) * nn / (CAST($row AS DOUBLE) * CAST($colm AS DOUBLE))) " +
          "ELSE 0.0 END"
      "WITH t AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "b AS (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg " +
        "FROM t WHERE len(toks) >= 2), " +
        "bgc AS MATERIALIZED (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS k11 FROM b GROUP BY 1, 2), " +
        "m1 AS (SELECT w1, SUM(k11) AS c1 FROM bgc GROUP BY 1), " +
        "m2 AS (SELECT w2, SUM(k11) AS c2 FROM bgc GROUP BY 1), " +
        "tot AS (SELECT SUM(k11) AS nn FROM bgc) " +
        "SELECT g.w1, g.w2, CAST(g.k11 AS BIGINT) AS n_pair, " +
        r4("2.0 * (" +
          term("k11", "c1", "c2") + " + " +
          term("c1 - k11", "c1", "nn - c2") + " + " +
          term("c2 - k11", "nn - c1", "c2") + " + " +
          term("nn - c1 - c2 + k11", "nn - c1", "nn - c2") + ")") + " AS llr " +
        "FROM bgc g JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot " +
        s"WHERE k11 >= $LlrMinCount ORDER BY llr DESC, g.w1, g.w2 LIMIT $LlrTopN"
    },
    // self-BLEU-2: id-successor pairs within source, clipped n-gram
    // precisions (exact-integer clips), brevity penalty on length ratio
    "q_self_bleu" -> {
      "WITH d AS (SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "f AS (SELECT * FROM d WHERE len(toks) >= 2), " +
        "uc AS MATERIALIZED (SELECT doc_id, g, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(toks) AS g FROM f) GROUP BY 1, 2), " +
        "bc AS MATERIALIZED (SELECT doc_id, g, COUNT(*) AS c FROM " +
        "(SELECT doc_id, unnest(list_transform(range(1, len(toks)), " +
        "i -> toks[i] || ' ' || toks[i + 1])) AS g FROM f) GROUP BY 1, 2), " +
        "p AS (SELECT source, doc_id AS hyp, len(toks) AS len_h, " +
        "lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS ref, " +
        "lead(len(toks)) OVER (PARTITION BY source ORDER BY doc_id) AS len_r FROM f), " +
        "pp AS (SELECT * FROM p WHERE ref IS NOT NULL), " +
        "c1 AS (SELECT hyp, SUM(least(a.c, b.c)) AS clip1 FROM pp " +
        "JOIN uc a ON pp.hyp = a.doc_id JOIN uc b ON pp.ref = b.doc_id AND a.g = b.g GROUP BY hyp), " +
        "c2 AS (SELECT hyp, SUM(least(a.c, b.c)) AS clip2 FROM pp " +
        "JOIN bc a ON pp.hyp = a.doc_id JOIN bc b ON pp.ref = b.doc_id AND a.g = b.g GROUP BY hyp), " +
        "x AS (SELECT source, " +
        "CAST(COALESCE(clip1, 0) AS DOUBLE) / len_h AS prec1, " +
        "CAST(COALESCE(clip2, 0) AS DOUBLE) / (len_h - 1) AS prec2, " +
        "CASE WHEN len_r <= len_h THEN 1.0 ELSE exp(1.0 - CAST(len_r AS DOUBLE) / len_h) END AS bp " +
        "FROM pp LEFT JOIN c1 USING (hyp) LEFT JOIN c2 USING (hyp)), " +
        "y AS (SELECT source, prec1, prec2, bp * sqrt(prec1 * prec2) AS bleu2 FROM x) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        r4("avg(prec1)") + " AS avg_p1, " + r4("avg(prec2)") + " AS avg_p2, " +
        r4("avg(bleu2)") + " AS avg_self_bleu " +
        "FROM y GROUP BY source ORDER BY source"
    },
    // PAV isotonic fit via the minimax closed form over the ≤10-bin
    // cumulative frame; same classifier CTEs as q_calibration
    "q_isotonic_cal" -> {
      "WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS awl, " +
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), " +
        "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\\s+')) AS swr " +
        "FROM documents), " +
        "dd AS (SELECT doc_id, 1.0 - CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*) AS dupfrac FROM " +
        "(SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents) GROUP BY doc_id), " +
        "z AS (SELECT t.doc_id, -1.0 + swr * 8.0 + least(n_toks / 100.0, 1.0) * 1.5 " +
        "- dupfrac * 4.0 - abs(awl - 5.0) * 0.3 AS z FROM t JOIN dd ON t.doc_id = dd.doc_id), " +
        "pk AS (SELECT doc_id, CAST(round(CAST(1.0 / (1.0 + exp(-z)) AS DECIMAL(20,8)), 4) AS DOUBLE) AS p_keep FROM z), " +
        "gt AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS n_chars FROM documents), " +
        "gf AS (SELECT doc_id, len(toks) AS n_words, n_chars / len(toks) AS mwl, " +
        "len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS sw_n, " +
        "CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / len(toks) AS alpha_frac FROM gt), " +
        "gp AS (SELECT doc_id, CASE WHEN (n_words BETWEEN 20 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0) " +
        "AND sw_n >= 2 AND alpha_frac >= 0.8 THEN 1.0 ELSE 0.0 END AS pass FROM gf), " +
        "j AS (SELECT CAST(least(floor(p_keep * 10), 9) AS INTEGER) AS bin, pass FROM pk JOIN gp USING (doc_id)), " +
        "bins AS (SELECT bin, COUNT(*) AS n, SUM(pass) AS s FROM j GROUP BY bin), " +
        "cum AS (SELECT bin, n, s, SUM(n) OVER (ORDER BY bin) AS cn, SUM(s) OVER (ORDER BY bin) AS cs FROM bins), " +
        "pooled AS (SELECT j.bin AS jb, k.bin AS kb, " +
        "(k.cs - j.cs + j.s) / CAST(k.cn - j.cn + j.n AS DOUBLE) AS m " +
        "FROM cum k JOIN cum j ON j.bin <= k.bin), " +
        "iso1 AS (SELECT b.bin, p.jb, MIN(p.m) AS mn FROM bins b " +
        "JOIN pooled p ON p.jb <= b.bin AND b.bin <= p.kb GROUP BY 1, 2), " +
        "iso AS (SELECT bin, MAX(mn) AS iso FROM iso1 GROUP BY bin) " +
        "SELECT b.bin, CAST(b.n AS BIGINT) AS n_docs, " +
        r4("b.s / CAST(b.n AS DOUBLE)") + " AS frac_pass, " +
        r4("iso") + " AS iso_pass " +
        "FROM bins b JOIN iso USING (bin) ORDER BY b.bin"
    },
    // McNemar: per-doc correctness of both shipped lang classifiers
    // (same CTEs as q_lang_id / q_lang_trigram), one 5-counter row
    "q_mcnemar" -> {
      "WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "hc AS (SELECT doc_id, lang, " +
        "CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS INTEGER) AS en_n, " +
        "CAST(len(list_filter(toks, x -> x = 'der' OR x = 'die' OR x = 'das' OR x = 'und')) AS INTEGER) AS de_n, " +
        "CAST(len(list_filter(toks, x -> x = 'el' OR x = 'los' OR x = 'las' OR x = 'y')) AS INTEGER) AS es_n, " +
        "CAST(len(list_filter(toks, x -> x = 'le' OR x = 'les' OR x = 'des' OR x = 'et')) AS INTEGER) AS fr_n " +
        "FROM t), " +
        "ha AS (SELECT doc_id, (CASE WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en' " +
        "WHEN de_n >= es_n AND de_n >= fr_n THEN 'de' " +
        "WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END) = lang AS ca FROM hc), " +
        "nd AS (SELECT doc_id, lang, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM documents), " +
        "g AS (SELECT doc_id, lang, unnest(list_transform(range(1, length(s) - 1), i -> s[i:i+2])) AS g " +
        "FROM nd WHERE length(s) >= 3), " +
        "dg AS (SELECT DISTINCT doc_id, g FROM g), " +
        "pc AS (SELECT lang AS plang, g, COUNT(*) AS c FROM g GROUP BY 1, 2), " +
        "pr AS (SELECT plang, g, 65 - CAST(row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) AS BIGINT) AS w " +
        "FROM pc QUALIFY row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) <= 64), " +
        "sc AS (SELECT dg.doc_id, pr.plang, SUM(pr.w) AS score FROM dg JOIN pr USING (g) GROUP BY 1, 2), " +
        "best AS (SELECT doc_id, plang FROM (SELECT doc_id, plang, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn FROM sc) WHERE rn = 1), " +
        "ml AS (SELECT min(lang) AS min_lang FROM documents), " +
        "tb AS (SELECT d2.doc_id, coalesce(b.plang, ml.min_lang) = d2.lang AS cb " +
        "FROM documents d2 LEFT JOIN best b USING (doc_id) CROSS JOIN ml), " +
        "m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS both_correct, " +
        "CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS only_heuristic, " +
        "CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS only_trigram, " +
        "CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong " +
        "FROM ha JOIN tb USING (doc_id)) " +
        "SELECT n_docs, both_correct, only_heuristic, only_trigram, both_wrong, " +
        "CASE WHEN only_heuristic + only_trigram > 0 THEN " +
        r4("CAST(abs(only_heuristic - only_trigram) - 1 AS DOUBLE) " +
          "* (abs(only_heuristic - only_trigram) - 1) " +
          "/ CAST(only_heuristic + only_trigram AS DOUBLE)") +
        " END AS mcnemar_chi2 FROM m"
    },
    // scene cuts: the q_frame_features feature replay, per-clip lag
    // deltas in fixed chained order, threshold literal shared via
    // MultimodalOps.SceneCutThreshold
    "q_video_scene" -> {
      val thr = graft.operators.MultimodalOps.SceneCutThreshold
      def fd(d: Int) =
        "CAST(round(CAST(CAST(CAST(('0x' || substr(h, " + (2 * d + 1) +
          ", 2)) AS INTEGER) / 255.0 AS REAL) AS DECIMAL(20,8)), 4) AS DOUBLE) AS f" + d
      val l1 = (0 until 8).map(d =>
        s"abs(f$d - lag(f$d) OVER (PARTITION BY doc_id ORDER BY frame_idx))")
        .mkString(" + ")
      "WITH x AS (SELECT doc_id, text, " +
        "unnest(range(0, CAST(floor(length(text) / 16) AS BIGINT))) AS i FROM documents), " +
        "fr AS (SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, " +
        "md5(substring(text, CAST(i * 16 + 1 AS INTEGER), 16)) AS h " +
        "FROM x WHERE i % 4 = 0), " +
        "ft AS (SELECT doc_id, frame_idx, " +
        (0 until 8).map(fd).mkString(", ") + " FROM fr), " +
        s"c AS (SELECT doc_id, frame_idx, CASE WHEN ($l1) > $thr THEN 1 ELSE 0 END AS cut FROM ft) " +
        "SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_frames, " +
        "CAST(SUM(cut) + 1 AS INTEGER) AS n_scenes, " +
        "CAST(COALESCE(MIN(CASE WHEN cut = 1 THEN frame_idx END), -1) AS INTEGER) AS first_cut_idx " +
        "FROM c GROUP BY doc_id ORDER BY doc_id"
    },
    // VAD: the q_audio_trim voiced-window CTEs, then gaps-and-islands
    // (w - row_number() island keys) for segment count / longest run
    "q_audio_vad" -> {
      "WITH t AS (SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\\s+'), " +
        "x -> length(x)) AS s FROM documents), " +
        "b AS (SELECT doc_id, CAST(len(s) // 16 AS INTEGER) AS nw, s FROM t), " +
        "r AS (SELECT doc_id, nw, CASE WHEN nw > 0 THEN " +
        "list_transform(range(0, nw), w -> sqrt(CAST(list_sum(" +
        "list_transform(list_slice(s, CAST(w * 16 + 1 AS INTEGER), CAST(w * 16 + 16 AS INTEGER)), " +
        "x -> CAST(x AS BIGINT) * x)) AS DOUBLE) / 16)) " +
        "ELSE CAST([] AS DOUBLE[]) END AS rms FROM b), " +
        "v AS (SELECT doc_id, nw, CASE WHEN nw > 0 THEN " +
        "list_filter(range(0, nw), w -> rms[CAST(w + 1 AS INTEGER)] >= 4.5) " +
        "ELSE CAST([] AS BIGINT[]) END AS voiced FROM r), " +
        "e AS (SELECT doc_id, unnest(voiced) AS w FROM v), " +
        "isl AS (SELECT doc_id, w, w - row_number() OVER (PARTITION BY doc_id ORDER BY w) AS k FROM e), " +
        "seg AS (SELECT doc_id, CAST(COUNT(DISTINCT k) AS INTEGER) AS n_segments, " +
        "CAST(MAX(cnt) AS INTEGER) AS longest_run FROM " +
        "(SELECT doc_id, k, COUNT(*) AS cnt FROM isl GROUP BY 1, 2) GROUP BY doc_id) " +
        "SELECT v.doc_id, nw AS n_windows, CAST(len(voiced) AS INTEGER) AS n_voiced, " +
        "COALESCE(n_segments, 0) AS n_segments, COALESCE(longest_run, 0) AS longest_run, " +
        r4("CASE WHEN nw > 0 THEN CAST(len(voiced) AS DOUBLE) / nw ELSE 0.0 END") + " AS voiced_frac " +
        "FROM v LEFT JOIN seg USING (doc_id) ORDER BY v.doc_id"
    },
    // R/S analysis: integer within-block walks, exact block moments,
    // 3-point log-log fit on the ROUNDED per-n means
    "q_hurst" -> {
      val grid = graft.operators.EventOps.HurstWindows
        .map(n => s"($n)").mkString(", ")
      "WITH h AS (SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS c FROM events GROUP BY 1), " +
        "ix AS (SELECT row_number() OVER (ORDER BY hr) AS i, c FROM h), " +
        s"g AS (SELECT i, c, n FROM ix CROSS JOIN (VALUES $grid) AS t(n)), " +
        "bl AS (SELECT n, CAST((i - 1) // n AS INTEGER) AS blk, i, c FROM g), " +
        "st AS (SELECT n, blk, COUNT(*) AS cnt, SUM(c) AS s, SUM(c * c) AS ss " +
        "FROM bl GROUP BY 1, 2), " +
        "stf AS (SELECT n, blk, s, ss FROM st WHERE cnt = n), " +
        "wk AS (SELECT bl.n AS n, bl.blk AS blk, stf.s AS s, stf.ss AS ss, " +
        "CAST(SUM(c) OVER (PARTITION BY bl.n, bl.blk ORDER BY i) AS DOUBLE) " +
        "- CAST(row_number() OVER (PARTITION BY bl.n, bl.blk ORDER BY i) AS DOUBLE) " +
        "* (CAST(stf.s AS DOUBLE) / bl.n) AS dev " +
        "FROM bl JOIN stf ON bl.n = stf.n AND bl.blk = stf.blk), " +
        "r0 AS (SELECT n, blk, s, ss, MAX(dev) - MIN(dev) AS r FROM wk GROUP BY n, blk, s, ss), " +
        "r1 AS (SELECT n, r, sqrt(CAST(ss AS DOUBLE) / n " +
        "- (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS sd FROM r0), " +
        "rs AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks, " +
        r4("avg(r / sd)") + " AS mean_rs FROM r1 WHERE sd > 0.0 GROUP BY n), " +
        "f AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(ln(n)) AS sx, SUM(ln(mean_rs)) AS sy, " +
        "SUM(ln(n) * ln(mean_rs)) AS sxy, SUM(ln(n) * ln(n)) AS sxx FROM rs), " +
        "ff AS (SELECT (sxy - sx * sy / k) / (sxx - sx * sx / k) AS hh FROM f) " +
        "SELECT n, n_blocks, mean_rs, " + r4("hh") + " AS hurst " +
        "FROM rs CROSS JOIN ff ORDER BY n"
    },
    // Kendall tau-b: all-pairs over the per-source profile (mean length
    // x max length), exact-integer concordance counts
    "q_kendall_tau" -> {
      "WITH p AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS x, MAX(n_chars) AS y " +
        "FROM documents GROUP BY source), " +
        "pr AS (SELECT a.x - b.x AS dx, CAST(a.y - b.y AS DOUBLE) AS dy " +
        "FROM p a JOIN p b ON a.source < b.source), " +
        "ag AS (SELECT COUNT(*) AS n0, " +
        "SUM(CASE WHEN dx <> 0.0 AND dy <> 0.0 AND ((dx > 0.0) = (dy > 0.0)) THEN 1 ELSE 0 END) AS conc, " +
        "SUM(CASE WHEN dx <> 0.0 AND dy <> 0.0 AND ((dx > 0.0) <> (dy > 0.0)) THEN 1 ELSE 0 END) AS disc, " +
        "SUM(CASE WHEN dx = 0.0 THEN 1 ELSE 0 END) AS tx, " +
        "SUM(CASE WHEN dy = 0.0 THEN 1 ELSE 0 END) AS ty FROM pr) " +
        "SELECT CAST(n0 AS BIGINT) AS n0, CAST(conc AS BIGINT) AS conc, CAST(disc AS BIGINT) AS disc, " +
        "CASE WHEN n0 - tx > 0 AND n0 - ty > 0 THEN " +
        r4("CAST(conc - disc AS DOUBLE) / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))") +
        " END AS tau_b FROM ag"
    },
    // Spearman rho: midranks (exact halves) over the same profile,
    // closed-form Pearson on the rank moments
    "q_spearman" -> {
      "WITH p AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS x, MAX(n_chars) AS y " +
        "FROM documents GROUP BY source), " +
        "rk AS (SELECT CAST(rank() OVER (ORDER BY x) AS DOUBLE) " +
        "+ CAST(COUNT(*) OVER (PARTITION BY x) - 1 AS DOUBLE) / 2.0 AS rx, " +
        "CAST(rank() OVER (ORDER BY y) AS DOUBLE) " +
        "+ CAST(COUNT(*) OVER (PARTITION BY y) - 1 AS DOUBLE) / 2.0 AS ry FROM p), " +
        "m AS (SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy, " +
        "SUM(rx * ry) AS sxy, SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy FROM rk) " +
        "SELECT CAST(n AS BIGINT) AS n, " +
        "CASE WHEN (sxx - sx * sx / CAST(n AS DOUBLE)) > 0.0 " +
        "AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0.0 THEN " +
        r4("(sxy - sx * sy / CAST(n AS DOUBLE)) " +
          "/ sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) * (syy - sy * sy / CAST(n AS DOUBLE)))") +
        " END AS rho FROM m"
    },
    // total chi2 / dof / Cramer's V from the q_chi2 crosstab CTEs
    "q_cramers_v" -> {
      "WITH ce AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2), " +
        "rt AS (SELECT lang, SUM(n) AS row_n FROM ce GROUP BY 1), " +
        "ct AS (SELECT source, SUM(n) AS col_n FROM ce GROUP BY 1), " +
        "dm AS (SELECT SUM(n) AS grand_n, COUNT(DISTINCT lang) AS r, COUNT(DISTINCT source) AS c FROM ce), " +
        "xx AS (SELECT max(grand_n) AS n_docs, max(r) AS n_rows, max(c) AS n_cols, " +
        "SUM((n - e) * (n - e) / e) AS chi2 FROM " +
        "(SELECT ce.n, CAST(row_n AS DOUBLE) * col_n / CAST(grand_n AS DOUBLE) AS e, grand_n, r, c " +
        "FROM ce JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN dm)) " +
        "SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_rows AS BIGINT) AS n_rows, " +
        "CAST(n_cols AS BIGINT) AS n_cols, " +
        "CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof, " +
        r4("chi2") + " AS chi2, " +
        r4("sqrt(chi2 / (CAST(n_docs AS DOUBLE) * CAST(least(n_rows - 1, n_cols - 1) AS DOUBLE)))") +
        " AS cramers_v FROM xx"
    },
    // Cohen's kappa: prediction-pair cells from the two lang-classifier
    // CTEs, exact-integer marginal products, three shared divisions
    "q_cohens_kappa" -> {
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "hc AS (SELECT doc_id, " +
        "CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS INTEGER) AS en_n, " +
        "CAST(len(list_filter(toks, x -> x = 'der' OR x = 'die' OR x = 'das' OR x = 'und')) AS INTEGER) AS de_n, " +
        "CAST(len(list_filter(toks, x -> x = 'el' OR x = 'los' OR x = 'las' OR x = 'y')) AS INTEGER) AS es_n, " +
        "CAST(len(list_filter(toks, x -> x = 'le' OR x = 'les' OR x = 'des' OR x = 'et')) AS INTEGER) AS fr_n " +
        "FROM t), " +
        "ha AS (SELECT doc_id, CASE WHEN en_n >= de_n AND en_n >= es_n AND en_n >= fr_n THEN 'en' " +
        "WHEN de_n >= es_n AND de_n >= fr_n THEN 'de' " +
        "WHEN es_n >= fr_n THEN 'es' ELSE 'fr' END AS pa FROM hc), " +
        "nd AS (SELECT doc_id, lang, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM documents), " +
        "g AS (SELECT doc_id, lang, unnest(list_transform(range(1, length(s) - 1), i -> s[i:i+2])) AS g " +
        "FROM nd WHERE length(s) >= 3), " +
        "dg AS (SELECT DISTINCT doc_id, g FROM g), " +
        "pc AS (SELECT lang AS plang, g, COUNT(*) AS c FROM g GROUP BY 1, 2), " +
        "pr AS (SELECT plang, g, 65 - CAST(row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) AS BIGINT) AS w " +
        "FROM pc QUALIFY row_number() OVER (PARTITION BY plang ORDER BY c DESC, g) <= 64), " +
        "sc AS (SELECT dg.doc_id, pr.plang, SUM(pr.w) AS score FROM dg JOIN pr USING (g) GROUP BY 1, 2), " +
        "best AS (SELECT doc_id, plang FROM (SELECT doc_id, plang, " +
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang) AS rn FROM sc) WHERE rn = 1), " +
        "ml AS (SELECT min(lang) AS min_lang FROM documents), " +
        "tb AS (SELECT d2.doc_id, coalesce(b.plang, ml.min_lang) AS pb " +
        "FROM documents d2 LEFT JOIN best b USING (doc_id) CROSS JOIN ml), " +
        "ce AS (SELECT pa, pb, COUNT(*) AS n FROM ha JOIN tb USING (doc_id) GROUP BY 1, 2), " +
        "ma AS (SELECT pa, SUM(n) AS na FROM ce GROUP BY 1), " +
        "mb AS (SELECT pb, SUM(n) AS nb FROM ce GROUP BY 1), " +
        "tt AS (SELECT SUM(n) AS n_docs, SUM(CASE WHEN pa = pb THEN n ELSE 0 END) AS agree FROM ce), " +
        "pe AS (SELECT COALESCE(SUM(na * nb), 0) AS exp_agree FROM ma JOIN mb ON ma.pa = mb.pb) " +
        "SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(agree AS BIGINT) AS agree, " +
        r4("CAST(agree AS DOUBLE) / n_docs") + " AS p_obs, " +
        r4("CAST(exp_agree AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)") + " AS p_exp, " +
        r4("(CAST(agree AS DOUBLE) / n_docs - CAST(exp_agree AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE)) " +
          "/ (1.0 - CAST(exp_agree AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE))") + " AS kappa " +
        "FROM tt CROSS JOIN pe"
    },
    // transitivity + avg local clustering from the q_triangles CTEs:
    // per-node triangle counts joined onto degrees, exact integers up
    // to one division per node
    "q_clustering_coeff" -> {
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM e e1 " +
        "JOIN e e2 ON e2.src = e1.dst " +
        "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst), " +
        "tri AS (SELECT part_id, COUNT(*) AS t FROM " +
        "(SELECT a AS part_id FROM t UNION ALL SELECT b AS part_id FROM t " +
        "UNION ALL SELECT c AS part_id FROM t) x GROUP BY part_id), " +
        "dg AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e) GROUP BY node), " +
        "j AS (SELECT degree, COALESCE(t, 0) AS t FROM dg " +
        "LEFT JOIN tri ON dg.node = tri.part_id WHERE degree >= 2), " +
        "a AS (SELECT COUNT(*) AS n_nodes, SUM(t) // 3 AS n_triangles, " +
        "SUM(degree * (degree - 1) // 2) AS n_wedges, " +
        "avg(2.0 * t / (CAST(degree AS DOUBLE) * (degree - 1))) AS cc FROM j) " +
        "SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_triangles AS BIGINT) AS n_triangles, " +
        "CAST(n_wedges AS BIGINT) AS n_wedges, " +
        r4("3.0 * n_triangles / CAST(n_wedges AS DOUBLE)") + " AS transitivity, " +
        r4("cc") + " AS avg_clustering FROM a"
    },
    // Newman modularity over the q_graph_lpa label CTEs: intra-edge and
    // degree-mass rollups per community, two divisions per community
    "q_modularity" -> {
      val roundsSql = (1 to 3).map { i =>
        s"v$i AS (SELECT u.dst AS node, l.label, COUNT(*) AS n " +
          s"FROM und u JOIN l${i - 1} l ON u.src = l.node GROUP BY 1, 2), " +
          s"l$i AS (SELECT node, label FROM (SELECT node, label, " +
          s"row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn FROM v$i) WHERE rn = 1)"
      }.mkString(", ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM und), " +
        roundsSql + ", " +
        "mm AS (SELECT COUNT(*) AS m FROM e), " +
        "ia AS (SELECT la.label AS label, COUNT(*) AS l_c FROM e " +
        "JOIN l3 la ON e.src = la.node JOIN l3 lb ON e.dst = lb.node " +
        "WHERE la.label = lb.label GROUP BY 1), " +
        "dc AS (SELECT l3.label, SUM(degree) AS d_c FROM " +
        "(SELECT src AS node, COUNT(*) AS degree FROM und GROUP BY src) dg " +
        "JOIN l3 ON dg.node = l3.node GROUP BY 1), " +
        "pc AS (SELECT COALESCE(l_c, 0) AS l_c, d_c FROM dc LEFT JOIN ia USING (label)), " +
        "qq AS (SELECT l_c, CAST(l_c AS DOUBLE) / m " +
        "- (CAST(d_c AS DOUBLE) / (m * 2)) * (CAST(d_c AS DOUBLE) / (m * 2)) AS q_c " +
        "FROM pc CROSS JOIN mm), " +
        "z AS (SELECT COUNT(*) AS n_communities, SUM(l_c) AS intra_edges, SUM(q_c) AS q FROM qq) " +
        "SELECT CAST(n_communities AS BIGINT) AS n_communities, " +
        "CAST(intra_edges AS BIGINT) AS intra_edges, CAST(m AS BIGINT) AS n_edges, " +
        r4("CAST(intra_edges AS DOUBLE) / m") + " AS intra_frac, " +
        r4("q") + " AS modularity FROM z CROSS JOIN mm"
    },
    // Mann-Kendall: round4-barrier daily sums BEFORE any sign, exact
    // integer S and tie-corrected variance, continuity-corrected z
    "q_mann_kendall" -> {
      val vs = "CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS DOUBLE) / 18.0"
      "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
        r4("SUM(value)") + " AS v FROM events GROUP BY 1, 2), " +
        "p AS (SELECT a.event_type AS event_type, " +
        "SUM(CAST(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END AS BIGINT)) AS s " +
        "FROM daily a JOIN daily b ON a.event_type = b.event_type AND a.d < b.d GROUP BY 1), " +
        "ti AS (SELECT event_type, SUM(t) AS n_days, " +
        "SUM(t * (t - 1) * (2 * t + 5)) AS tie_sum FROM " +
        "(SELECT event_type, v, COUNT(*) AS t FROM daily GROUP BY 1, 2) GROUP BY 1) " +
        "SELECT p.event_type, CAST(n_days AS BIGINT) AS n_days, CAST(s AS BIGINT) AS s_stat, " +
        r4(vs) + " AS var_s, " +
        r4(s"CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt($vs) " +
          s"WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt($vs) ELSE 0.0 END") +
        " AS z_stat FROM p JOIN ti USING (event_type) ORDER BY event_type"
    },
    // RANSAC: md5-chosen day pairs, shared slope/intercept/residual
    // order, inlier band = RansacBandSds * sd, ties to lowest round
    "q_ransac" -> {
      import graft.operators.EventOps.{RansacRounds, RansacBandSds}
      def h(salt: Int) =
        s"CAST(('0x' || substr(md5('ransac:' || CAST(r AS VARCHAR) || ':$salt'), 1, 6)) AS BIGINT)"
      "WITH daily AS (SELECT CAST(row_number() OVER (ORDER BY d) - 1 AS DOUBLE) AS x, y FROM " +
        "(SELECT CAST(ts AS DATE) AS d, " + r4("SUM(value)") + " AS y FROM events GROUP BY 1)), " +
        "st AS (SELECT COUNT(*) AS n, sqrt(SUM(y * y) / COUNT(*) " +
        "- (SUM(y) / COUNT(*)) * (SUM(y) / COUNT(*))) AS sd FROM daily), " +
        s"cand AS (SELECT r, sd, CAST(${h(1)} % n AS DOUBLE) AS xi, " +
        s"CAST((${h(1)} % n + 1 + ${h(2)} % (n - 1)) % n AS DOUBLE) AS xj " +
        s"FROM st CROSS JOIN (SELECT unnest(generate_series(1, $RansacRounds)) AS r)), " +
        "lines AS (SELECT r, sd, (dj.y - di.y) / (xj - xi) AS slope, " +
        "di.y - (dj.y - di.y) / (xj - xi) * xi AS icept " +
        "FROM cand JOIN daily di ON di.x = cand.xi JOIN daily dj ON dj.x = cand.xj), " +
        "scored AS (SELECT r, slope, icept, COUNT(*) AS n_inliers FROM lines CROSS JOIN daily " +
        s"WHERE abs(y - (icept + slope * x)) <= $RansacBandSds * sd " +
        "GROUP BY 1, 2, 3), " +
        "best AS (SELECT * FROM scored ORDER BY n_inliers DESC, r LIMIT 1) " +
        "SELECT CAST(r AS BIGINT) AS best_round, " +
        "(SELECT CAST(n AS BIGINT) FROM st) AS n_days, " +
        "CAST(n_inliers AS BIGINT) AS n_inliers, " +
        r4("slope") + " AS slope, " + r4("icept") + " AS intercept FROM best"
    },
    // Kruskal-Wallis: cents-quantized values (bounded rank domain),
    // midranks from one compressed cumulative, tie-corrected H
    "q_kruskal" -> {
      val nd = "CAST(n AS DOUBLE)"
      val hRaw = s"12.0 / ($nd * ($nd + 1.0)) * rr - 3.0 * ($nd + 1.0)"
      "WITH dd AS (SELECT event_type, CAST(round(CAST(value AS DECIMAL(20,8)), 2) AS DOUBLE) AS v FROM events), " +
        "bv AS (SELECT v, COUNT(*) AS n_v FROM dd GROUP BY v), " +
        "rk AS (SELECT v, COALESCE(SUM(n_v) OVER (ORDER BY v " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + (n_v + 1) / 2.0 AS midrank FROM bv), " +
        "gv AS (SELECT event_type, v, COUNT(*) AS n_gv FROM dd GROUP BY 1, 2), " +
        "g AS (SELECT event_type, SUM(n_gv) AS n_g, " +
        "SUM(CAST(n_gv AS DOUBLE) * midrank) AS rank_sum FROM gv JOIN rk USING (v) GROUP BY 1), " +
        "tt AS (SELECT SUM(n_v) AS n_total, SUM(n_v * n_v * n_v - n_v) AS tie_sum FROM bv), " +
        "ag AS (SELECT max(n_total) AS n, COUNT(*) AS k, " +
        "SUM(rank_sum * rank_sum / n_g) AS rr, max(tie_sum) AS ts FROM g CROSS JOIN tt) " +
        "SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k, " +
        r4(hRaw) + " AS h_stat, " +
        r4(s"($hRaw) / (1.0 - CAST(ts AS DOUBLE) / ($nd * $nd * $nd - $nd))") +
        " AS h_corrected FROM ag"
    },
    // log-log OLS per brand: one broadcast dim join + 6-moment agg
    "q_elasticity" -> {
      val nd = "CAST(n AS DOUBLE)"
      val covxy = s"sxy - sx * sy / $nd"
      val varx = s"sxx - sx * sx / $nd"
      val vary = s"syy - sy * sy / $nd"
      "WITH li AS (SELECT l_partkey, ln(l_extendedprice) AS x, ln(l_quantity) AS y FROM lineitem), " +
        "j AS (SELECT p_brand, x, y FROM li JOIN part ON l_partkey = p_partkey), " +
        "m AS (SELECT p_brand, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, " +
        "SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy FROM j GROUP BY p_brand) " +
        "SELECT p_brand, CAST(n AS BIGINT) AS n, " +
        r4(s"($covxy) / ($varx)") + " AS elasticity, " +
        r4(s"($covxy) * ($covxy) / (($varx) * ($vary))") + " AS r2 " +
        "FROM m ORDER BY p_brand"
    },
    // pseudo-domain = source × md5-60 bucket (the DomainOps stand-in for
    // a url host); shared CTE for the three domain-curation oracles
    "q_domain_caps" -> {
      s"WITH d AS ($domainDocsSql), " +
        "r AS (SELECT domain, doc_id, n_toks, " +
        "row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn FROM d), " +
        "a AS (SELECT domain, count(*) AS n_docs, " +
        s"CAST(sum(CASE WHEN rn <= ${operators.DomainOps.CapDocs} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        s"CAST(sum(CASE WHEN rn > ${operators.DomainOps.CapDocs} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, " +
        s"CAST(sum(CASE WHEN rn <= ${operators.DomainOps.CapDocs} THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens, " +
        s"min(CASE WHEN rn <= ${operators.DomainOps.CapDocs} THEN doc_id END) AS first_kept " +
        "FROM r GROUP BY domain) " +
        "SELECT domain, n_docs, n_kept, n_dropped, kept_tokens, first_kept, " +
        r4("CAST(n_kept AS DOUBLE) / n_docs") + " AS kept_share " +
        "FROM a ORDER BY domain"
    },
    "q_domain_mix" -> {
      s"WITH d AS ($domainDocsSql), " +
        "c AS (SELECT domain, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM d GROUP BY domain), " +
        "t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens, " +
        "sum(pow(CAST(n_tokens AS DOUBLE), 0.7)) AS tot_pow FROM c) " +
        "SELECT domain, n_docs, n_tokens, " +
        r4("n_tokens / tot_tokens") + " AS raw_share, " +
        r4("pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow") + " AS temp_share, " +
        r4("pow(CAST(n_tokens AS DOUBLE), 0.7) / tot_pow / (n_tokens / tot_tokens)") + " AS boost " +
        "FROM c CROSS JOIN t ORDER BY domain"
    },
    "q_domain_blocklist" -> {
      def pred(kind: String, pat: String) = kind match {
        case "exact"  => s"domain = '$pat'"
        case "prefix" => s"domain LIKE '$pat%'"
        case _        => s"domain LIKE '%$pat'"
      }
      val ruleSelects = operators.DomainOps.BlockRules.map {
        case (id, kind, pat) =>
          s"SELECT $id AS rule_id, '$kind:$pat' AS rule, " +
            "CAST(COALESCE(sum(n_docs), 0) AS BIGINT) AS n_docs, " +
            "CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) AS n_tokens " +
            s"FROM pd WHERE ${pred(kind, pat)}"
      }
      val keptPred = operators.DomainOps.BlockRules
        .map { case (_, k, p) => pred(k, p) }.mkString(" OR ")
      s"WITH d AS ($domainDocsSql), " +
        "pd AS (SELECT domain, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM d GROUP BY domain), " +
        "tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS tot_docs FROM pd), " +
        "u AS (" + ruleSelects.mkString(" UNION ALL ") +
        " UNION ALL SELECT 99, '__kept__', " +
        "CAST(COALESCE(sum(n_docs), 0) AS BIGINT), " +
        s"CAST(COALESCE(sum(n_tokens), 0) AS BIGINT) FROM pd WHERE NOT ($keptPred)) " +
        "SELECT rule_id, rule, n_docs, n_tokens, " +
        r4("n_docs / tot_docs") + " AS doc_share " +
        "FROM u CROSS JOIN tot ORDER BY rule_id"
    },
    // exact-integer chars-per-token score, quartile cuts via
    // quantile_cont (the q_quality_deciles recipe)
    "q_curriculum" ->
      ("WITH s AS (SELECT doc_id, " +
        "len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks, n_chars FROM documents), " +
        "sc AS (SELECT doc_id, n_toks, " +
        "CAST((n_chars * 1000) // greatest(n_toks, 1) AS BIGINT) AS score_mil FROM s), " +
        "cu AS (SELECT quantile_cont(score_mil, [0.25, 0.5, 0.75]) AS cuts FROM sc), " +
        "b AS (SELECT doc_id, n_toks, score_mil, " +
        "CAST(1 + len(list_filter(cuts, c -> " +
        "score_mil > CAST(round(CAST(c AS DECIMAL(20,8)), 4) AS DOUBLE))) AS INTEGER) AS stage " +
        "FROM sc CROSS JOIN cu) " +
        "SELECT stage, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens, " +
        "min(score_mil) AS score_lo, max(score_mil) AS score_hi, min(doc_id) AS min_doc " +
        "FROM b GROUP BY stage ORDER BY stage"),
    // per-source z vs the corpus, p via the A&S 7.1.26 erfc polynomial
    // (identical Horner order), BH step-up via the backward-max window
    "q_bh_fdr" ->
      ("WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s, CAST(sum(n_chars) AS BIGINT) AS s_s FROM documents GROUP BY source), " +
        "g AS (SELECT CAST(count(*) AS BIGINT) AS n_g, CAST(sum(n_chars) AS BIGINT) AS s_g, " +
        "CAST(sum(CAST(n_chars AS HUGEINT) * n_chars) AS DOUBLE) AS s2_g FROM documents), " +
        "z AS (SELECT source, n_s, (CAST(s_s AS DOUBLE) / n_s - CAST(s_g AS DOUBLE) / n_g) / " +
        "(sqrt((s2_g - CAST(s_g AS DOUBLE) * (CAST(s_g AS DOUBLE) / n_g)) / (n_g - 1)) / sqrt(CAST(n_s AS DOUBLE))) AS z " +
        "FROM per CROSS JOIN g), " +
        s"x AS (SELECT source, n_s, z, abs(z) * ${operators.InferenceOps.InvSqrt2} AS xx FROM z), " +
        "tt AS (SELECT source, n_s, z, xx, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM x), " +
        "pp AS (SELECT source, n_s, z, " +
        "((((1.061405429 * t + -1.453152027) * t + 1.421413741) * t + -0.284496736) * t + 0.254829592) * t * exp(-(xx * xx)) AS p FROM tt), " +
        "r AS (SELECT source, n_s, z, p, row_number() OVER (ORDER BY p, source) AS p_rank, count(*) OVER () AS m FROM pp), " +
        s"b AS (SELECT source, n_s, z, p, p_rank, CAST(p_rank AS DOUBLE) * ${operators.InferenceOps.FdrAlpha} / m AS bh_thresh FROM r), " +
        "f AS (SELECT source, n_s, z, p, p_rank, bh_thresh, " +
        "max(CASE WHEN p <= bh_thresh THEN 1 ELSE 0 END) OVER (ORDER BY p, source ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS rejected FROM b) " +
        "SELECT source, n_s AS n_docs, " + r4("z") + " AS z, " +
        r6("p") + " AS p, CAST(p_rank AS INTEGER) AS p_rank, " +
        r6("bh_thresh") + " AS bh_thresh, CAST(rejected AS INTEGER) AS rejected " +
        "FROM f ORDER BY p_rank"),
    "q_lognormal_fit" -> {
      "WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n, " +
        "avg(ln(CAST(n_chars AS DOUBLE))) AS mu, " +
        "sum(ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))) AS s2, " +
        "avg(CAST(n_chars AS DOUBLE)) AS actual_mean " +
        "FROM documents WHERE n_chars > 0 GROUP BY source), " +
        "v AS (SELECT source, n, mu, actual_mean, (s2 - n * mu * mu) / (n - 1) AS varln FROM m WHERE n > 1) " +
        "SELECT source, n AS n_docs, " + r4("mu") + " AS ln_mu, " +
        r4("CASE WHEN varln > 0 THEN sqrt(varln) END") + " AS ln_sigma, " +
        r4("CASE WHEN varln > 0 THEN exp(mu + varln / 2) END") + " AS implied_mean, " +
        r4("actual_mean") + " AS actual_mean, " +
        r4("CASE WHEN varln > 0 THEN exp(mu + varln / 2) / actual_mean END") + " AS fit_ratio " +
        "FROM v ORDER BY source"
    },
    "q_hoeffding_bound" -> {
      val eps = s"sqrt(${operators.InferenceOps.Ln2OverDelta} / (2.0 * CAST(n AS DOUBLE)))"
      s"WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(sum(CASE WHEN n_chars < ${operators.InferenceOps.ShortDocChars} THEN 1 ELSE 0 END) AS BIGINT) AS n_short " +
        "FROM documents GROUP BY source) " +
        "SELECT source, n AS n_docs, " +
        r4("CAST(n_short AS DOUBLE) / n") + " AS short_rate, " +
        r4(eps) + " AS eps95, " +
        r4(s"greatest(0.0, CAST(n_short AS DOUBLE) / n - $eps)") + " AS lo, " +
        r4(s"least(1.0, CAST(n_short AS DOUBLE) / n + $eps)") + " AS hi " +
        "FROM c ORDER BY source"
    },
    "q_ljung_box" -> {
      val h = operators.SeriesOps.LjungBoxLags
      val lags = (1 to h)
        .map(k => s"lag(d, $k) OVER (ORDER BY hr) AS d$k").mkString(", ")
      val sums = (1 to h).map(k => s"sum(d * d$k) AS n$k").mkString(", ")
      val terms = (1 to h)
        .map(k => s"(n$k / den) * (n$k / den) / (CAST(n AS DOUBLE) - $k)")
        .mkString(" + ")
      "WITH hh AS (SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1), " +
        "mu AS (SELECT avg(x) AS m, count(*) AS n FROM hh), " +
        "l0 AS (SELECT hr, x - m AS d, n FROM hh CROSS JOIN mu), " +
        s"l AS (SELECT d, n, $lags FROM l0), " +
        s"s AS (SELECT max(n) AS n, sum(d * d) AS den, $sums FROM l) " +
        s"SELECT CAST(n AS BIGINT) AS n_hours, $h AS h, " +
        r4(s"CAST(n AS DOUBLE) * (n + 2) * ($terms)") + " AS q_stat " +
        "FROM s WHERE den > 0"
    },
    "q_adf" -> {
      val sxx = "(sxx_raw - n * mx * mx)"
      val sxy = "(sxy_raw - n * mx * my)"
      val syy = "(syy_raw - n * my * my)"
      val beta = s"($sxy / $sxx)"
      val see = s"($syy - $beta * $sxy)"
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y FROM events GROUP BY 1), " +
        "p AS (SELECT y - lag(y, 1) OVER (ORDER BY day) AS dy, lag(y, 1) OVER (ORDER BY day) AS ylag FROM d), " +
        "f AS (SELECT dy, ylag FROM p WHERE ylag IS NOT NULL), " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(ylag) AS mx, avg(dy) AS my, " +
        "sum(ylag * ylag) AS sxx_raw, sum(ylag * dy) AS sxy_raw, sum(dy * dy) AS syy_raw FROM f) " +
        "SELECT CAST(n AS BIGINT) AS n_obs, " +
        r4(s"CASE WHEN $sxx > 0 THEN $beta END") + " AS beta, " +
        r4(s"CASE WHEN $sxx > 0 AND $see > 0 THEN $beta / sqrt($see / (n - 2) / $sxx) END") + " AS df_stat " +
        "FROM m WHERE n > 2"
    },
    "q_variance_ratio" -> {
      val q = operators.SeriesOps.VrPeriod
      val var1 = "((s1 - n1 * m1 * m1) / (n1 - 1))"
      val varq = "((sq - nq * mq * mq) / (nq - 1))"
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y FROM events GROUP BY 1), " +
        "w AS (SELECT y - lag(y, 1) OVER (ORDER BY day) AS d1, " +
        s"y - lag(y, $q) OVER (ORDER BY day) AS dq FROM d), " +
        "m AS (SELECT CAST(count(d1) AS DOUBLE) AS n1, avg(d1) AS m1, sum(d1 * d1) AS s1, " +
        "CAST(count(dq) AS DOUBLE) AS nq, avg(dq) AS mq, sum(dq * dq) AS sq FROM w) " +
        s"SELECT CAST(n1 AS BIGINT) AS n_diffs, $q AS q, " +
        r4(var1) + " AS var_1, " + r4(varq) + " AS var_q, " +
        r4(s"CASE WHEN $var1 > 0 THEN $varq / ($q * $var1) END") + " AS vr " +
        "FROM m WHERE n1 > 1 AND nq > 1"
    },
    // identical association order for the cos/sin argument:
    // (2.0 * pi()) * ((k * t) / n)
    "q_periodogram" -> {
      val ang = "(2.0 * pi()) * ((CAST(k AS DOUBLE) * t) / nd)"
      "WITH hh AS (SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1), " +
        "mu AS (SELECT avg(x) AS m, count(*) AS n FROM hh), " +
        "t0 AS (SELECT x - m AS d, CAST(row_number() OVER (ORDER BY hr) - 1 AS DOUBLE) AS t, " +
        "CAST(n AS DOUBLE) AS nd FROM hh CROSS JOIN mu), " +
        s"e AS (SELECT d, t, nd, unnest(generate_series(1, ${operators.SeriesOps.PeriodogramK})) AS k FROM t0), " +
        s"a AS (SELECT k, max(nd) AS nd, sum(d * cos($ang)) AS c, sum(d * sin($ang)) AS s FROM e GROUP BY k) " +
        "SELECT CAST(k AS INTEGER) AS k, " +
        r4("nd / k") + " AS period_hours, " +
        r4("(c * c + s * s) * 2.0 / nd") + " AS power " +
        "FROM a ORDER BY k"
    },
    "q_durbin_watson" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y FROM events GROUP BY 1), " +
        "i AS (SELECT day, y, CAST(row_number() OVER (ORDER BY day) - 1 AS DOUBLE) AS t FROM d), " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(t) AS mt, avg(y) AS my, " +
        "sum(t * t) AS stt, sum(t * y) AS sty FROM i), " +
        "mm AS (SELECT n, mt, my, (sty - n * mt * my) / (stt - n * mt * mt) AS b FROM m), " +
        "r AS (SELECT day, n, y - (my + b * (t - mt)) AS e FROM i CROSS JOIN mm), " +
        "w AS (SELECT n, e, e - lag(e, 1) OVER (ORDER BY day) AS de FROM r) " +
        "SELECT CAST(max(n) AS BIGINT) AS n_days, " +
        r4("sum(de * de) / sum(e * e)") + " AS dw " +
        "FROM w"
    },
    "q_spectral_entropy" -> {
      val ang = "(2.0 * pi()) * ((CAST(k AS DOUBLE) * t) / nd)"
      "WITH hh AS (SELECT date_trunc('hour', ts) AS hr, CAST(count(*) AS DOUBLE) AS x FROM events GROUP BY 1), " +
        "mu AS (SELECT avg(x) AS m, count(*) AS n FROM hh), " +
        "t0 AS (SELECT x - m AS d, CAST(row_number() OVER (ORDER BY hr) - 1 AS DOUBLE) AS t, " +
        "CAST(n AS DOUBLE) AS nd FROM hh CROSS JOIN mu), " +
        s"e AS (SELECT d, t, nd, unnest(generate_series(1, ${operators.SeriesOps.PeriodogramK})) AS k FROM t0), " +
        s"a AS (SELECT k, max(nd) AS nd, sum(d * cos($ang)) AS c, sum(d * sin($ang)) AS s FROM e GROUP BY k), " +
        "pg AS (SELECT k, " + r4("nd / k") + " AS period_hours, " +
        r4("(c * c + s * s) * 2.0 / nd") + " AS power FROM a), " +
        "tot AS (SELECT sum(power) AS tot, CAST(count(*) AS DOUBLE) AS kk FROM pg), " +
        "sh AS (SELECT k, power, kk, power / tot AS p FROM pg CROSS JOIN tot), " +
        "dom AS (SELECT k AS k_dominant, period_hours AS dominant_period_hours FROM pg ORDER BY power DESC, k LIMIT 1), " +
        "ent AS (SELECT max(kk) AS kk, sum(CASE WHEN p > 0 THEN -p * ln(p) ELSE 0.0 END) AS h, " +
        "sum(CASE WHEN p > 0 THEN ln(p) ELSE 0.0 END) AS sum_ln, avg(p) AS mean_p FROM sh) " +
        "SELECT CAST(kk AS INTEGER) AS n_harmonics, CAST(k_dominant AS INTEGER) AS k_dominant, " +
        "dominant_period_hours, " + r4("h") + " AS entropy, " +
        r4("h / ln(kk)") + " AS entropy_norm, " +
        r4("exp(sum_ln / kk) / mean_p") + " AS flatness " +
        "FROM ent CROSS JOIN dom"
    },
    "q_pettitt" ->
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS y FROM events GROUP BY 1), " +
        "rk AS (SELECT day, y, rank() OVER (ORDER BY y) AS r_min, " +
        "count(*) OVER (PARTITION BY y) AS ties, count(*) OVER () AS n FROM d), " +
        "r2 AS (SELECT day, n, r_min + CAST(ties - 1 AS DOUBLE) / 2.0 AS r, " +
        "row_number() OVER (ORDER BY day) AS t FROM rk), " +
        "c AS (SELECT day, n, t, sum(r) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r FROM r2), " +
        "u AS (SELECT day, n, 2.0 * cum_r - CAST(t AS DOUBLE) * (n + 1) AS u_t FROM c WHERE t < n) " +
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(abs(u_t) AS BIGINT) AS k_stat, day AS change_day, " +
        r6("least(1.0, 2.0 * exp(-6.0 * u_t * u_t / (pow(CAST(n AS DOUBLE), 3.0) + CAST(n AS DOUBLE) * n)))") + " AS p_approx " +
        "FROM u ORDER BY abs(u_t) DESC, day LIMIT 1"),
    "q_cross_corr" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x, round(sum(value), 4) AS y FROM events GROUP BY 1), " +
        "idx AS (SELECT day, x, y, row_number() OVER (ORDER BY day) AS t FROM d), " +
        "m AS (SELECT avg(x) AS mx, avg(y) AS my, sum(x * x) AS sxx, sum(x) AS sx, " +
        "sum(y * y) AS syy, sum(y) AS sy FROM idx), " +
        "mm AS (SELECT mx, my, sqrt((sxx - sx * mx) * (syy - sy * my)) AS dn FROM m), " +
        s"l AS (SELECT t AS ta, x, unnest(generate_series(-${operators.SeriesOps.CcfMaxLag}, ${operators.SeriesOps.CcfMaxLag})) AS lag FROM idx), " +
        "p AS (SELECT l.lag, l.x, b.y FROM l JOIN idx b ON b.t = l.ta + l.lag) " +
        "SELECT CAST(lag AS INTEGER) AS lag, CAST(count(*) AS BIGINT) AS n_pairs, " +
        r4("sum((x - mx) * (y - my)) / max(dn)") + " AS ccf " +
        "FROM p CROSS JOIN mm GROUP BY lag ORDER BY lag"
    },
    "q_xi_corr" -> {
      def dirSql(xc: String, yc: String, label: String) =
        s"SELECT '$label' AS direction, CAST(max(n) AS BIGINT) AS n_days, " +
          r4(s"CASE WHEN sum(l * (n - l)) > 0 THEN 1.0 - max(n) * sum(dr) / (2.0 * sum(l * (n - l))) END") + " AS xi " +
          "FROM (SELECT n, l, abs(r - lag(r, 1) OVER (ORDER BY xv, day)) AS dr " +
          s"FROM (SELECT day, $xc AS xv, " +
          s"CAST(count(*) OVER (ORDER BY $yc RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS r, " +
          s"CAST(count(*) OVER (ORDER BY $yc DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS l, " +
          "CAST(count(*) OVER () AS DOUBLE) AS n FROM d))"
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x, round(sum(value), 4) AS y FROM events GROUP BY 1) " +
        "SELECT * FROM (" + dirSql("x", "y", "volume_to_revenue") +
        " UNION ALL " + dirSql("y", "x", "revenue_to_volume") +
        ") ORDER BY direction"
    },
    "q_wilcoxon_signed" ->
      ("WITH d AS (SELECT CAST(ts AS DATE) AS day, " +
        "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks, " +
        "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views FROM events GROUP BY 1), " +
        "dd AS (SELECT clicks - views AS diff, abs(clicks - views) AS ad FROM d WHERE clicks - views <> 0), " +
        "rk AS (SELECT diff, ad, rank() OVER (ORDER BY ad) AS r_min, " +
        "count(*) OVER (PARTITION BY ad) AS t_sz, CAST(count(*) OVER () AS DOUBLE) AS n FROM dd), " +
        "r2 AS (SELECT diff, r_min + CAST(t_sz - 1 AS DOUBLE) / 2.0 AS r, n FROM rk), " +
        "ties AS (SELECT coalesce(CAST(sum(t_sz * t_sz * t_sz - t_sz) AS DOUBLE), 0.0) AS tie_corr " +
        "FROM (SELECT DISTINCT ad, t_sz FROM rk)), " +
        "ag AS (SELECT max(n) AS n, sum(CASE WHEN diff > 0 THEN r ELSE 0.0 END) AS w_plus FROM r2), " +
        "zz AS (SELECT n, w_plus, " +
        "sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0 - tie_corr / 48.0) AS sig, " +
        "(w_plus - n * (n + 1) / 4.0) / sqrt(n * (n + 1) * (2.0 * n + 1) / 24.0 - tie_corr / 48.0) AS z " +
        "FROM ag CROSS JOIN ties), " +
        s"x AS (SELECT n, w_plus, sig, z, abs(z) * ${operators.InferenceOps.InvSqrt2} AS xx FROM zz), " +
        "tt AS (SELECT n, w_plus, sig, z, xx, 1.0 / (1.0 + 0.3275911 * xx) AS t FROM x) " +
        "SELECT CAST(n AS BIGINT) AS n_pairs, " + r4("w_plus") + " AS w_plus, " +
        r4("CASE WHEN sig > 0 THEN z END") + " AS z, " +
        r6("CASE WHEN sig > 0 THEN ((((1.061405429 * t + -1.453152027) * t + 1.421413741) * t + -0.284496736) * t + 0.254829592) * t * exp(-(xx * xx)) END") + " AS p " +
        "FROM tt"),
    "q_theil_index" -> {
      val ratio = "(CAST(x AS DOUBLE) / (s / nd))"
      s"WITH d AS ($domainDocsSql), " +
        "per AS (SELECT domain, CAST(sum(n_toks) AS BIGINT) AS x FROM d GROUP BY domain HAVING sum(n_toks) > 0), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(x) AS DOUBLE) AS s, CAST(max(x) AS DOUBLE) AS xmax FROM per) " +
        "SELECT CAST(max(nd) AS BIGINT) AS n_domains, CAST(max(s) AS BIGINT) AS total_tokens, " +
        r4(s"sum($ratio * ln$ratio) / max(nd)") + " AS theil_t, " +
        r4(s"sum(-ln$ratio) / max(nd)") + " AS theil_l, " +
        r4("max(xmax) / max(s)") + " AS top_share " +
        "FROM per CROSS JOIN tot"
    },
    // Bartlett-kernel weights are driver-computed literals inlined into
    // both engines (Double.toString round-trips); the + chain is
    // left-associated identically
    "q_kpss" -> {
      val l = operators.SeriesOps.KpssLags
      val lagCols = (1 to l).map(k =>
        s"lag(e, $k) OVER (ORDER BY day) AS e$k").mkString(", ")
      val gSums = (1 to l).map(k => s"sum(e * e$k) AS g$k").mkString(", ")
      val lrvn = "g0" + (1 to l).map { j =>
        s" + ${2.0 * (1.0 - j.toDouble / (l + 1))} * g$j"
      }.mkString
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, sum(value) AS y FROM events GROUP BY 1), " +
        "mu AS (SELECT avg(y) AS m, CAST(count(*) AS DOUBLE) AS n FROM d), " +
        "e AS (SELECT day, y - m AS e, n FROM d CROSS JOIN mu), " +
        "s AS (SELECT day, e, n, sum(e) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s FROM e), " +
        s"lg AS (SELECT e, s, n, $lagCols FROM s), " +
        s"m2 AS (SELECT max(n) AS n, sum(s * s) AS ss, sum(e * e) AS g0, $gSums FROM lg), " +
        s"v AS (SELECT n, ss, g0, $lrvn AS lrvn FROM m2) " +
        s"SELECT CAST(n AS BIGINT) AS n_days, CAST($l AS INTEGER) AS lags, " +
        r4("(ss / (n * n)) / (lrvn / n)") + " AS kpss_stat, " +
        r4("lrvn / g0") + " AS lrv_ratio " +
        s"FROM v WHERE n > ${l + 1} AND g0 > 0 AND lrvn > 0"
    },
    "q_cochran_armitage" -> {
      val waves = operators.InferenceOps.TrendWaves
      "WITH f AS (SELECT user_id, event_type, ROW_NUMBER() OVER " +
        "(PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn FROM events), " +
        s"pu AS (SELECT user_id % $waves AS wave, " +
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS converted FROM f WHERE rn = 1), " +
        "bw AS (SELECT wave, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c FROM pu GROUP BY wave), " +
        "m AS (SELECT CAST(count(*) AS INTEGER) AS n_waves, CAST(sum(n) AS BIGINT) AS n_total, " +
        "CAST(sum(c) AS BIGINT) AS conv_total, " +
        "sum(CAST(wave AS DOUBLE) * CAST(c AS DOUBLE)) AS sc, " +
        "sum(CAST(wave AS DOUBLE) * CAST(n AS DOUBLE)) AS sn, " +
        "sum(CAST(wave AS DOUBLE) * CAST(wave AS DOUBLE) * CAST(n AS DOUBLE)) AS ssn FROM bw), " +
        "v AS (SELECT n_waves, n_total, conv_total, " +
        "CAST(conv_total AS DOUBLE) / CAST(n_total AS DOUBLE) AS p, sc, sn, ssn FROM m), " +
        "v2 AS (SELECT n_waves, n_total, conv_total, " +
        "sc - p * sn AS t, p * (1.0 - p) * (ssn - sn * sn / CAST(n_total AS DOUBLE)) AS var_t FROM v), " +
        "z0 AS (SELECT n_waves, n_total, conv_total, var_t, t / sqrt(var_t) AS z FROM v2), " +
        s"x AS (SELECT *, abs(z) * ${operators.InferenceOps.InvSqrt2} AS xx FROM z0), " +
        "tt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xx) AS t2 FROM x) " +
        "SELECT n_waves, n_total, conv_total, " +
        r4("CASE WHEN var_t > 0 THEN z END") + " AS trend_z, " +
        r4("CASE WHEN var_t > 0 THEN ((((1.061405429 * t2 + -1.453152027) * t2 + 1.421413741) * t2 + -0.284496736) * t2 + 0.254829592) * t2 * exp(-(xx * xx)) END") + " AS p_value " +
        "FROM tt WHERE conv_total > 0 AND conv_total < n_total"
    },
    // per-source Σv² is an exact integer in both engines (HUGEINT /
    // DECIMAL(38,0)) before ONE cast to double, so the variance float
    // chain starts bit-identical
    "q_bartlett" -> {
      val vi = "(s2 - CAST(s AS DOUBLE) * s / n_s) / (n_s - 1)"
      "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s, " +
        "CAST(sum(n_chars) AS BIGINT) AS s, " +
        "CAST(sum(n_chars * n_chars) AS DOUBLE) AS s2 FROM documents GROUP BY source), " +
        s"rows0 AS (SELECT n_s, $vi AS v_i FROM per WHERE n_s > 1 AND $vi > 0), " +
        "m AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_s) AS BIGINT) AS n_total, " +
        "sum(CAST(n_s - 1 AS DOUBLE) * ln(v_i)) AS sln, " +
        "sum(CAST(n_s - 1 AS DOUBLE) * v_i) AS sv, " +
        "sum(1.0 / CAST(n_s - 1 AS DOUBLE)) AS sinv FROM rows0), " +
        "v AS (SELECT k, n_total, sln, sv, sinv, CAST(n_total - k AS DOUBLE) AS df FROM m), " +
        "c AS (SELECT k, n_total, df, df * ln(sv / df) - sln AS chi2num, " +
        "1.0 + (sinv - 1.0 / df) / (3.0 * CAST(k - 1 AS DOUBLE)) AS corr FROM v) " +
        "SELECT k AS n_sources, n_total AS n_docs, " +
        r4("corr") + " AS correction_c, " +
        r4("chi2num / corr") + " AS chi2_stat " +
        "FROM c WHERE k > 1 AND n_total > k"
    },
    "q_mood_median" -> {
      "WITH byv AS (SELECT n_chars AS v, count(*) AS nv FROM documents GROUP BY 1), " +
        "tot0 AS (SELECT sum(nv) AS nn0 FROM byv), " +
        "cc AS (SELECT v, nv, nn0, sum(nv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM byv CROSS JOIN tot0), " +
        "med AS (SELECT v AS med FROM cc WHERE cum - nv < ceil(nn0 / 2.0) AND cum >= ceil(nn0 / 2.0)), " +
        "per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN n_chars > med THEN 1 ELSE 0 END) AS BIGINT) AS n_above, " +
        "CAST(max(med) AS BIGINT) AS med FROM documents CROSS JOIN med GROUP BY source), " +
        "tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn, CAST(sum(n_above) AS BIGINT) AS aa FROM per), " +
        "e AS (SELECT source, n_docs, n_above, med, " +
        "CAST(n_docs AS DOUBLE) * aa / nn AS e_a, " +
        "CAST(n_docs AS DOUBLE) * (nn - aa) / nn AS e_b FROM per CROSS JOIN tot) " +
        "SELECT source, n_docs, n_above, med, " +
        r4("CAST(n_above AS DOUBLE) / n_docs") + " AS share_above, " +
        r4("CASE WHEN e_a > 0 THEN e_a END") + " AS exp_above, " +
        r4("CASE WHEN e_a > 0 AND e_b > 0 THEN " +
          "(CAST(n_above AS DOUBLE) - e_a) * (CAST(n_above AS DOUBLE) - e_a) / e_a " +
          "+ (CAST(n_docs - n_above AS DOUBLE) - e_b) * (CAST(n_docs - n_above AS DOUBLE) - e_b) / e_b END") +
        " AS chi2_term " +
        "FROM e ORDER BY source"
    },
    "q_max_drawdown" -> {
      "WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v FROM events GROUP BY 1, 2), " +
        "c AS (SELECT event_type, day, sum(v) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d), " +
        "p AS (SELECT event_type, cum, max(cum) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak FROM c) " +
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_days, " +
        r4("max(peak)") + " AS peak, " +
        r4("max(peak - cum)") + " AS max_drawdown, " +
        r4("max(CASE WHEN peak > 0 THEN (peak - cum) / peak END)") + " AS max_drawdown_pct " +
        "FROM p GROUP BY event_type ORDER BY event_type"
    },
    // same unrolled Bellman-Ford CTE chain as q_bfs_hops; only the
    // final fold differs (per-node 1/d sum instead of per-seed counts)
    "q_harmonic_centrality" -> {
      import graft.operators.GraphOps.{BfsSeeds, BfsMaxHops, HarmonicTopN}
      val rounds = (1 to BfsMaxHops).map { t =>
        s"s$t AS MATERIALIZED (SELECT seed, node, MIN(dist) AS dist FROM " +
          s"(SELECT seed, node, dist FROM s${t - 1} " +
          s"UNION ALL SELECT s.seed, u.dst AS node, s.dist + 1 AS dist " +
          s"FROM s${t - 1} s JOIN und u ON u.src = s.node) x GROUP BY 1, 2)"
      }.mkString(", ")
      "WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem), " +
        "ok AS (SELECT okey FROM op GROUP BY okey HAVING COUNT(*) <= 64), " +
        "e AS MATERIALIZED (SELECT DISTINCT a.pkey AS src, b.pkey AS dst FROM op a " +
        "JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey " +
        "WHERE a.okey IN (SELECT okey FROM ok)), " +
        "und AS MATERIALIZED (SELECT src, dst FROM e " +
        "UNION ALL SELECT dst AS src, src AS dst FROM e), " +
        "d AS (SELECT node, COUNT(*) AS degree FROM " +
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u GROUP BY node), " +
        s"seeds AS MATERIALIZED (SELECT node FROM d ORDER BY degree DESC, node LIMIT $BfsSeeds), " +
        "s0 AS MATERIALIZED (SELECT node AS seed, node, 0 AS dist FROM seeds), " +
        rounds + " " +
        "SELECT node, CAST(COUNT(*) AS INTEGER) AS n_seeds_reached, " +
        r4("sum(1.0 / CAST(dist AS DOUBLE))") + " AS harmonic " +
        s"FROM s$BfsMaxHops WHERE dist > 0 GROUP BY node " +
        s"ORDER BY harmonic DESC, node LIMIT $HarmonicTopN"
    },
    // sign arithmetic on the x10^4 longs of the round-4ed daily totals
    // (the stl determinism trick): the turn count is integer-exact
    "q_turning_points" -> {
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, round(sum(value), 4) AS y FROM events GROUP BY 1), " +
        "d2 AS (SELECT day, CAST(round(y * 10000) AS BIGINT) AS yl FROM d), " +
        "l AS (SELECT yl - lag(yl, 1) OVER (ORDER BY day) AS d1, " +
        "lag(yl, 1) OVER (ORDER BY day) - lag(yl, 2) OVER (ORDER BY day) AS d0 FROM d2), " +
        "m AS (SELECT CAST(count(*) + 2 AS DOUBLE) AS n, " +
        "CAST(sum(CASE WHEN (d0 > 0 AND d1 < 0) OR (d0 < 0 AND d1 > 0) THEN 1 ELSE 0 END) AS BIGINT) AS t " +
        "FROM l WHERE d0 IS NOT NULL) " +
        "SELECT CAST(n AS BIGINT) AS n_days, t AS n_turns, " +
        r4("2.0 * (n - 2.0) / 3.0") + " AS expected_turns, " +
        r4("CASE WHEN (16.0 * n - 29.0) / 90.0 > 0 THEN " +
          "(CAST(t AS DOUBLE) - 2.0 * (n - 2.0) / 3.0) / sqrt((16.0 * n - 29.0) / 90.0) END") + " AS z " +
        "FROM m WHERE n > 3"
    },
    // variance ratios over the DECLARED stl components (all round-4ed
    // before this query's float chain starts)
    "q_seasonal_strength" -> {
      val vr = "((q_r - s_r * s_r / n) / (n - 1))"
      val vsr = "((q_sr - s_sr * s_sr / n) / (n - 1))"
      val vtr = "((q_tr - s_tr * s_tr / n) / (n - 1))"
      "WITH d AS (SELECT CAST(ts AS DATE) AS day, round(SUM(value), 4) AS total FROM events GROUP BY 1), " +
        "d2 AS (SELECT day, total, CAST(round(total * 10000) AS BIGINT) AS total_l FROM d), " +
        "t AS (SELECT day, total, total_l, COUNT(*) OVER w AS n_win, SUM(total_l) OVER w AS trend_l FROM d2 " +
        "WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "t2 AS (SELECT day, total, round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) AS trend, " +
        "total_l - CAST(round(round(CAST(trend_l AS DOUBLE) / 7.0 / 10000.0, 4) * 10000) AS BIGINT) AS detr_l " +
        "FROM t WHERE n_win = 7), " +
        "s AS (SELECT dayofweek(day) AS dow, " +
        "round(CAST(SUM(detr_l) AS DOUBLE) / COUNT(*) / 10000.0, 4) AS seasonal FROM t2 GROUP BY 1), " +
        "f AS (SELECT round(total - trend - seasonal, 4) AS r, " +
        "seasonal + round(total - trend - seasonal, 4) AS sr, " +
        "trend + round(total - trend - seasonal, 4) AS tr " +
        "FROM t2 JOIN s ON dayofweek(day) = dow), " +
        "m AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(r) AS s_r, sum(r * r) AS q_r, " +
        "sum(sr) AS s_sr, sum(sr * sr) AS q_sr, sum(tr) AS s_tr, sum(tr * tr) AS q_tr FROM f) " +
        "SELECT CAST(n AS BIGINT) AS n_days, " +
        r4(s"CASE WHEN $vsr > 0 THEN greatest(0.0, 1.0 - $vr / $vsr) END") + " AS seasonal_strength, " +
        r4(s"CASE WHEN $vtr > 0 THEN greatest(0.0, 1.0 - $vr / $vtr) END") + " AS trend_strength " +
        "FROM m WHERE n > 1"
    },
    // the friedman midrank grid with a fixed alphabetical score vector
    "q_page_trend" -> {
      val el = "(n * k * (k + 1) * (k + 1) / 4.0)"
      val vl = "(n * k * k * (k + 1) * (k + 1) * (k - 1) / 144.0)"
      "WITH grid AS (SELECT day, event_type FROM " +
        "(SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) " +
        "CROSS JOIN (SELECT DISTINCT event_type FROM events)), " +
        "dd AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS x FROM events GROUP BY 1, 2), " +
        "f AS (SELECT grid.day, grid.event_type, COALESCE(dd.x, 0) AS x " +
        "FROM grid LEFT JOIN dd ON grid.day = dd.day AND grid.event_type = dd.event_type), " +
        "rk AS (SELECT day, event_type, x, " +
        "rank() OVER (PARTITION BY day ORDER BY x) + (count(*) OVER (PARTITION BY day, x) - 1) / 2.0 AS r FROM f), " +
        "pars AS (SELECT CAST(count(DISTINCT day) AS DOUBLE) AS n, " +
        "CAST(count(DISTINCT event_type) AS DOUBLE) AS k FROM f), " +
        "scores AS (SELECT event_type, CAST(row_number() OVER (ORDER BY event_type) AS DOUBLE) AS s " +
        "FROM (SELECT DISTINCT event_type FROM events)), " +
        "rj AS (SELECT event_type, sum(r) AS rsum FROM rk GROUP BY 1), " +
        "l AS (SELECT sum(s * rsum) AS l FROM rj JOIN scores USING (event_type)) " +
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(k AS BIGINT) AS k_types, " +
        r4("l") + " AS page_l, " + r4(el) + " AS expected_l, " +
        r4(s"CASE WHEN $vl > 0 THEN (l - $el) / sqrt($vl) END") + " AS z " +
        "FROM l CROSS JOIN pars WHERE k > 1 AND n > 0"
    },
    // pooled + within-sample midranks on the compressed (variant,
    // per-user count) grid; lawstat statistic form
    "q_brunner_munzel" -> {
      val se = "sqrt(n1 * s21 + n2 * s22)"
      "WITH pu AS (SELECT user_id % 2 AS g, count(*) AS v FROM events GROUP BY user_id), " +
        "bgv AS (SELECT g, v, count(*) AS c FROM pu GROUP BY 1, 2), " +
        "bv AS (SELECT v, sum(c) AS n_v FROM bgv GROUP BY 1), " +
        "pool AS (SELECT v, CAST(coalesce(sum(n_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) " +
        "+ CAST(n_v + 1 AS DOUBLE) / 2.0 AS rp FROM bv), " +
        "cl AS (SELECT g, v, c, CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) " +
        "+ CAST(c + 1 AS DOUBLE) / 2.0 AS ri FROM bgv), " +
        "j AS (SELECT g, v, c, ri, rp FROM cl JOIN pool USING (v)), " +
        "pg AS (SELECT g, CAST(sum(c) AS DOUBLE) AS n_g, sum(CAST(c AS DOUBLE) * rp) AS rp_sum FROM j GROUP BY 1), " +
        "wm AS (SELECT j.g, c, rp - ri - rp_sum / n_g + (n_g + 1.0) / 2.0 AS dev, n_g, rp_sum / n_g AS m_g " +
        "FROM j JOIN pg ON j.g = pg.g), " +
        "sg AS (SELECT g, max(n_g) AS n_g, max(m_g) AS m_g, " +
        "sum(CAST(c AS DOUBLE) * dev * dev) / (max(n_g) - 1.0) AS s2 FROM wm GROUP BY g), " +
        "wide AS (SELECT sum(CASE WHEN g = 0 THEN n_g END) AS n1, sum(CASE WHEN g = 1 THEN n_g END) AS n2, " +
        "sum(CASE WHEN g = 0 THEN m_g END) AS m1, sum(CASE WHEN g = 1 THEN m_g END) AS m2, " +
        "sum(CASE WHEN g = 0 THEN s2 END) AS s21, sum(CASE WHEN g = 1 THEN s2 END) AS s22 FROM sg) " +
        "SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b, " +
        r4("(m2 - (n2 + 1.0) / 2.0) / n1") + " AS p_hat, " +
        r4(s"CASE WHEN $se > 0 THEN n1 * n2 * (m2 - m1) / (n1 + n2) / $se END") + " AS bm_stat " +
        "FROM wide WHERE n1 > 1 AND n2 > 1"
    },
    "q_hoover" -> {
      val share = "(CAST(x AS DOUBLE) / s)"
      s"WITH d AS ($domainDocsSql), " +
        "per AS (SELECT domain, CAST(sum(n_toks) AS BIGINT) AS x FROM d GROUP BY domain HAVING sum(n_toks) > 0), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS nd, CAST(sum(x) AS DOUBLE) AS s FROM per) " +
        "SELECT CAST(max(nd) AS BIGINT) AS n_domains, CAST(max(s) AS BIGINT) AS total_tokens, " +
        r4(s"sum(abs($share - 1.0 / nd)) / 2.0") + " AS hoover, " +
        s"CAST(sum(CASE WHEN $share > 1.0 / nd THEN 1 ELSE 0 END) AS BIGINT) AS n_donors, " +
        r4(s"CAST(sum(CASE WHEN $share > 1.0 / nd THEN 1 ELSE 0 END) AS DOUBLE) / max(nd)") + " AS donor_share " +
        "FROM per CROSS JOIN tot"
    },
    // the q_bm25 score chain cut to the top-10 feedback set, then
    // feedback-tf x corpus-idf expansion weights
    "q_rocchio_prf" -> {
      val stop = (operators.RetrievalOps.QueryTerms ++
        Seq("the", "a", "of", "and")).map(t => s"'$t'").mkString(", ")
      "WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents), " +
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len(toks)) AS avgdl, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df_join, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS DOUBLE) AS df_hash, " +
        "CAST(SUM(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan FROM t), " +
        "dd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, " +
        "CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf_join, " +
        "CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf_hash, " +
        "CAST(len(list_filter(toks, x -> x = 'scan')) AS DOUBLE) AS tf_scan FROM t), " +
        "sc AS (SELECT doc_id, CAST(round(CAST(" +
        "(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0) * (tf_join * (1.2 + 1.0))) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_hash + 0.5) / (df_hash + 0.5) + 1.0) * (tf_hash * (1.2 + 1.0))) / (tf_hash + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "+ (ln((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0) * (tf_scan * (1.2 + 1.0))) / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)) " +
        "AS DECIMAL(20,8)), 4) AS DOUBLE) AS bm25 " +
        "FROM dd CROSS JOIN s WHERE (tf_join + tf_hash + tf_scan) > 0.0), " +
        s"fb AS (SELECT doc_id FROM sc ORDER BY bm25 DESC, doc_id LIMIT ${operators.RetrievalOps.PrfFeedbackDocs}), " +
        "fbt AS (SELECT term, CAST(count(*) AS BIGINT) AS tf_fb FROM " +
        "(SELECT unnest(toks) AS term FROM t JOIN fb USING (doc_id)) " +
        s"WHERE len(term) >= 3 AND term NOT IN ($stop) GROUP BY term), " +
        "dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM " +
        "(SELECT DISTINCT doc_id, term FROM (SELECT doc_id, unnest(toks) AS term FROM t)) GROUP BY term), " +
        "tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM t) " +
        "SELECT term, tf_fb, df, " +
        r4("CAST(tf_fb AS DOUBLE) * ln(n_docs / df)") + " AS weight " +
        "FROM dft JOIN fbt USING (term) CROSS JOIN tot " +
        s"ORDER BY weight DESC, term LIMIT ${operators.RetrievalOps.PrfExpansionTerms}"
    },
  )

  /** Shared pseudo-domain CTE body for the three q_domain_* oracles —
    * the DuckDB twin of [[operators.DomainOps.domainKey]]'s two-tier
    * key: h = md5-60("dom:" ++ doc_id); h%100 < MegaSharePct →
    * source.big0, else source.<h mod SmallBuckets>. */
  private def domainDocsSql: String =
    "SELECT doc_id, source, n_chars, " +
      "len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks, " +
      "CASE WHEN h % 100 < " + operators.DomainOps.MegaSharePct + " " +
      "THEN source || '.big0' " +
      "ELSE source || '.' || CAST(h % " +
      s"${operators.DomainOps.SmallBuckets} AS VARCHAR) END AS domain " +
      "FROM (SELECT *, CAST(('0x' || substr(md5('dom:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM documents)"
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ext.{Clustering, Clusters, CorpusIngest, Dedup, IvfDrift, Layout, Lexical,
  Multimodal, PqDrift, PqResidual, Prep, Profiling, Retrieval, Similarity, StreamDecon,
  StreamDedup, StreamIvf, StreamLineDedup, StreamPq, Text}
import graft.queries.{Advanced, Parity, Relational}

/** The bench tier a query's wall is summed into ([[Bench]] reports one
  * total per tier).
  */
sealed trait Tier
object Tier {
  /** The scale-shaped operators a production pipeline runs. */
  case object Headline extends Tier
  /** Queries that measure approximation error against an exact answer
    * (brute-force scans by definition). They still run and report, but
    * apart, so the headline total tracks the production operators.
    */
  case object Calibration extends Tier
  /** Queries that build a fresh upsert-table fixture per run (seed
    * commits plus the mutation under test), so their walls measure
    * copy-on-write commit floors and small-file I/O, not read-query
    * latency. Reported apart, like calibration, so the fixture variance
    * band stays out of the headline.
    */
  case object WritePipeline extends Tier
}

/** One registered query: its builder over `(session, sfDir)`, the DuckDB
  * twin the oracle gate hash-compares its result against, and its tier.
  */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String,
    tier: Tier = Tier.Headline)

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY §2 (and the training-data
  * extensions) appears in [[registry]] as one named query with the
  * DuckDB twin the driver hash-compares against.
  */
object SparkEntry {
  import Tier._

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Parity.aggHourly(spark, "/root/testdata/sf0.001")

  /** One row per implemented operator from SURVEY.md §2. */
  val registry: Seq[QuerySpec] = Seq(
    // —— parity: CDC / enrichment / windowed aggs / sinks (SURVEY §2) ——
    QuerySpec("q_cdc_parse", Parity.cdcParse, Parity.cdcParseSql),
    QuerySpec("q_enrich_activity", Parity.enrichActivity, Parity.enrichActivitySql),
    QuerySpec("q_enrich_employee", Parity.enrichEmployee, Parity.enrichEmployeeSql),
    QuerySpec("q_agg_hourly", Parity.aggHourly, Parity.aggHourlySql),
    QuerySpec("q_agg_daily", Parity.aggDaily, Parity.aggDailySql),
    QuerySpec("q_join_activity_employee", Parity.joinActivityEmployee,
      Parity.joinActivityEmployeeSql),
    QuerySpec("q_union_sources", Parity.unionSources, Parity.unionSourcesSql),
    QuerySpec("q_upsert_precombine", Parity.upsertPrecombine, Parity.upsertPrecombineSql),
    QuerySpec("q_kafka_roundtrip", Parity.kafkaRoundtrip, Parity.kafkaRoundtripSql),
    // —— general relational capability ——
    QuerySpec("q1_pricing_summary", Relational.pricingSummary, Relational.pricingSummarySql),
    QuerySpec("q3_top_revenue", Relational.topRevenue, Relational.topRevenueSql),
    QuerySpec("q5_supplier_volume", Relational.supplierVolumeByNation,
      Relational.supplierVolumeByNationSql),
    QuerySpec("q_window_topn", Relational.topOrdersPerCustomer, Relational.topOrdersPerCustomerSql),
    QuerySpec("q_window_running", Relational.runningSupplierRevenue,
      Relational.runningSupplierRevenueSql),
    QuerySpec("q_semi_join", Relational.semiJoinCustomers, Relational.semiJoinCustomersSql),
    QuerySpec("q_anti_join", Relational.antiJoinCustomers, Relational.antiJoinCustomersSql),
    QuerySpec("q_rollup", Relational.rollupOrders, Relational.rollupOrdersSql),
    QuerySpec("q_above_avg", Relational.aboveNationAvgCustomers,
      Relational.aboveNationAvgCustomersSql),
    QuerySpec("q_intersect", Relational.intersectCustomers, Relational.intersectCustomersSql),
    QuerySpec("q_except", Relational.exceptCustomers, Relational.exceptCustomersSql),
    QuerySpec("q_sql_q6", Relational.sqlRevenueForecast, Relational.sqlRevenueForecastSql),
    QuerySpec("q_sort_merge_join", Relational.sortMergeJoin, Relational.sortMergeJoinSql),
    QuerySpec("q_cube", Relational.cubeOrders, Relational.cubeOrdersSql),
    QuerySpec("q_skew_salted", Advanced.saltedJoin, Advanced.saltedJoinSql),
    QuerySpec("q_scalar_funcs", Advanced.scalarFuncs, Advanced.scalarFuncsSql),
    QuerySpec("q_topk_native", Advanced.topKNative, Advanced.topKNativeSql),
    QuerySpec("q_asof_join", Advanced.asofJoin, Advanced.asofJoinSql),
    QuerySpec("q_percentiles", Advanced.percentiles, Advanced.percentilesSql),
    QuerySpec("q_pivot", Advanced.pivotEvents, Advanced.pivotEventsSql),
    QuerySpec("q_sessionize", Advanced.sessionize, Advanced.sessionizeSql),
    QuerySpec("q_event_anomaly", Advanced.eventAnomaly, Advanced.eventAnomalySql),
    QuerySpec("q_event_drift", Advanced.eventDrift, Advanced.eventDriftSql),
    QuerySpec("q_funnel", Advanced.funnel, Advanced.funnelSql),
    QuerySpec("q_cohort_retention", Advanced.cohortRetention, Advanced.cohortRetentionSql),
    QuerySpec("q_quantile_sketch", Advanced.quantileSketch, Advanced.quantileSketchSql),
    QuerySpec("q_session_window", Advanced.sessionWindow, Advanced.sessionWindowSql),
    QuerySpec("q_sliding_window", Advanced.slidingWindow, Advanced.slidingWindowSql),
    QuerySpec("q_scd2_intervals", Advanced.scd2Intervals, Advanced.scd2IntervalsSql),
    QuerySpec("q_interval_join", Advanced.intervalJoin, Advanced.intervalJoinSql),
    QuerySpec("q_grouping_sets", Relational.groupingSetsOrders, Relational.groupingSetsOrdersSql),
    QuerySpec("q_posexplode", Advanced.posexplodeTokens, Advanced.posexplodeTokensSql),
    QuerySpec("q_collection_funcs", Advanced.collectionFuncs, Advanced.collectionFuncsSql),
    QuerySpec("x_exact_distinct", Advanced.exactDistinct, Advanced.exactDistinctSql),
    QuerySpec("x_bounded_pages", Advanced.boundedPages, Advanced.boundedPagesSql),
    QuerySpec("x_token_freq", Advanced.tokenFreq, Advanced.tokenFreqSql),
    QuerySpec("x_token_freq_mg", Advanced.tokenFreqMg, Advanced.tokenFreqMgSql),
    QuerySpec("x_token_cms", Text.tokenCms, Text.tokenCmsSql),
    // —— training-data extensions: text analysis ——
    QuerySpec("x_token_stats", Text.tokenStats, Text.tokenStatsSql),
    QuerySpec("x_tfidf", Text.tfidf, Text.tfidfSql),
    QuerySpec("x_unigram_logprob", Text.unigramLogprob, Text.unigramLogprobSql),
    QuerySpec("x_bigram_logprob", Text.bigramLogprob, Text.bigramLogprobSql),
    QuerySpec("x_source_kl", Text.sourceKl, Text.sourceKlSql),
    QuerySpec("x_zipf_slope", Text.zipfSlope, Text.zipfSlopeSql),
    QuerySpec("x_length_outliers", Text.lengthOutliers, Text.lengthOutliersSql),
    QuerySpec("x_quality_model", Text.qualityModel, Text.qualityModelSql),
    QuerySpec("x_linreg_quality", Text.linregQuality, Text.linregQualitySql),
    QuerySpec("x_bm25", Retrieval.bm25, Retrieval.bm25Sql),
    QuerySpec("x_hard_negatives", Retrieval.hardNegatives, Retrieval.hardNegativesSql),
    QuerySpec("x_hybrid_rrf", Retrieval.hybridRrf, Retrieval.hybridRrfSql),
    QuerySpec("x_contrastive_pairs", Retrieval.contrastivePairs, Retrieval.contrastivePairsSql),
    QuerySpec("x_source_weights", Text.sourceWeights, Text.sourceWeightsSql),
    QuerySpec("x_apply_mix", Text.applyMix, Text.applyMixSql),
    QuerySpec("x_epoch_plan", Text.epochPlan, Text.epochPlanSql),
    QuerySpec("x_lang_id", Text.langId, Text.langIdSql),
    QuerySpec("x_quality", Text.quality, Text.qualitySql),
    QuerySpec("x_fingerprint", Text.fingerprint, Text.fingerprintSql),
    QuerySpec("x_pipeline_sample", Text.pipelineSample, Text.pipelineSampleSql),
    QuerySpec("x_stratified_sample", Text.stratifiedSample, Text.stratifiedSampleSql),
    QuerySpec("x_source_caps", Text.sourceCaps, Text.sourceCapsSql),
    QuerySpec("x_pack_sequences", Text.packSequences, Text.packSequencesSql),
    QuerySpec("x_token_count_bpe", Text.tokenCountBpe, Text.tokenCountBpeSql),
    QuerySpec("x_pack_sequences_bpe", Text.packSequencesBpe, Text.packSequencesBpeSql),
    QuerySpec("x_dsir_weights", Text.dsirWeights, Text.dsirWeightsSql),
    QuerySpec("x_collocations", Lexical.collocations, Lexical.collocationsSql),
    QuerySpec("x_ccnet_buckets", Lexical.ccnetBuckets, Lexical.ccnetBucketsSql),
    QuerySpec("x_mlm_masking", Lexical.mlmMasking, Lexical.mlmMaskingSql),
    QuerySpec("x_compression_ratio", Lexical.compressionRatio, Lexical.compressionRatioSql),
    QuerySpec("x_zorder_layout", Layout.zorderLayout, Layout.zorderLayoutSql),
    QuerySpec("x_chunk_docs", Prep.chunkDocs, Prep.chunkDocsSql),
    QuerySpec("x_fim_examples", Prep.fimExamples, Prep.fimExamplesSql),
    QuerySpec("x_shard_plan", Prep.shardPlan, Prep.shardPlanSql),
    QuerySpec("x_curriculum", Prep.curriculum, Prep.curriculumSql),
    QuerySpec("x_bpe_merges", Prep.bpeMerges, Prep.bpeMergesSql),
    QuerySpec("x_budget_select", Prep.budgetSelect, Prep.budgetSelectSql),
    QuerySpec("x_corpus_diff", Prep.corpusDiff, Prep.corpusDiffSql),
    QuerySpec("x_corpus_card", Prep.corpusCard, Prep.corpusCardSql),
    QuerySpec("x_redact", Text.redact, Text.redactSql),
    QuerySpec("x_decontaminate", Dedup.decontaminate, Dedup.decontaminateSql),
    QuerySpec("x_decontaminate_fuzzy", Dedup.decontaminateFuzzy, Dedup.decontaminateFuzzySql),
    QuerySpec("x_decontaminate_ngram_sweep", Dedup.decontaminateNgramSweep,
      Dedup.decontaminateNgramSweepSql),
    QuerySpec("x_filter_funnel", Prep.filterFunnel, Prep.filterFunnelSql),
    QuerySpec("x_funnel_by_source", Prep.funnelBySource, Prep.funnelBySourceSql),
    QuerySpec("x_dedup_token_rates", Clusters.dedupTokenRates, Clusters.dedupTokenRatesSql),
    QuerySpec("x_contamination_report", Dedup.contaminationReport, Dedup.contaminationReportSql),
    QuerySpec("x_bpe_fertility", Text.bpeFertility, Text.bpeFertilitySql),
    QuerySpec("x_novelty", Dedup.novelty, Dedup.noveltySql),
    QuerySpec("x_boilerplate_shingles", Dedup.boilerplateShingles, Dedup.boilerplateShinglesSql),
    QuerySpec("x_source_overlap", Dedup.sourceOverlap, Dedup.sourceOverlapSql),
    // —— training-data extensions: dedup ——
    QuerySpec("x_dedup_exact", Dedup.exact, Dedup.exactSql),
    QuerySpec("x_dedup_bow", Dedup.bagOfWords, Dedup.bagOfWordsSql),
    QuerySpec("x_dedup_ngram_jaccard", Dedup.ngramJaccard, Dedup.ngramJaccardSql),
    QuerySpec("x_dedup_containment", Dedup.containment, Dedup.containmentSql),
    QuerySpec("x_dedup_jaccard_prefix", Dedup.jaccardPrefix, Dedup.jaccardPrefixSql),
    QuerySpec("x_dedup_minhash_lsh", Dedup.minhashLsh, Dedup.minhashLshSql),
    QuerySpec("x_dedup_simhash", Dedup.simhashPairs, Dedup.simhashPairsSql),
    QuerySpec("x_dedup_clusters", Clusters.dedupClusters, Clusters.dedupClustersSql),
    QuerySpec("x_dedup_keep", Clusters.dedupKeep, Clusters.dedupKeepSql),
    QuerySpec("x_dedup_keep_quality", Clusters.dedupKeepQuality, Clusters.dedupKeepQualitySql),
    QuerySpec("x_split_leakage_safe", Clusters.leakageSafeSplit, Clusters.leakageSafeSplitSql),
    QuerySpec("x_dedup_rates", Clusters.dedupRates, Clusters.dedupRatesSql),
    QuerySpec("x_dedup_rates_combined", Clusters.dedupRatesCombined,
      Clusters.dedupRatesCombinedSql),
    QuerySpec("x_cluster_stats", Clusters.clusterStats, Clusters.clusterStatsSql),
    QuerySpec("x_minhash_error", Dedup.minhashError, Dedup.minhashErrorSql, Calibration),
    QuerySpec("x_threshold_sweep", Dedup.thresholdSweep, Dedup.thresholdSweepSql),
    QuerySpec("x_lsh_recall", Dedup.lshRecall, Dedup.lshRecallSql, Calibration),
    QuerySpec("x_dup_pagerank", Clusters.dupPageRank, Clusters.dupPageRankSql),
    QuerySpec("x_dup_spans", Dedup.dupSpans, Dedup.dupSpansSql),
    QuerySpec("x_dup_span_removal", Dedup.dupSpanRemoval, Dedup.dupSpanRemovalSql),
    QuerySpec("x_line_dedup", Dedup.lineDedup, Dedup.lineDedupSql),
    // the incremental maintainer must converge to the batch dedup: same
    // oracle as x_line_dedup, hash match = equivalence proof
    QuerySpec("x_line_dedup_incremental", StreamLineDedup.lineDedupIncremental,
      Dedup.lineDedupSql, WritePipeline),
    QuerySpec("q_upsert_table_read", Parity.upsertTableRead,
      Parity.upsertTableReadSql, WritePipeline),
    QuerySpec("q_upsert_widening", Parity.schemaWideningRead,
      Parity.schemaWideningReadSql, WritePipeline),
    QuerySpec("x_skipping_scan", Parity.dataSkippingScan,
      Parity.dataSkippingScanSql, WritePipeline),
    QuerySpec("x_rename_skipping", Parity.renameSkippingScan,
      Parity.renameSkippingScanSql, WritePipeline),
    QuerySpec("x_stale_rewrite_guard", Parity.staleRewriteGuard,
      Parity.staleRewriteGuardSql, WritePipeline),
    // default-conf stale rewrite: a round-16 write-pipeline fixture
    QuerySpec("x_stale_rewrite_default", Parity.staleRewriteDefault,
      Parity.staleRewriteDefaultSql, WritePipeline),
    QuerySpec("x_sort_layout", Parity.sortLayoutScan, Parity.sortLayoutScanSql, WritePipeline),
    QuerySpec("x_split_scan", Parity.splitScan, Parity.splitScanSql, WritePipeline),
    QuerySpec("x_bloom_point_lookup", Parity.bloomPointLookup,
      Parity.bloomPointLookupSql, WritePipeline),
    QuerySpec("x_stats_broadcast_join", Parity.statsBroadcastJoin,
      Parity.statsBroadcastJoinSql, WritePipeline),
    QuerySpec("x_mor_parity", Parity.morParity, Parity.morParitySql, WritePipeline),
    QuerySpec("x_stream_read_fold", Parity.streamReadFold, Parity.streamReadFoldSql, WritePipeline),
    QuerySpec("x_stream_static_enrich", Parity.streamStaticEnrich,
      Parity.streamStaticEnrichSql, WritePipeline),
    // stages its own event feed + two stateful operators over a synthetic
    // stream — fixture variance, not steady-state read latency
    QuerySpec("x_stream_stream_join", Parity.streamStreamJoin,
      Parity.streamStreamJoinSql, WritePipeline),
    QuerySpec("x_sessionize_tws", Advanced.sessionizeTwsGate,
      Advanced.sessionizeTwsSql, WritePipeline),
    // crash-replay sessionize→upsert loop; the crash must be invisible,
    // so it shares x_sessionize_tws's oracle
    QuerySpec("x_sessionize_tws_upsert", Advanced.sessionizeTwsUpsert,
      Advanced.sessionizeTwsSql, WritePipeline),
    QuerySpec("q_sql_delete", Parity.sqlDelete, Parity.sqlDeleteSql, WritePipeline),
    QuerySpec("q_sql_version_asof", Parity.sqlVersionAsOf, Parity.sqlVersionAsOfSql, WritePipeline),
    QuerySpec("q_sql_update", Parity.sqlUpdate, Parity.sqlUpdateSql, WritePipeline),
    QuerySpec("q_sql_merge", Parity.sqlMerge, Parity.sqlMergeSql, WritePipeline),
    QuerySpec("q_sql_overwrite", Parity.sqlOverwrite, Parity.sqlOverwriteSql, WritePipeline),
    QuerySpec("q_sql_rename", Parity.sqlRenameEvolution,
      Parity.sqlRenameEvolutionSql, WritePipeline),
    QuerySpec("q_sql_restore", Parity.sqlRestore, Parity.sqlRestoreSql, WritePipeline),
    QuerySpec("q_sql_ctas", Parity.sqlCtas, Parity.sqlCtasSql, WritePipeline),
    QuerySpec("q_agg_pushdown", Parity.aggPushdown, Parity.aggPushdownSql, WritePipeline),
    QuerySpec("q_change_feed", Parity.changeFeed, Parity.changeFeedSql, WritePipeline),
    QuerySpec("q_upsert_expectations", Parity.upsertExpectations,
      Parity.upsertExpectationsSql, WritePipeline),
    QuerySpec("x_dq_report", Profiling.dqReport, Profiling.dqReportSql),
    QuerySpec("x_key_skew", Profiling.eventKeySkew, Profiling.eventKeySkewSql),
    QuerySpec("x_decontaminate_clean", StreamDecon.cleanCorpus, StreamDecon.cleanCorpusSql),
    QuerySpec("x_dedup_incremental", StreamDedup.cleanCorpus, StreamDedup.cleanCorpusSql),
    QuerySpec("x_corpus_ingest", CorpusIngest.ingest, CorpusIngest.ingestSql),
    QuerySpec("x_repetition", Text.repetition, Text.repetitionSql),
    QuerySpec("x_kmeans", Clustering.kmeans, Clustering.kmeansSql),
    QuerySpec("x_knn_label_eval", Clustering.knnLabelEval, Clustering.knnLabelEvalSql),
    QuerySpec("x_label_outliers", Clustering.labelOutliers, Clustering.labelOutliersSql),
    QuerySpec("x_dedup_semantic", Clustering.dedupSemantic, Clustering.dedupSemanticSql),
    QuerySpec("x_quantize_int8", Similarity.quantizeInt8, Similarity.quantizeInt8Sql),
    // —— training-data extensions: similarity search ——
    QuerySpec("x_ann_bruteforce", Similarity.annBruteForce,
      Similarity.annBruteForceSql, Calibration),
    // exact UNCAPPED pair enumeration — the ground truth the banded LSH
    // twin (x_dedup_embedding_lsh) approximates; quadratic by definition,
    // like the brute-force scans (r16, after the sf1 scaling point
    // measured it at 11x on 10x data)
    QuerySpec("x_embedding_pairs", Similarity.embeddingPairs,
      Similarity.embeddingPairsSql, Calibration),
    QuerySpec("x_ann_lsh", Similarity.annLsh, Similarity.annLshSql),
    QuerySpec("x_ann_ivf", Similarity.annIvf, Similarity.annIvfSql),
    // the incremental maintainer must converge to the REBUILT index:
    // same oracle as x_ann_ivf, hash match = equivalence proof
    QuerySpec("x_ann_ivf_incremental", StreamIvf.annIvfIncremental,
      Similarity.annIvfSql, WritePipeline),
    QuerySpec("x_ann_ivf_incremental_mor", StreamIvf.annIvfIncrementalMor,
      Similarity.annIvfSql, WritePipeline),
    // drift retrain: two index-table builds per run (r16)
    QuerySpec("x_ann_ivf_drift", IvfDrift.annIvfDrift, IvfDrift.annIvfDriftSql, WritePipeline),
    // two codebook trainings + three commit-path writes per run, the
    // same fixture class as x_ann_ivf_drift (r19)
    QuerySpec("x_ann_pq_drift", PqDrift.annPqDrift, PqDrift.annPqDriftSql, WritePipeline),
    // streaming in-loop PQ healing: one training + two per-batch retrains
    // + five commit-path writes through a real streaming query (r20)
    QuerySpec("x_ann_pq_incremental", StreamPq.annPqIncremental,
      StreamPq.annPqIncrementalSql, WritePipeline),
    QuerySpec("x_ann_ivf_nprobe", Similarity.annIvfNprobe, Similarity.annIvfNprobeSql),
    // x_ann_recall / x_ann_probe_sweep / x_ann_pq_rounds measure
    // approximation error against the memoized exact baseline, so they
    // are calibration, not headline (reclassified per round-8 advice)
    QuerySpec("x_ann_probe_sweep", Similarity.annProbeSweep,
      Similarity.annProbeSweepSql, Calibration),
    QuerySpec("x_ann_int8", Similarity.annInt8, Similarity.annInt8Sql),
    QuerySpec("x_ann_ivf_int8", Similarity.annIvfInt8, Similarity.annIvfInt8Sql),
    // flat PQ's ADC grid is |codes| x |queries| — output-quadratic BY
    // FIXTURE (the bench query set scales with the corpus, like the
    // brute-force truth it is recalled against; stage-decomposed in
    // SCALING.md r18: every stage flat except the ADC scan, whose
    // per-row wall IMPROVES 16x). Its production scale path is
    // x_ann_ivf_pq (headline, 1.42x on 10x data), so under the
    // media-pair-view precedent the flat scan is a calibration/
    // ground-truth surface (r18 verdict #3)
    QuerySpec("x_ann_pq", Similarity.annPq, Similarity.annPqSql, Calibration),
    QuerySpec("x_ann_ivf_pq", Similarity.annIvfPq, Similarity.annIvfPqSql),
    QuerySpec("x_ann_ivf_pq_nprobe", Similarity.annIvfPqNprobe, Similarity.annIvfPqNprobeSql),
    QuerySpec("x_ann_ivf_pq_recall", Similarity.annIvfPqSweep, Similarity.annIvfPqSweepSql),
    // the residual-encoding sweep: coarse-quantizer training + two
    // codebook trainings per run — drift-gate fixture class (r20)
    QuerySpec("x_ann_ivf_pq_residual", PqResidual.annIvfPqResidual,
      PqResidual.annIvfPqResidualSql, WritePipeline),
    QuerySpec("x_ann_pq_rounds", Similarity.annPqRounds, Similarity.annPqRoundsSql, Calibration),
    QuerySpec("x_ann_recall", Similarity.annRecall, Similarity.annRecallSql, Calibration),
    QuerySpec("x_dedup_embedding", Similarity.dedupByEmbedding,
      Similarity.dedupByEmbeddingSql, Calibration),
    QuerySpec("x_dedup_embedding_lsh", Similarity.dedupByEmbeddingLsh,
      Similarity.dedupByEmbeddingLshSql),
    QuerySpec("x_decontaminate_semantic", Similarity.decontaminateSemantic,
      Similarity.decontaminateSemanticSql),
    // —— training-data extensions: multimodal ——
    QuerySpec("x_media_features", Multimodal.mediaFeatures, Multimodal.mediaFeaturesSql),
    QuerySpec("x_media_decode", Multimodal.mediaDecode, Multimodal.mediaDecodeSql),
    QuerySpec("x_audio_decode", Multimodal.audioDecode, Multimodal.audioDecodeSql),
    QuerySpec("x_video_framesample", Multimodal.videoFramesample, Multimodal.videoFramesampleSql),
    QuerySpec("x_media_frames", Multimodal.frameFeatures, Multimodal.frameFeaturesSql),
    QuerySpec("x_media_dedup_exact", Multimodal.mediaDedupExact, Multimodal.mediaDedupExactSql),
    // the media pair VIEW has data-quadratic OUTPUT (all verified pairs —
    // ~100x rows per 10x docs on a feature-concentrated corpus,
    // decomposed in PLANS.md r17); it is the diagnostic/ground-truth
    // surface whose production twin is the O(n) class-contracted
    // x_media_dedup_groups (headline, measured flat)
    QuerySpec("x_media_dedup_feature", Multimodal.mediaDedupFeature,
      Multimodal.mediaDedupFeatureSql, Calibration),
    QuerySpec("x_media_dedup_groups", Multimodal.mediaDedupGroups, Multimodal.mediaDedupGroupsSql),
    QuerySpec("x_media_resize", Multimodal.mediaResize, Multimodal.mediaResizeSql),
    QuerySpec("x_media_text_align", Multimodal.mediaTextAlign, Multimodal.mediaTextAlignSql),
  )

  // a repeated name would shadow one of the queries in the map views
  require(registry.map(_.name).distinct.size == registry.size,
    "duplicate query names: " + registry.groupBy(_.name).collect {
      case (n, specs) if specs.size > 1 => n }.toSeq.sorted.mkString(","))

  /** [[registry]] by name: each query's builder, and its oracle SQL. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(s => s.name -> s.build).toMap

  val oracleSql: Map[String, String] = registry.map(s => s.name -> s.oracleSql).toMap

  private val byName = registry.sortBy(_.name)

  /** The specs named by `only`, a comma-separated list (as
    * `SPARK_GRAFT_ONLY` carries it), or every spec when it is None;
    * sorted by name either way. An unknown or empty name fails: a typo
    * would otherwise drop its query and read as a smaller green run.
    */
  def select(only: Option[String]): Seq[QuerySpec] = only.fold(byName) { list =>
    val names = list.split(",", -1).map(_.trim).toSet
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, "unknown queries: " +
      unknown.toSeq.sorted.map(n => if (n.isEmpty) "\"\"" else n).mkString(","))
    byName.filter(s => names(s.name))
  }
}

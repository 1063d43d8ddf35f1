package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or a
  * north-star training-data-pipeline operator) expressed over the
  * driver fixture tables; `oracleSql` holds the DuckDB-equivalent SQL
  * for the hash-parity check. Column names and ordering are aligned
  * 1:1 between the two. Queries whose semantics aren't SQL-expressible
  * omit the oracle entry (rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> (Relational.pricingSummary(_, _)),
    "q02_distinct_types"    -> (Relational.distinctTypes(_, _)),
    "q03_summary_by_type"   -> (Relational.summaryByType(_, _)),
    "q04_recent_n"          -> (Relational.recentN(_, _)),
    "q05_region_revenue"    -> (Relational.regionRevenue(_, _)),
    "q06_priority_revenue"  -> (Relational.priorityMonthlyRevenue(_, _)),
    "q07_exists_big_orders" -> (Relational.customersWithBigOrders(_, _)),
    "q08_anti_no_orders"    -> (Relational.customersWithoutOrders(_, _)),
    "q09_pivot_daily"       -> (Relational.dailyTypePivot(_, _)),
    "q10_unpivot_lineitem"  -> (Relational.lineitemUnpivot(_, _)),
    "q11_window_topk"       -> (Relational.topOrdersPerCustomer(_, _)),
    "q12_running_sum"       -> (Relational.runningUserSpend(_, _)),
    "q13_rollup"            -> (Relational.pricingRollup(_, _)),
    "q14_approx_distinct"   -> (Relational.approxDistinct(_, _)),
    "q15_set_ops"           -> (Relational.customerSetOps(_, _)),
    "q16_asof_locf"         -> (Relational.asofLastError(_, _)),
    "q17_sessionize"        -> (Relational.sessionize(_, _)),
    "q18_cube"              -> (Relational.pricingCube(_, _)),
    "q19_percentiles"       -> (Relational.valuePercentiles(_, _)),
    "q20_bronze_scan"       -> (Weather.bronzeScan(_, _)),
    "q21_silver_clean"      -> (Weather.silverClean(_, _)),
    "q22_drop_reasons"      -> (Weather.dropReasons(_, _)),
    "q23_completeness"      -> (Weather.completeness(_, _)),
    "q24_site_metrics"      -> (Weather.siteMetrics(_, _)),
    "q25_site_means"        -> (Weather.siteMeans(_, _)),
    "q26_aligned_series"    -> (Weather.alignedSeries(_, _)),
    "q27_gold_features"     -> (Weather.goldFeaturesMart(_, _)),
    "q28_gold_kpis"         -> (Weather.goldKpis(_, _)),
    "q29_forecast_baseline" -> (Weather.forecastBaseline(_, _)),
    "q30_forecast_ml"       -> (Forecast.forecastMl(_, _)),
    "q31_upsert_merge"      -> (Weather.upsertMerge(_, _)),
    "q32_json_extract"      -> (Weather.jsonExtract(_, _)),
    "q33_ts_dual_parse"     -> (Weather.dualFormatTsParse(_, _)),
    "q34_streaming_clean"   -> (graft.streaming.StreamingClean.silverViaStreaming(_, _)),
    "q36_mart_kpis"         -> (Weather.martKpisHourly(_, _)),
    "q37_silver_audit"      -> (Weather.silverAudit(_, _)),
    "q38_pipeline_silver"   -> (Pipeline.pipelineSilver(_, _)),
    "q39_streaming_pipeline" -> (Pipeline.pipelineSilverStreaming(_, _)),
    "q35_nasa_roundtrip"    -> (graft.sources.NasaIngest.roundTrip(_, _)),
    "q40_token_stats"       -> (TextOps.tokenStats(_, _)),
    "q41_quality_score"     -> (TextOps.qualityScore(_, _)),
    "q42_lang_id"           -> (TextOps.langId(_, _)),
    "q43_fingerprint"       -> (TextOps.fingerprint(_, _)),
    "q44_exact_dedup"       -> (TextOps.exactDedup(_, _)),
    "q45_jaccard_pairs"     -> (Dedup.jaccardPairs(_, _)),
    "q46_minhash_sig"       -> (Dedup.minhashSignatures(_, _)),
    "q47_lsh_near_dups"     -> (Dedup.lshNearDupPairs(_, _)),
    "q48_simhash"           -> (Dedup.simhash(_, _)),
    "q49_cosine_topk"       -> (VectorOps.cosineTopK(_, _)),
    "q50_ivf_assign"        -> (VectorOps.ivfAssign(_, _)),
    "q51_embedding_dups"    -> (VectorOps.embeddingNearDups(_, _)),
    "q52_media_meta"        -> (Multimodal.mediaMeta(_, _)),
    "q53_regex_tokens"      -> (TextOps.regexTokens(_, _)),
    "q54_ivf_topk"          -> (VectorOps.ivfTopK(_, _)),
    "q55_winnow_fp"         -> (Dedup.winnowFingerprints(_, _)),
    "q56_simhash_pairs"     -> (Dedup.simhashPairs(_, _)),
    "q57_simhash_pairs64"   -> (Dedup.simhashPairs64(_, _)),
    "q58_split_assign"      -> (Corpus.splitAssign(_, _)),
    "q59_decontaminate"     -> (Corpus.decontaminate(_, _)),
    "q60_vocabulary"        -> (Corpus.vocabulary(_, _)),
    "q61_pii_redact"        -> (Corpus.piiRedact(_, _)),
    "q62_dedup_clusters"    -> (Dedup.dedupClusters(_, _)),
    "q63_filter_funnel"     -> (Corpus.filterFunnel(_, _)),
    "q64_shard_pack"        -> (Corpus.shardPack(_, _)),
    "q65_tfidf_topterms"    -> (Corpus.tfidfTopTerms(_, _)),
    "q66_frame_sample"      -> (Multimodal.frameSample(_, _)),
    "q67_media_resize"      -> (Multimodal.mediaResize(_, _)),
    "q68_streaming_dedup"   -> (graft.streaming.StreamingCorpus.dedupViaStreaming(_, _)),
    "q69_ivf_near_dups"     -> (VectorOps.ivfNearDupPairs(_, _)),
    "q70_dedup_keep_corpus" -> (Dedup.dedupKeepCorpus(_, _)),
    "q71_streaming_near_dups" -> (graft.streaming.StreamingCorpus.nearDupViaStreaming(_, _)),
    "q72_chunk_docs"        -> (Corpus.chunkDocs(_, _)),
    "q73_repetition_stats"  -> (Corpus.repetitionStats(_, _)),
    "q74_unigram_logprob"   -> (Corpus.unigramLogProb(_, _)),
    "q75_mixture_sample"    -> (Corpus.mixtureSample(_, _)),
    "q76_training_corpus"   -> (Corpus.trainingCorpus(_, _)),
    "q77_source_cap"        -> (Corpus.sourceCap(_, _)),
    "q78_label_coherence"   -> (VectorOps.labelCoherence(_, _)),
    "q79_seq_pack"          -> (Corpus.seqPack(_, _)),
    "q80_bpe_pairs"         -> (Corpus.bpePairStats(_, _)),
    "q81_length_quantiles"  -> (Corpus.lengthQuantiles(_, _)),
    "q82_repeated_spans"    -> (Dedup.repeatedSpans(_, _)),
    "q83_ppl_buckets"       -> (Corpus.perplexityBuckets(_, _)),
    "q84_snapshot_diff"     -> (Corpus.snapshotDiff(_, _)),
    "q85_containment_pairs" -> (Dedup.prefixContainmentPairs(_, _)),
    "q86_heavy_hitters"     -> (Corpus.heavyHitters(_, _)),
    "q87_streaming_hh"      -> (graft.streaming.StreamingCorpus.heavyHittersViaStreaming(_, _)),
    "q88_incremental_scores" -> (Corpus.incrementalScores(_, _)),
    "q89_incremental_dedup" -> (Dedup.incrementalKeepCorpus(_, _)),
    "q90_containment_lsh"   -> (Dedup.containmentOverLsh(_, _)),
    "q91_incremental_ivf"   -> (VectorOps.incrementalIvfAssign(_, _)),
    "q92_incremental_logprob" -> (Corpus.incrementalLogProb(_, _)),
    "q93_semantic_dedup"    -> (VectorOps.semanticKeepCorpus(_, _)),
    "q94_incremental_hh"    -> (Corpus.incrementalHeavyHitters(_, _)),
    "q95_incremental_semdedup" -> (VectorOps.incrementalSemanticKeep(_, _)),
    "q96_snapshot_drift"    -> (Corpus.snapshotDriftReport(_, _)),
    "q97_ann_recall"        -> (VectorOps.annRecall(_, _)),
    "q98_train_order"       -> (Corpus.trainOrder(_, _)),
    "q99_cross_source_dups" -> (Dedup.crossSourceDups(_, _)),
    "q100_epoch_plan"       -> (Corpus.epochPlan(_, _)),
    "q101_incremental_corpus" -> (Corpus.incrementalTrainingCorpus(_, _)),
    "q102_incremental_decontam" -> (Corpus.incrementalDecontam(_, _)),
    "q103_canonical_keep"   -> (Dedup.canonicalKeepCorpus(_, _)),
    "q104_incremental_canonical" -> (Dedup.incrementalCanonicalKeep(_, _)),
    "q105_centroid_drift"   -> (VectorOps.centroidDriftStats(_, _)),
    "q106_streaming_semdedup" -> (graft.streaming.StreamingCorpus.semanticDedupViaStreaming(_, _)),
    "q107_incremental_containment" -> (Dedup.incrementalContainment(_, _)),
    "q108_bigram_logprob"   -> (Corpus.bigramLogProb(_, _)),
    "q109_incremental_bigram" -> (Corpus.incrementalBigramLogProb(_, _)),
    "q110_gated_ivf"        -> (VectorOps.gatedIvfMaintenance(_, _)),
    "q111_incremental_xsource" -> (Dedup.incrementalCrossSourceDups(_, _)),
    "q112_incremental_tfidf" -> (Corpus.incrementalTfidf(_, _)),
    "q113_span_dedup"       -> (Dedup.spanDedup(_, _)),
    "q114_nb_classifier"    -> (Classify.nbClassify(_, _)),
    "q115_incremental_spandedup" -> (Dedup.incrementalSpanDedup(_, _)),
    "q116_incremental_nb"   -> (Classify.incrementalNbClassify(_, _)),
    "q117_vocab_drift"      -> (Corpus.vocabDrift(_, _)),
    "q118_gated_logprob"    -> (Corpus.gatedLogProb(_, _)),
    "q119_streaming_decontam" -> (graft.streaming.StreamingCorpus.decontamViaStreaming(_, _)),
    "q120_pq_codes"         -> (VectorOps.pqCodes(_, _)),
    "q121_pq_adc_topk"      -> (VectorOps.pqAdcTopK(_, _)),
    "q122_ivfpq_topk"       -> (VectorOps.ivfPqTopK(_, _)),
    "q123_streaming_nb"     -> (graft.streaming.StreamingCorpus.nbViaStreaming(_, _)),
    "q124_pq_recall"        -> (VectorOps.pqRecall(_, _)),
    "q125_incremental_pq"   -> (VectorOps.incrementalPqCodes(_, _)),
    "q126_bpe_train"        -> (Corpus.bpeTrain(_, _)),
    "q127_streaming_pq"     -> (graft.streaming.StreamingCorpus.pqViaStreaming(_, _)),
    "q128_crossmodal_dedup" -> (Multimodal.crossModalKeep(_, _)),
    "q129_bpe_encode"       -> (Corpus.bpeEncode(_, _)),
    "q130_prefix_jaccard"   -> (Dedup.prefixJaccardPairs(_, _)),
    "q131_prefix_containment" -> (Dedup.prefixContainmentPairs(_, _)),
    "q132_incremental_prefixjac" -> (Dedup.incrementalPrefixJaccard(_, _)),
    "q133_incremental_prefixcontain" -> (Dedup.incrementalPrefixContainment(_, _)),
    "q134_streaming_prefixjac" -> (graft.streaming.StreamingCorpus.prefixPairsViaStreaming(_, _)),
    "q135_streaming_prefixcontain" -> (graft.streaming.StreamingCorpus.prefixContainViaStreaming(_, _)),
    "q136_prefix_keep_corpus" -> (Dedup.prefixKeepCorpus(_, _)),
    "q137_prefix_canonical_keep" -> (Dedup.prefixCanonicalKeep(_, _)),
    "q138_streaming_driftgate" -> (graft.streaming.StreamingCorpus.gatedLogProbViaStreaming(_, _)),
    "q139_streaming_vecgate" -> (graft.streaming.StreamingCorpus.gatedIvfViaStreaming(_, _)),
    "q140_containment_keep" -> (Dedup.containmentKeepCorpus(_, _)),
    "q141_incremental_prefix_keep" -> (Dedup.incrementalPrefixKeep(_, _)),
    "q142_incremental_containment_keep" -> (Dedup.incrementalContainmentKeep(_, _)),
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary"   -> Relational.pricingSummarySql,
    "q02_distinct_types"    -> Relational.distinctTypesSql,
    "q03_summary_by_type"   -> Relational.summaryByTypeSql,
    "q04_recent_n"          -> Relational.recentNSql,
    "q05_region_revenue"    -> Relational.regionRevenueSql,
    "q06_priority_revenue"  -> Relational.priorityMonthlyRevenueSql,
    "q07_exists_big_orders" -> Relational.customersWithBigOrdersSql,
    "q08_anti_no_orders"    -> Relational.customersWithoutOrdersSql,
    "q09_pivot_daily"       -> Relational.dailyTypePivotSql,
    "q10_unpivot_lineitem"  -> Relational.lineitemUnpivotSql,
    "q11_window_topk"       -> Relational.topOrdersPerCustomerSql,
    "q12_running_sum"       -> Relational.runningUserSpendSql,
    "q13_rollup"            -> Relational.pricingRollupSql,
    // q14's oracle hashes the exact count + the within_5pct VERDICT
    // (oracle side emits literal TRUE): a hash match proves Spark's
    // HLL estimate landed inside the 5% bound without hashing the
    // engine-specific estimate itself.
    "q14_approx_distinct"   -> Relational.approxDistinctSql,
    "q15_set_ops"           -> Relational.customerSetOpsSql,
    "q16_asof_locf"         -> Relational.asofLastErrorSql,
    "q17_sessionize"        -> Relational.sessionizeSql,
    "q18_cube"              -> Relational.pricingCubeSql,
    "q19_percentiles"       -> Relational.valuePercentilesSql,
    "q20_bronze_scan"       -> Weather.bronzeScanSql,
    "q21_silver_clean"      -> Weather.silverCleanSql,
    "q22_drop_reasons"      -> Weather.dropReasonsSql,
    "q23_completeness"      -> Weather.completenessSql,
    "q24_site_metrics"      -> Weather.siteMetricsSql,
    "q25_site_means"        -> Weather.siteMeansSql,
    "q26_aligned_series"    -> Weather.alignedSeriesSql,
    "q27_gold_features"     -> Weather.goldFeaturesSql,
    "q28_gold_kpis"         -> Weather.goldKpisSql,
    "q29_forecast_baseline" -> Weather.forecastBaselineSql,
    "q31_upsert_merge"      -> Weather.upsertMergeSql,
    "q32_json_extract"      -> Weather.jsonExtractSql,
    "q33_ts_dual_parse"     -> Weather.dualFormatTsParseSql,
    // q34: oracle == the batch silver SQL — streaming/batch parity.
    "q34_streaming_clean"   -> Weather.silverCleanSql,
    "q36_mart_kpis"         -> Weather.martKpisHourlySql,
    "q37_silver_audit"      -> Weather.silverAuditSql,
    // q38: oracle == the batch silver SQL — the warehouse round-trip
    // (events → Bronze store → clean → Silver store) must publish
    // exactly what the in-memory kernel computes (q34's discipline).
    "q38_pipeline_silver"   -> Weather.silverCleanSql,
    // q39: the same oracle at STREAMING parity — three micro-batches
    // of Bronze upsert + touched-partition re-clean + mart refresh
    // must converge to the identical published Silver store.
    "q39_streaming_pipeline" -> Weather.silverCleanSql,
    // q35 intentionally has no oracle (payload build isn't SQL-mirrored).
    "q40_token_stats"       -> TextOps.tokenStatsSql,
    "q41_quality_score"     -> TextOps.qualityScoreSql,
    "q42_lang_id"           -> TextOps.langIdSql,
    "q43_fingerprint"       -> TextOps.fingerprintSql,
    "q44_exact_dedup"       -> TextOps.exactDedupSql,
    "q45_jaccard_pairs"     -> Dedup.jaccardPairsSql,
    "q46_minhash_sig"       -> Dedup.minhashSignaturesSql,
    "q47_lsh_near_dups"     -> Dedup.lshNearDupPairsSql,
    "q48_simhash"           -> Dedup.simhashSql,
    "q49_cosine_topk"       -> VectorOps.cosineTopKSql,
    "q50_ivf_assign"        -> VectorOps.ivfAssignSql,
    "q51_embedding_dups"    -> VectorOps.embeddingNearDupsSql,
    "q52_media_meta"        -> Multimodal.mediaMetaSql,
    "q53_regex_tokens"      -> TextOps.regexTokensSql,
    "q54_ivf_topk"          -> VectorOps.ivfTopKSql,
    "q55_winnow_fp"         -> Dedup.winnowFingerprintsSql,
    "q56_simhash_pairs"     -> Dedup.simhashPairsSql,
    "q57_simhash_pairs64"   -> Dedup.simhashPairs64Sql,
    "q58_split_assign"      -> Corpus.splitAssignSql,
    "q59_decontaminate"     -> Corpus.decontaminateSql,
    "q60_vocabulary"        -> Corpus.vocabularySql,
    "q61_pii_redact"        -> Corpus.piiRedactSql,
    "q62_dedup_clusters"    -> Dedup.dedupClustersSql,
    "q63_filter_funnel"     -> Corpus.filterFunnelSql,
    "q64_shard_pack"        -> Corpus.shardPackSql,
    "q65_tfidf_topterms"    -> Corpus.tfidfTopTermsSql,
    "q66_frame_sample"      -> Multimodal.frameSampleSql,
    "q67_media_resize"      -> Multimodal.mediaResizeSql,
    // q68's oracle IS the batch q44 SQL: the streaming stateful dedup
    // must converge to exactly what the one-shot groupBy computes
    // (min/count are order-independent), mirroring q34's discipline.
    "q68_streaming_dedup"   -> TextOps.exactDedupSql,
    "q69_ivf_near_dups"     -> VectorOps.ivfNearDupPairsSql,
    "q70_dedup_keep_corpus" -> Dedup.dedupKeepCorpusSql,
    // q71's oracle IS the batch q70 SQL: the streaming LSH state must
    // resolve to exactly the batch q47→q62→q70 keeper set (q68's
    // parity discipline lifted from exact dedup to near-dup).
    "q71_streaming_near_dups" -> Dedup.dedupKeepCorpusSql,
    "q72_chunk_docs"        -> Corpus.chunkDocsSql,
    "q73_repetition_stats"  -> Corpus.repetitionStatsSql,
    "q74_unigram_logprob"   -> Corpus.unigramLogProbSql,
    "q75_mixture_sample"    -> Corpus.mixtureSampleSql,
    // q76's oracle recomposes the full corpus-build chain from the
    // per-operator oracle SQLs — the composition itself is hash-gated.
    "q76_training_corpus"   -> Corpus.trainingCorpusSql,
    "q77_source_cap"        -> Corpus.sourceCapSql,
    "q78_label_coherence"   -> VectorOps.labelCoherenceSql,
    "q79_seq_pack"          -> Corpus.seqPackSql,
    "q80_bpe_pairs"         -> Corpus.bpePairStatsSql,
    // q81's sketch estimates are engine-specific; the oracle gates the
    // exact percentiles and the within-tolerance verdicts (q14 style)
    "q81_length_quantiles"  -> Corpus.lengthQuantilesSql,
    "q82_repeated_spans"    -> Dedup.repeatedSpansSql,
    "q83_ppl_buckets"       -> Corpus.perplexityBucketsSql,
    "q84_snapshot_diff"     -> Corpus.snapshotDiffSql,
    "q85_containment_pairs" -> Dedup.containmentPairsSql,
    // q86's CMS is built from an engine-neutral md5 hash, so unlike
    // q14's HLL the ESTIMATE itself is hash-gated, not just bounded.
    "q86_heavy_hitters"     -> Corpus.heavyHittersSql,
    // q87's oracle IS the batch q86 SQL: CMS counters merge by + and
    // the exact counts by min/count, so streaming state must drain to
    // byte-identical output (the q68/q71 parity discipline).
    "q87_streaming_hh"      -> Corpus.heavyHittersSql,
    // q88's oracle is the FULL RECOMPUTE over the new snapshot — a
    // hash match proves carry-forward ∪ rescore == rescore-everything.
    "q88_incremental_scores" -> Corpus.incrementalScoresSql,
    // q89's oracle is the full batch q47->q62->q70 chain over the new
    // snapshot: index maintenance (delta signing + deletions + bucket
    // recovery) must land on the same kept corpus as rebuilding.
    "q89_incremental_dedup" -> Dedup.incrementalKeepCorpusSql,
    // q90 = q85's containment kernel restricted to q47's LSH candidate
    // set — the oracle applies the identical restriction, so the gate
    // proves the bucketed path computes exact containment on exactly
    // the candidate pairs (recall vs all-pairs q85 is measured in
    // TextDedupSpec, not here).
    "q90_containment_lsh"   -> Dedup.containmentOverLshSql,
    // q91's oracle is the FULL q50 reassignment of the new snapshot
    // against the frozen sample-fitted codebook — a hash match proves
    // carry-forward ∪ reassign == reassign-everything (q88's proof
    // shape lifted to the vector index).
    "q91_incremental_ivf"   -> VectorOps.incrementalIvfAssignSql,
    // q92's oracle is the FULL q74 recompute over the new snapshot:
    // stored-tf maintenance + vocabulary deltas + rescore must equal
    // rescoring everything from raw text.
    "q92_incremental_logprob" -> Corpus.incrementalLogProbSql,
    // q93 = the q70 kept-corpus chain on the embedding side (SemDeDup):
    // the oracle builds its pairs from the SAME q69 IVF SQL, so the
    // gate proves pairs→components→keep end to end.
    "q93_semantic_dedup"    -> VectorOps.semanticKeepCorpusSql,
    // q94's oracle is the FULL q86 recompute over the new snapshot —
    // maintained vocabulary AND maintained CMS counters must land
    // byte-identically on rebuild-from-scratch, estimates included.
    "q94_incremental_hh"    -> Corpus.incrementalHeavyHittersSql,
    // q95's oracle is the FULL q93 chain over the new snapshot against
    // the frozen sample codebook: maintained cell index + carried
    // pairs must land on the identical kept corpus as rebuilding.
    "q95_incremental_semdedup" -> VectorOps.incrementalSemanticKeepSql,
    "q96_snapshot_drift"    -> Corpus.snapshotDriftReportSql,
    // q97's oracle reuses the q49 + q54 statements verbatim as derived
    // tables — the recall audit is only as trustworthy as its inputs.
    "q97_ann_recall"        -> VectorOps.annRecallSql,
    "q98_train_order"       -> Corpus.trainOrderSql,
    // q99's oracle is the q47 chain joined back to documents for the
    // endpoint sources.
    "q99_cross_source_dups" -> Dedup.crossSourceDupsSql,
    "q100_epoch_plan"       -> Corpus.epochPlanSql,
    // q101's oracle is the FULL q76 chain over the new snapshot —
    // the composed incremental build must land byte-identically on
    // rebuilding the whole corpus from scratch.
    "q101_incremental_corpus" -> Corpus.incrementalTrainingCorpusSql,
    // q102's oracle is the FULL q59 recompute over the new snapshot.
    "q102_incremental_decontam" -> Corpus.incrementalDecontamSql,
    "q103_canonical_keep"   -> Dedup.canonicalKeepCorpusSql,
    // q104's oracle is the FULL q103 chain over the new snapshot.
    "q104_incremental_canonical" -> Dedup.incrementalCanonicalKeepSql,
    // q105's oracle rebuilds BOTH codebooks (stored stable-sample fit
    // and fresh current-snapshot fit), both assignments, and the same
    // decimal-exact drift arithmetic — the verdict row hash-matches.
    "q105_centroid_drift"   -> VectorOps.centroidDriftStatsSql,
    // q106's oracle IS the batch q93 SQL: streaming cell state must
    // resolve to exactly the batch pairs→components→keep result (the
    // q71 parity discipline on the embedding side).
    "q106_streaming_semdedup" -> VectorOps.semanticKeepCorpusSql,
    // q107's oracle is the FULL q90 recompute over the new snapshot.
    "q107_incremental_containment" -> Dedup.incrementalContainmentSql,
    // q108: self-scoring means every bigram is in the model, so the
    // oracle's inner join equals the Spark plan's left-join+backoff.
    "q108_bigram_logprob"   -> Corpus.bigramLogProbSql,
    // q109's oracle is the FULL q108 recompute over the new snapshot.
    "q109_incremental_bigram" -> Corpus.incrementalBigramLogProbSql,
    // q110's oracle recomputes the q105 verdict in SQL and gates each
    // branch's SELECT on it — the refit-vs-carry DECISION is inside
    // the hash gate, not just the two branches.
    "q110_gated_ivf"        -> VectorOps.gatedIvfMaintenanceSql,
    // q111's oracle is the FULL q99 chain over the new snapshot.
    "q111_incremental_xsource" -> Dedup.incrementalCrossSourceDupsSql,
    // q112's oracle is the FULL q65 recompute over the new snapshot.
    "q112_incremental_tfidf" -> Corpus.incrementalTfidfSql,
    "q113_span_dedup"       -> Dedup.spanDedupSql,
    "q114_nb_classifier"    -> Classify.nbClassifySql,
    // q115's oracle is the FULL q113 recompute over the new snapshot.
    "q115_incremental_spandedup" -> Dedup.incrementalSpanDedupSql,
    // q116's oracle is the FULL q114 recompute over the new snapshot.
    "q116_incremental_nb"   -> Classify.incrementalNbClassifySql,
    "q117_vocab_drift"      -> Corpus.vocabDriftSql,
    // q118's oracle recomputes the q117 verdict in SQL and gates each
    // branch's SELECT on it — the refit-vs-carry DECISION is inside
    // the hash gate (the q110 discipline on the text side).
    "q118_gated_logprob"    -> Corpus.gatedLogProbSql,
    // q119's oracle is the BATCH q59 SQL: ingest-time decontamination
    // must land exactly where the one-shot broadcast semi-join does.
    "q119_streaming_decontam" -> Corpus.decontaminateSql,
    "q120_pq_codes"         -> VectorOps.pqCodesSql,
    "q121_pq_adc_topk"      -> VectorOps.pqAdcTopKSql,
    "q122_ivfpq_topk"       -> VectorOps.ivfPqTopKSql,
    // q123's oracle is the BATCH q114 SQL: ingest-time scoring against
    // the published model must land exactly where the one-shot fit+
    // score does.
    "q123_streaming_nb"     -> Classify.nbClassifySql,
    "q124_pq_recall"        -> VectorOps.pqRecallSql,
    // q125's oracle is the FULL PQ encode of the new snapshot against
    // the stable-sample-fit codebooks (the q91 fit/encode split).
    "q125_incremental_pq"   -> VectorOps.incrementalPqCodesSql,
    // q126's oracle unrolls the same merge rounds as plain CTEs with
    // the identical padded-double-space greedy replace.
    "q126_bpe_train"        -> Corpus.bpeTrainSql,
    // q127's oracle is the BATCH q120 encode joined to the BATCH q50
    // cell assignment: ingest-time encoding against the published
    // models must land exactly where the one-shot write paths do.
    "q127_streaming_pq"     -> VectorOps.streamingPqSql,
    "q128_crossmodal_dedup" -> Multimodal.crossModalKeepSql,
    // q129's oracle re-derives the q126 merge list via the same CTE
    // chain, then applies the identical nested replaces.
    "q129_bpe_encode"       -> Corpus.bpeEncodeSql,
    // q130's oracle is q45's quadratic statement verbatim: prefix
    // filtering is exact, so the hash match IS the exactness claim.
    "q130_prefix_jaccard"   -> Dedup.prefixJaccardPairsSql,
    "q131_prefix_containment" -> Dedup.containmentPairsSql,
    "q132_incremental_prefixjac" -> Dedup.incrementalPrefixJaccardSql,
    // q133's oracle is the FULL q131/q85 brute force over the new
    // snapshot — maintained == rebuild, bit for bit.
    "q133_incremental_prefixcontain" -> Dedup.incrementalPrefixContainmentSql,
    // q134's oracle is the batch q130 statement: the streamed exact
    // pair table must equal the one-shot prefix-filter verdicts.
    "q134_streaming_prefixjac" -> Dedup.prefixJaccardPairsSql,
    // q135: same drained state, containment measure — oracle = q131's
    // (q85's) batch statement.
    "q135_streaming_prefixcontain" -> Dedup.containmentPairsSql,
    // q136/q137's oracles are the q70/q103 keeper chains with q45's
    // brute-force pair statement at q130's threshold swapped in for
    // the LSH chain — exact pairs → exact components → exact keepers,
    // hash-gated end to end.
    "q136_prefix_keep_corpus" -> Dedup.prefixKeepCorpusSql,
    "q137_prefix_canonical_keep" -> Dedup.prefixCanonicalKeepSql,
    // q138's oracle is the batch q118 statement verbatim: the
    // ingest-time gate folds the same deltas, lands on the same
    // maintained vocabulary, and acts through the same single-homed
    // tail — so the drained output must hash-match the nightly run.
    "q138_streaming_driftgate" -> Corpus.gatedLogProbSql,
    // q139: the vector twin — per-batch state is an early-warning
    // signal only, but the drain reconstructs the current snapshot
    // and runs the exact batch q110 operator, so the oracle is the
    // q110 SQL verbatim.
    "q139_streaming_vecgate" -> VectorOps.gatedIvfMaintenanceSql,
    // q140's oracle is q85's brute-force CTEs re-tailed with the same
    // integer-size drop rule — the exactness claim composed through
    // the subset-doc removal act.
    "q140_containment_keep" -> Dedup.containmentKeepCorpusSql,
    // q141's oracle is the full q136 chain over the new snapshot:
    // maintained exact pairs -> CC -> keep == rebuild-everything.
    "q141_incremental_prefix_keep" -> Dedup.incrementalPrefixKeepSql,
    // q142's oracle is the full q140 statement over the new snapshot.
    "q142_incremental_containment_keep" -> Dedup.incrementalContainmentKeepSql,
    // q30 (r14, VERDICT r13 item 7): the closed-form normal-equation
    // fit IS bit-reproducible once the features are floor-quantized,
    // the sufficient statistics are exact BIGINT sums, and the 5×5
    // Cholesky is generated from the same index loops the Scala
    // solver runs — see the Forecast.forecastMlSql header.
    "q30_forecast_ml"       -> Forecast.forecastMlSql,
    // No oracle by design: q35 (payload construction isn't
    // SQL-mirrored).
  )
}

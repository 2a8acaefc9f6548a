package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.driver.CrawlDriver
import graft.operators.CrawlRound
import graft.queries._
import graft.sim.FixtureWeb

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers (a) the SQL-expressible analogs of the crawl-engine
  * operators from SURVEY §2 (dequeue top-1, politeness windows, anti-join
  * URL-seen, key derivation, broadcast dim join, partial aggregation,
  * tumbling windows) and (b) the training-data pipeline operators (exact/
  * MinHash-LSH/SimHash/Jaccard dedup, ANN cosine top-k brute-force + IVF,
  * language-ID, quality scoring, token stats, fingerprinting, multimodal
  * feature plumbing). The crawl loop itself (q00_crawl_trace, not
  * SQL-expressible — it is a fixpoint over rounds) is verified instead by
  * the simulator trace-replay suite in `sbt test`.
  */
object SparkEntry {

  /** Flagship: run the crawl engine end-to-end over the deterministic
    * fixture web and return the dequeue trace. */
  def entry(spark: SparkSession): DataFrame = crawlTrace(spark, TraceRounds)

  /** q00 fixture parameters — shared by the engine run and its simulator
    * oracle twin so the two traces stay comparable. */
  private val TraceT0     = 1000000L
  private val TraceRounds = 8

  private def crawlTrace(spark: SparkSession, rounds: Int): DataFrame = {
    val drv = new CrawlDriver(spark, FixtureWeb.config(),
      CrawlRound.webFromMap(spark, FixtureWeb.generate()), store = None)
    try {
      drv.seed(FixtureWeb.seeds, TraceT0 - 1)
      drv.run(TraceT0, rounds)
      drv.traceAll.toDF()
    } finally drv.close()
  }

  /** The q00 oracle: the same crawl replayed on the pure-Scala serial
    * simulator (graft.sim.Simulator — the reference-semantics twin the
    * trace-equality suite pins the engine against). Verify dumps this as
    * a parquet fixture and points the q00 oracle SQL at it, so the driver
    * gate hash-compares engine vs simulator like any other query
    * (VERDICT r3 ask #8 — closes the one `no_oracle` row). */
  def expectedCrawlTrace(): Seq[graft.core.TraceRow] = {
    val sim = new graft.sim.Simulator(FixtureWeb.generate(),
      FixtureWeb.config())
    FixtureWeb.seeds.foreach(u => sim.addUrl(u, TraceT0 - 1))
    sim.run(TraceT0, TraceRounds)
    sim.trace.toSeq
  }

  /** Placeholder Verify substitutes with its absolute output dir when it
    * writes oracle_sql.json (the q00 oracle reads the simulator-trace
    * parquet Verify just dumped there). */
  val OutDirPlaceholder = "{GRAFT_OUT}"

  /** One entry per implemented operator (SURVEY.md §2 + pipeline ops). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // crawl engine (non-SQL-expressible: rows-only check; full semantics
    // verified against the reference simulator in sbt test)
    "q00_crawl_trace"   -> ((s, _) => crawlTrace(s, 8)),
    // relational core (crawl-operator analogs)
    "q01_agg_pricing"   -> (RelationalOps.aggPricing _),
    "q02_top_per_user"  -> (RelationalOps.topPerUser _),
    "q03_revenue_nation"-> (RelationalOps.revenueByNation _),
    "q04_anti_join"     -> (RelationalOps.partsNeverOrdered _),
    "q05_min_event_gap" -> (RelationalOps.minEventGap _),
    "q06_url_keys"      -> (RelationalOps.urlKeys _),
    "q07_events_hourly" -> (RelationalOps.eventsHourly _),
    // dedup family
    "q10_dedup_exact"   -> (DedupOps.dedupExact _),
    "q11_minhash_sig"   -> (DedupOps.minhashSignatures _),
    "q12_lsh_pairs"     -> (DedupOps.lshCandidatePairs _),
    "q13_jaccard_pairs" -> (DedupOps.jaccardPairs _),
    "q14_simhash"       -> (DedupOps.simhash _),
    "q44_dup_spans"     -> (DedupOps.dupSpans _),
    "q15_incr_dedup"    -> (DedupOps.incrDedupExact _),
    "q16_incr_lsh"      -> (DedupOps.incrLshCandidates _),
    "q17_incr_verify"   -> (DedupOps.incrJaccardVerify _),
    "q18_components"    -> (DedupOps.neardupComponents _),
    "q19_corpus_final"  -> (CorpusOps.corpusFinal _),
    // text analysis
    "q20_lang_id"       -> (TextOps.langId _),
    "q21_quality"       -> (TextOps.qualityScore _),
    "q22_token_stats"   -> (TextOps.tokenStats _),
    "q23_fingerprint"   -> (TextOps.fingerprint _),
    "q24_bpe_tokens"    -> (TextOps.bpeTokens _),
    "q25_corpus_clean"  -> (TextOps.corpusClean _),
    "q26_repetition"    -> (TextOps.repetition _),
    "q42_token_df"      -> (TextOps.tokenDf _),
    "q43_rare_ratio"    -> (TextOps.rareTokenRatio _),
    // corpus curation (decontaminate / sample / shard)
    "q27_decontaminate" -> (CorpusOps.decontaminate _),
    // temporal joins / segmentation (fetch-log timeline analogs)
    "q49_pii_redact"    -> (TextOps.piiRedact _),
    "q50_len_quantiles" -> (CorpusOps.lenQuantiles _),
    "q51_bpe_merges"    -> (TextOps.bpeMerges _),
    "q52_bpe_encode"    -> (TextOps.bpeEncode _),
    "q53_pagerank"      -> (GraphOps.pageRank _),
    "q54_tfidf_terms"   -> (TextOps.tfidfTopTerms _),
    "q55_triangles"     -> (GraphOps.triangles _),
    "q56_hits"          -> (GraphOps.hits _),
    "q57_host_graph"    -> (GraphOps.hostGraph _),
    "q58_mix_rebalance" -> (CorpusOps.mixtureRebalance _),
    "q59_source_quota"  -> (CorpusOps.sourceQuota _),
    "q60_kmv_distinct"  -> (CorpusOps.kmvDistinct _),
    "q61_cms_heavy"     -> (TextOps.cmsHeavyHitters _),
    "q62_seq_packing"   -> (CorpusOps.seqPacking _),
    "q63_bigram_lift"   -> (TextOps.bigramLift _),
    "q64_sem_dedup"     -> (AnnOps.semanticDedup _),
    "q65_lm_surprise"   -> (TextOps.lmSurprise _),
    "q66_dsir_weights"  -> (CorpusOps.dsirWeights _),
    "q67_exact_scrub"   -> (DedupOps.exactScrub _),
    "q68_fuzzy_decon"   -> (CorpusOps.fuzzyDecontaminate _),
    "q69_budget_select" -> (CorpusOps.budgetSelect _),
    "q70_bm25"          -> (SearchOps.bm25TopK _),
    "q71_rand_proj"     -> (AnnOps.randProj _),
    "q72_minhash_audit" -> (DedupOps.minhashAudit _),
    "q73_postings"      -> (SearchOps.postings _),
    "q74_doc_chunks"    -> (CorpusOps.docChunks _),
    "q75_dim_stats"     -> (AnnOps.dimStats _),
    "q76_incr_vocab"    -> (TextOps.incrVocab _),
    "q77_source_kl"     -> (CorpusOps.sourceKl _),
    "q78_copy_matrix"   -> (DedupOps.copyMatrix _),
    "q79_bucket_balance"-> (CorpusOps.bucketBalance _),
    "q80_winnowing"     -> (DedupOps.winnowing _),
    "q81_signal_agree"  -> (TextOps.signalAgreement _),
    "q82_split_leakage" -> (CorpusOps.splitLeakage _),
    "q83_span_mask"     -> (TextOps.spanMask _),
    "q84_max_spans"     -> (DedupOps.dupMaxSpans _),
    "q85_long_span_scrub" -> (DedupOps.longSpanScrub _),
    "q46_asof_join"     -> (TemporalOps.asofLastClick _),
    "q47_range_join"    -> (TemporalOps.rangeJoinCoverage _),
    "q48_sessionize"    -> (TemporalOps.sessionize _),
    "q28_strat_sample"  -> (CorpusOps.stratifiedSample _),
    "q29_shuffle_shards"-> (CorpusOps.shuffleShards _),
    // similarity search
    "q30_ann_brute"     -> (AnnOps.bruteForceTopK _),
    "q31_ann_ivf"       -> (AnnOps.ivfTopK _),
    "q32_embed_norms"   -> (AnnOps.norms _),
    "q33_embed_neardup" -> (AnnOps.embedNearDup _),
    "q34_ann_cells"     -> (AnnOps.cells _),
    "q35_incr_embed"    -> (AnnOps.incrEmbedCandidates _),
    "q36_ann_multiprobe"-> (AnnOps.ivfMultiprobeTopK _),
    "q37_kmeans_cells"  -> (AnnOps.kmeansCells _),
    "q38_kmeans_topk"   -> (AnnOps.kmeansTopK _),
    "q39_pq_codes"      -> (AnnOps.pqCodes _),
    "q41_pq_adc"        -> (AnnOps.pqAdcTopK _),
    // multimodal plumbing
    "q40_mm_features"   -> (MultimodalOps.mmFeatures _),
    "q45_mm_sniff"      -> (MultimodalOps.mmSniff _),
  )

  /** DuckDB-runnable oracle SQL, column-name-aligned with `queries`. */
  def oracleSql: Map[String, String] = Map(
    // crawl fixpoint: the oracle is the serial simulator's trace, dumped
    // by Verify as a parquet fixture next to the results ({GRAFT_OUT} is
    // substituted with the absolute output dir at dump time)
    "q00_crawl_trace"   ->
      ("SELECT seq, round, url, state_at_dequeue " +
       s"FROM read_parquet('$OutDirPlaceholder/q00_expected.parquet')"),
    "q01_agg_pricing"   -> RelationalOps.aggPricingSql,
    "q02_top_per_user"  -> RelationalOps.topPerUserSql,
    "q03_revenue_nation"-> RelationalOps.revenueByNationSql,
    "q04_anti_join"     -> RelationalOps.partsNeverOrderedSql,
    "q05_min_event_gap" -> RelationalOps.minEventGapSql,
    "q06_url_keys"      -> RelationalOps.urlKeysSql,
    "q07_events_hourly" -> RelationalOps.eventsHourlySql,
    "q10_dedup_exact"   -> DedupOps.dedupExactSql,
    "q11_minhash_sig"   -> DedupOps.minhashSignaturesSql,
    "q12_lsh_pairs"     -> DedupOps.lshCandidatePairsSql,
    "q13_jaccard_pairs" -> DedupOps.jaccardPairsSql,
    "q14_simhash"       -> DedupOps.simhashSql,
    "q44_dup_spans"     -> DedupOps.dupSpansSql,
    "q15_incr_dedup"    -> DedupOps.incrDedupExactSql,
    "q16_incr_lsh"      -> DedupOps.incrLshCandidatesSql,
    "q17_incr_verify"   -> DedupOps.incrJaccardVerifySql,
    "q18_components"    -> DedupOps.neardupComponentsSql,
    "q19_corpus_final"  -> CorpusOps.corpusFinalSql,
    "q20_lang_id"       -> TextOps.langIdSql,
    "q21_quality"       -> TextOps.qualityScoreSql,
    "q22_token_stats"   -> TextOps.tokenStatsSql,
    "q23_fingerprint"   -> TextOps.fingerprintSql,
    "q24_bpe_tokens"    -> TextOps.bpeTokensSql,
    "q25_corpus_clean"  -> TextOps.corpusCleanSql,
    "q26_repetition"    -> TextOps.repetitionSql,
    "q42_token_df"      -> TextOps.tokenDfSql,
    "q43_rare_ratio"    -> TextOps.rareTokenRatioSql,
    "q27_decontaminate" -> CorpusOps.decontaminateSql,
    "q28_strat_sample"  -> CorpusOps.stratifiedSampleSql,
    "q29_shuffle_shards"-> CorpusOps.shuffleShardsSql,
    "q30_ann_brute"     -> AnnOps.bruteForceTopKSql,
    "q31_ann_ivf"       -> AnnOps.ivfTopKSql,
    "q32_embed_norms"   -> AnnOps.normsSql,
    "q33_embed_neardup" -> AnnOps.embedNearDupSql,
    "q34_ann_cells"     -> AnnOps.cellsSql,
    "q35_incr_embed"    -> AnnOps.incrEmbedCandidatesSql,
    "q36_ann_multiprobe"-> AnnOps.ivfMultiprobeTopKSql,
    "q37_kmeans_cells"  -> AnnOps.kmeansCellsSql,
    "q38_kmeans_topk"   -> AnnOps.kmeansTopKSql,
    "q39_pq_codes"      -> AnnOps.pqCodesSql,
    "q41_pq_adc"        -> AnnOps.pqAdcTopKSql,
    "q40_mm_features"   -> MultimodalOps.mmFeaturesSql,
    "q45_mm_sniff"      -> MultimodalOps.mmSniffSql,
    "q49_pii_redact"    -> TextOps.piiRedactSql,
    "q50_len_quantiles" -> CorpusOps.lenQuantilesSql,
    "q51_bpe_merges"    -> TextOps.bpeMergesSql,
    "q52_bpe_encode"    -> TextOps.bpeEncodeSql,
    "q53_pagerank"      -> GraphOps.pageRankSql,
    "q54_tfidf_terms"   -> TextOps.tfidfTopTermsSql,
    "q55_triangles"     -> GraphOps.trianglesSql,
    "q56_hits"          -> GraphOps.hitsSql,
    "q57_host_graph"    -> GraphOps.hostGraphSql,
    "q58_mix_rebalance" -> CorpusOps.mixtureRebalanceSql,
    "q59_source_quota"  -> CorpusOps.sourceQuotaSql,
    "q60_kmv_distinct"  -> CorpusOps.kmvDistinctSql,
    "q61_cms_heavy"     -> TextOps.cmsHeavyHittersSql,
    "q62_seq_packing"   -> CorpusOps.seqPackingSql,
    "q63_bigram_lift"   -> TextOps.bigramLiftSql,
    "q64_sem_dedup"     -> AnnOps.semanticDedupSql,
    "q65_lm_surprise"   -> TextOps.lmSurpriseSql,
    "q66_dsir_weights"  -> CorpusOps.dsirWeightsSql,
    "q67_exact_scrub"   -> DedupOps.exactScrubSql,
    "q68_fuzzy_decon"   -> CorpusOps.fuzzyDecontaminateSql,
    "q69_budget_select" -> CorpusOps.budgetSelectSql,
    "q70_bm25"          -> SearchOps.bm25TopKSql,
    "q71_rand_proj"     -> AnnOps.randProjSql,
    "q72_minhash_audit" -> DedupOps.minhashAuditSql,
    "q73_postings"      -> SearchOps.postingsSql,
    "q74_doc_chunks"    -> CorpusOps.docChunksSql,
    "q75_dim_stats"     -> AnnOps.dimStatsSql,
    "q76_incr_vocab"    -> TextOps.incrVocabSql,
    "q77_source_kl"     -> CorpusOps.sourceKlSql,
    "q78_copy_matrix"   -> DedupOps.copyMatrixSql,
    "q79_bucket_balance"-> CorpusOps.bucketBalanceSql,
    "q80_winnowing"     -> DedupOps.winnowingSql,
    "q81_signal_agree"  -> TextOps.signalAgreementSql,
    "q82_split_leakage" -> CorpusOps.splitLeakageSql,
    "q83_span_mask"     -> TextOps.spanMaskSql,
    "q84_max_spans"     -> DedupOps.dupMaxSpansSql,
    "q85_long_span_scrub" -> DedupOps.longSpanScrubSql,
    "q46_asof_join"     -> TemporalOps.asofLastClickSql,
    "q47_range_join"    -> TemporalOps.rangeJoinCoverageSql,
    "q48_sessionize"    -> TemporalOps.sessionizeSql,
  )
}

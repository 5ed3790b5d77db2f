package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.functions.TextOps
import graft.pipeline.{Contamination, CorpusPipeline, Curate, Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.search.Fulltext

/** Driver-contract wiring + DuckDB oracles for the LLM-data-pipeline
  * and fulltext operators (SURVEY.md §2 B11, D1–D11). Oracle SQL is
  * generated from the same constants/snippets as the Spark plans
  * (TextOps `*Sql` twins) so the engines cannot drift.
  */
object PipelineEntries {

  val SearchTerms = Seq("spark", "window", "query")
  val Prefix = "wind"

  /** Infix terms for the reference's default `*term* AND *term*` mode
    * (query.rs:113-135): "par" ⊂ {spark, part}, "indo" ⊂ {window}. */
  val ContainsTerms = Seq("par", "indo")

  /** dedup_embedding_auto operating point: τ = 0.9 with (bands,
    * planesPerBand) from the [[Similarity.bandingFor]] cost model at
    * the pinned 10×-scale corpus size (200k vectors) — deterministic,
    * so the oracle replays the exact signature. The model picks
    * (10, 10): a 100-plane signature whose theoretical candidate
    * volume is ~77× below the τ=0.4 24×5 default at that n. */
  val AutoTau = 0.9
  val AutoN = 200000L
  val AutoBanding: (Int, Int) = Similarity.bandingFor(AutoN, AutoTau)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fulltext_search" -> ((s, d) =>
      Fulltext.search(Tables.documentsShared(s, d), SearchTerms)),
    "fulltext_prefix" -> ((s, d) =>
      Fulltext.prefixSearch(Tables.documentsShared(s, d), Prefix)),
    // contains mode goes through the char-n-gram vocabulary pre-filter
    // (the 100 TB path: candidate tokens pruned before the postings
    // scan); output is identical to the plain contains sweep.
    "fulltext_contains" -> ((s, d) =>
      Fulltext.containsSearchNgram(Tables.documentsShared(s, d), ContainsTerms)),
    "fulltext_bool" -> ((s, d) =>
      Fulltext.booleanSearch(Tables.documentsShared(s, d), "spark AND (wind* OR merge)")),
    "fulltext_bm25" -> ((s, d) =>
      Fulltext.bm25Search(Tables.documentsShared(s, d), SearchTerms)),
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documentsShared(s, d))),
    "dedup_minhash" -> ((s, d) => Dedup.minhashLsh(Tables.documentsShared(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simhashNearDup(Tables.documentsShared(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Tables.documentsShared(s, d))),
    "dedup_ngram_prefix" -> ((s, d) =>
      Dedup.ngramJaccardPrefixBoard(Tables.documentsShared(s, d), minJaccard = 0.5)),
    "dedup_cluster" -> ((s, d) => Dedup.clusters(Tables.documentsShared(s, d))),
    "sample_cluster_cap" -> ((s, d) => Dedup.clusterCap(Tables.documentsShared(s, d))),
    "decontaminate" -> ((s, d) =>
      Contamination.decontaminate(Tables.documentsShared(s, d), col("doc_id") % 97 === 0)),
    "decontaminate_bloom" -> ((s, d) =>
      Contamination.decontaminateBloom(Tables.documentsShared(s, d), col("doc_id") % 97 === 0)),
    "text_pii" -> ((s, d) => TextAnalysis.piiRedact(Tables.documentsShared(s, d))),
    "text_vocab" -> ((s, d) => TextAnalysis.vocabulary(Tables.documentsShared(s, d))),
    "vocab_bpe" -> ((s, d) => TextAnalysis.bpeMerges(Tables.documentsShared(s, d))),
    "mix_weights" -> ((s, d) => TextAnalysis.mixtureWeights(Tables.documentsShared(s, d))),
    // the fixed 24×5-banding BIT-PARITY anchor, gated on the even-id
    // HALF of the corpus: the contract this gate pins is signature/
    // candidate/rerank bit-parity, not scale (the cost-model twin
    // dedup_embedding_auto carries the full-corpus load) — at the 10×
    // probe the full-corpus anchor alone was 17% of the entire board
    "dedup_embedding" -> ((s, d) =>
      Similarity.embeddingNearDup(
        Tables.embeddings(s, d).filter(col("vec_id") % 2 === 0),
        threshold = 0.4)),
    "dedup_embedding_exact" -> ((s, d) =>
      Similarity.embeddingNearDupExact(Tables.embeddings(s, d), threshold = 0.4)),
    // the cost-model path: banding comes from bandingFor at the pinned
    // 10×-scale corpus size, τ=0.9 (the realistic near-dup threshold,
    // made non-vacuous by planted jittered twins at cosine ≈ 0.96 —
    // the raw synthetic corpus has no pair above 0.52)
    "dedup_embedding_auto" -> ((s, d) =>
      Similarity.embeddingNearDup(
        Similarity.withJitteredTwins(Tables.embeddings(s, d)),
        threshold = AutoTau, bands = AutoBanding._1, planesPerBand = AutoBanding._2)),
    "sim_topk" -> ((s, d) =>
      Similarity.topKCosine(Tables.embeddingsShared(s, d), col("vec_id") % 100 === 0)),
    "sim_lsh" -> ((s, d) => Similarity.lshTopK(Tables.embeddingsShared(s, d))),
    "sim_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), col("vec_id") % 100 === 0)),
    "text_langid" -> ((s, d) => TextAnalysis.langId(Tables.documentsShared(s, d))),
    "text_quality" -> ((s, d) => TextAnalysis.quality(Tables.documentsShared(s, d))),
    "text_tokens" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documentsShared(s, d))),
    "text_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documentsShared(s, d))),
    "events_window" -> ((s, d) =>
      graft.streaming.EventStreams.hourlyTypeCounts(graft.streaming.EventStreams.events(s, d))),
    "events_sessionize" -> ((s, d) =>
      graft.streaming.EventStreams.sessionize(graft.streaming.EventStreams.events(s, d))),
    "multimodal_meta" -> ((s, d) => Multimodal.mediaMeta(s, Tables.documentsShared(s, d))),
    "curate_pipeline" -> ((s, d) => Curate.curate(Tables.documentsShared(s, d))),
    // the composed-pipeline API end-to-end: curate gates → near-dup
    // canonical collapse over the survivors → 16-way shard layout of
    // what's left, all in one session-shared plan (D91)
    "pipeline_chain" -> ((s, d) =>
      CorpusPipeline.over(Tables.documentsShared(s, d))
        .curated().dedupNear().shardPlan(16)),
    "curate_full" -> ((s, d) =>
      Curate.curateFull(Tables.documentsShared(s, d), col("doc_id") % 97 === 0)),
    "events_asof" -> ((s, d) => TemporalOps.purchaseAsofView(s, d)),
    "events_quantiles" -> ((s, d) => TemporalOps.eventQuantiles(s, d)),
    "events_rolling" -> ((s, d) => TemporalOps.eventRolling(s, d)),
    "events_anomaly" -> ((s, d) => TemporalOps.eventAnomalies(s, d)),
    "events_cusum" -> ((s, d) => TemporalOps.eventCusum(s, d)),
    "events_mad" -> ((s, d) =>
      TemporalOps.madOutliers(graft.streaming.EventStreams.events(s, d))),
    "events_seasonal" -> ((s, d) =>
      TemporalOps.seasonalProfile(graft.streaming.EventStreams.events(s, d))),
    "embed_quantize" -> ((s, d) =>
      Similarity.quantizeSummary(Tables.embeddings(s, d))),
    "sample_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.documentsShared(s, d))),
    "sample_threshold" -> ((s, d) =>
      Sampling.stratifiedSampleThreshold(Tables.documentsShared(s, d))),
    "sample_fixed_k" -> ((s, d) =>
      Sampling.fixedKSample(Tables.documentsShared(s, d))),
    "sample_weighted_k" -> ((s, d) =>
      Sampling.weightedKSample(Tables.documentsShared(s, d))),
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(Tables.documentsShared(s, d))),
    // winnowing gate scoped to a fifth of the corpus: positional
    // fingerprints are per-doc voluminous and the operator itself is
    // scope-agnostic
    "text_winnow" -> ((s, d) =>
      TextAnalysis.winnow(Tables.documentsShared(s, d).filter(col("doc_id") % 5 === 0))),
    "dedup_semantic" -> ((s, d) =>
      Similarity.semanticDedup(Tables.embeddings(s, d), threshold = 0.4)),
    "events_topk" -> ((s, d) =>
      graft.streaming.EventStreams.trendingTopK(graft.streaming.EventStreams.events(s, d))),
    "pack_sequences" -> ((s, d) =>
      Sampling.packSequences(Tables.documentsShared(s, d))),
    "dedup_keep_best" -> ((s, d) => Dedup.keepBest(Tables.documentsShared(s, d))),
    "text_winnow_pairs" -> ((s, d) =>
      TextAnalysis.winnowPairs(Tables.documentsShared(s, d))),
    // continuous-ingest dedup: the 1-in-3 doc_id slice arrives "new"
    // against a signature store built from the rest
    "dedup_incremental" -> ((s, d) => {
      val docs = Tables.documentsShared(s, d)
      Dedup.dedupIncrementalFrames(
        Dedup.minhashLong(docs.filter(col("doc_id") % 3 =!= 0)),
        docs.filter(col("doc_id") % 3 === 0))
    }),
    "chunk_docs" -> ((s, d) => Sampling.chunkDocs(Tables.documentsShared(s, d))),
    "shard_plan" -> ((s, d) => Sampling.shardPlan(Tables.documentsShared(s, d))),
    "source_profile" -> ((s, d) => TextAnalysis.sourceProfile(Tables.documentsShared(s, d))),
    "text_ppl_buckets" -> ((s, d) =>
      TextAnalysis.perplexityBuckets(Tables.documentsShared(s, d))),
    "text_langid_confusion" -> ((s, d) =>
      TextAnalysis.langIdConfusion(Tables.documentsShared(s, d))),
    "dedup_cross_source" -> ((s, d) =>
      Dedup.crossSourceDuplication(Tables.documentsShared(s, d))),
    // gated form IS the production shape: a deterministic 25% md5
    // pair-cut (the D14b threshold discipline); the full audit stays
    // the samplePpm=10⁶ API form
    "dedup_minhash_err" -> ((s, d) =>
      Dedup.minhashErrorAudit(Tables.documentsShared(s, d), samplePpm = 250000L)),
    "events_tenure" -> ((s, d) =>
      TemporalOps.userTenure(graft.streaming.EventStreams.events(s, d))),
    "multimodal_sizes" -> ((s, d) => Multimodal.sizeProfile(s, Tables.documentsShared(s, d))),
    "text_length_hist" -> ((s, d) =>
      TextAnalysis.lengthHistogram(Tables.documentsShared(s, d))),
    "embed_dims" -> ((s, d) => Similarity.dimProfile(Tables.embeddings(s, d))),
    "source_similarity" -> ((s, d) => Dedup.sourceSimilarity(Tables.documentsShared(s, d))),
    "dedup_inflation" -> ((s, d) => Dedup.dedupInflation(Tables.documentsShared(s, d))),
    "embed_knn_purity" -> ((s, d) =>
      Similarity.knnPurity(Tables.embeddingsShared(s, d), col("vec_id") % 100 === 0)),
    "embed_drift" -> ((s, d) => Similarity.labelDrift(Tables.embeddings(s, d))),
    "sim_recall_audit" -> ((s, d) =>
      Similarity.annRecallAudit(Tables.embeddingsShared(s, d), col("vec_id") % 100 === 0)),
    "events_funnel" -> ((s, d) =>
      TemporalOps.conversionFunnel(graft.streaming.EventStreams.events(s, d))),
    "embed_project" -> ((s, d) =>
      Similarity.projectSigned(Tables.embeddings(s, d))),
    "text_keywords" -> ((s, d) => TextAnalysis.keywords(Tables.documentsShared(s, d))),
    "text_pmi" -> ((s, d) => TextAnalysis.pmiCollocations(Tables.documentsShared(s, d))),
    "text_readability" -> ((s, d) => TextAnalysis.readability(Tables.documentsShared(s, d))),
    "sample_balance" -> ((s, d) => Sampling.balanceSample(Tables.documentsShared(s, d))),
    "split_assign" -> ((s, d) => Sampling.splitAssign(Tables.documentsShared(s, d))),
    "events_disorder" -> ((s, d) => TemporalOps.eventDisorder(s, d)),
    "events_cdc" -> ((s, d) =>
      graft.streaming.EventStreams.latestState(graft.streaming.EventStreams.events(s, d))),
    "text_unigram_ce" -> ((s, d) =>
      TextAnalysis.unigramCrossEntropy(Tables.documentsShared(s, d))),
    "events_sliding" -> ((s, d) =>
      graft.streaming.EventStreams.slidingTypeCounts(graft.streaming.EventStreams.events(s, d))),
    "fulltext_phrase" -> ((s, d) =>
      graft.search.Fulltext.phraseSearch(Tables.documentsShared(s, d), "table value")),
    "embed_pq" -> ((s, d) =>
      Similarity.productQuantize(Tables.embeddings(s, d))),
    "events_retention" -> ((s, d) =>
      TemporalOps.retentionCohorts(graft.streaming.EventStreams.events(s, d))),
    "events_transitions" -> ((s, d) =>
      TemporalOps.transitions(graft.streaming.EventStreams.events(s, d))),
    "events_pivot" -> ((s, d) =>
      graft.streaming.EventStreams.typePivot(graft.streaming.EventStreams.events(s, d))),
    "dedup_editdist" -> ((s, d) => Dedup.editDistance(Tables.documentsShared(s, d))),
    "events_ewma" -> ((s, d) => TemporalOps.eventEwma(s, d)),
    "events_holt" -> ((s, d) => TemporalOps.eventHolt(s, d)),
    "vocab_bpe_apply" -> ((s, d) => TextAnalysis.bpeEncode(Tables.documentsShared(s, d))),
    "text_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramCrossEntropy(Tables.documentsShared(s, d))),
    "text_hash_features" -> ((s, d) =>
      TextAnalysis.hashFeatures(Tables.documentsShared(s, d))),
    "events_hll" -> ((s, d) =>
      graft.functions.Sketches.hllDistinct(
        graft.streaming.EventStreams.events(s, d), "event_id", "event_type")
        .orderBy("event_type")),
    "events_cms" -> ((s, d) =>
      graft.functions.Sketches.countMin(
        graft.streaming.EventStreams.events(s, d), "user_id")
        .orderBy("user_id")),
    "events_cms_err" -> ((s, d) =>
      graft.functions.Sketches.countMinError(
        graft.streaming.EventStreams.events(s, d), "user_id")),
    "events_hll_overlap" -> ((s, d) =>
      graft.functions.Sketches.hllOverlap(
        graft.streaming.EventStreams.events(s, d), "user_id", "event_type")),
    "events_heavy" -> ((s, d) =>
      graft.functions.Sketches.heavyHitters(
        graft.streaming.EventStreams.events(s, d), "user_id")),
    "events_interarrival" -> ((s, d) =>
      TemporalOps.interArrival(graft.streaming.EventStreams.events(s, d))),
    "events_lag_features" -> ((s, d) =>
      TemporalOps.lagFeatures(graft.streaming.EventStreams.events(s, d))),
    "events_qsketch" -> ((s, d) =>
      TemporalOps.quantileSketch(graft.streaming.EventStreams.events(s, d))),
    "events_attribution" -> ((s, d) =>
      TemporalOps.lastTouch(graft.streaming.EventStreams.events(s, d))),
    "events_burst" -> ((s, d) =>
      TemporalOps.burstWindows(graft.streaming.EventStreams.events(s, d))),
    "events_entropy" -> ((s, d) =>
      TemporalOps.typeEntropy(graft.streaming.EventStreams.events(s, d))),
    "text_oov" -> ((s, d) => TextAnalysis.oovRate(Tables.documentsShared(s, d))),
    "embed_cluster" -> ((s, d) =>
      Similarity.clusterSummary(Tables.embeddings(s, d))),
    "text_source_kl" -> ((s, d) => TextAnalysis.sourceKl(Tables.documentsShared(s, d))),
    "text_zipf" -> ((s, d) => TextAnalysis.zipfFit(Tables.documentsShared(s, d))),
    "multimodal_stats" -> ((s, d) => Multimodal.mediaStats(s, Tables.documentsShared(s, d))),
    "multimodal_dedup" -> ((s, d) => Multimodal.payloadDedup(s, Tables.documentsShared(s, d))),
    "text_ttr" -> ((s, d) => TextAnalysis.typeTokenRatio(Tables.documentsShared(s, d))),
    "text_novelty" -> ((s, d) => TextAnalysis.ngramNovelty(Tables.documentsShared(s, d))),
    "text_template" -> ((s, d) => TextAnalysis.templateScore(Tables.documentsShared(s, d))),
    "events_active" -> ((s, d) =>
      TemporalOps.activeUsers(graft.streaming.EventStreams.events(s, d))),
    "dedup_containment" -> ((s, d) =>
      Dedup.containmentJoin(Tables.documentsShared(s, d))),
    "events_session_stats" -> ((s, d) =>
      TemporalOps.sessionStats(graft.streaming.EventStreams.events(s, d))),
    "events_ohlc" -> ((s, d) =>
      TemporalOps.ohlcBars(graft.streaming.EventStreams.events(s, d))),
    "events_overlap" -> ((s, d) =>
      TemporalOps.sessionOverlap(graft.streaming.EventStreams.events(s, d))),
    "dedup_para" -> ((s, d) => Dedup.paragraphDedup(Tables.documentsShared(s, d))),
    "text_fertility" -> ((s, d) =>
      TextAnalysis.tokenizerFertility(Tables.documentsShared(s, d))),
    "events_twap" -> ((s, d) =>
      TemporalOps.twap(graft.streaming.EventStreams.events(s, d))),
    "dedup_cluster_sizes" -> ((s, d) =>
      Dedup.clusterSizes(Tables.documentsShared(s, d))),
    "embed_norms" -> ((s, d) => Similarity.normStats(Tables.embeddings(s, d))),
    "vocab_coverage" -> ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documentsShared(s, d))),
    "multimodal_aspect" -> ((s, d) =>
      Multimodal.aspectProfile(s, Tables.documentsShared(s, d))),
    "events_acf" -> ((s, d) =>
      TemporalOps.acf(graft.streaming.EventStreams.events(s, d))),
    "split_leakage" -> ((s, d) => Dedup.splitLeakage(Tables.documentsShared(s, d))),
    "text_dsir" -> ((s, d) => TextAnalysis.dsirWeights(Tables.documentsShared(s, d))),
    "text_truncation" -> ((s, d) =>
      TextAnalysis.truncationPlan(Tables.documentsShared(s, d))),
    "events_markov" -> ((s, d) =>
      TemporalOps.markovStationary(graft.streaming.EventStreams.events(s, d))),
    "events_benford" -> ((s, d) =>
      TemporalOps.benford(graft.streaming.EventStreams.events(s, d))),
    "events_calendar" -> ((s, d) =>
      TemporalOps.calendarHeat(graft.streaming.EventStreams.events(s, d))),
    "text_hapax" -> ((s, d) => TextAnalysis.hapax(Tables.documentsShared(s, d))),
    "text_jsdiv" -> ((s, d) =>
      TextAnalysis.sourceJsDivergence(Tables.documentsShared(s, d))),
    "text_sentences" -> ((s, d) =>
      TextAnalysis.sentenceStats(Tables.documentsShared(s, d))),
    "dedup_substring" -> ((s, d) => Dedup.substringDup(Tables.documentsShared(s, d))),
    "dedup_head" -> ((s, d) => Dedup.headDupGroups(Tables.documentsShared(s, d))),
    "sim_range" -> ((s, d) =>
      Similarity.rangeSearch(Tables.embeddings(s, d), col("vec_id") % 100 === 0)),
    "multimodal_legacy" -> ((s, d) =>
      Multimodal.mediaMetaLegacy(s, Tables.documentsShared(s, d))),
    "events_growth" -> ((s, d) =>
      TemporalOps.growthAccounting(graft.streaming.EventStreams.events(s, d))),
    "sample_coreset" -> ((s, d) =>
      Similarity.coresetKCenter(Tables.embeddings(s, d))),
    "mix_hhi" -> ((s, d) =>
      TextAnalysis.sourceConcentration(Tables.documentsShared(s, d))),
    "dedup_bucket_stats" -> ((s, d) =>
      Dedup.lshBucketStats(Tables.documentsShared(s, d))),
    "embed_outliers" -> ((s, d) =>
      Similarity.centroidOutliers(Tables.embeddings(s, d))),
    "events_ltv" -> ((s, d) =>
      TemporalOps.cohortLtv(graft.streaming.EventStreams.events(s, d))),
    "events_hour_anomaly" -> ((s, d) =>
      TemporalOps.hourAnomalies(graft.streaming.EventStreams.events(s, d))),
    "text_len_profile" -> ((s, d) =>
      TextAnalysis.lengthProfile(Tables.documentsShared(s, d))),
    "embed_cos_hist" -> ((s, d) =>
      Similarity.cosineHistogram(Tables.embeddings(s, d))),
    "embed_truncate" -> ((s, d) =>
      Similarity.truncateFidelity(Tables.embeddings(s, d))),
    "embed_pca" -> ((s, d) =>
      Similarity.pcaTopComponent(Tables.embeddings(s, d))),
    "dedup_simhash_stats" -> ((s, d) =>
      Dedup.simhashStats(Tables.documentsShared(s, d))),
    // composed incremental refresh (A8): the 1-in-3 delta slice read
    // THROUGH the merged fulltext index + upserted signature store;
    // oracle = the full rebuild, so a pass is merge≡rebuild row-wise
    "refresh_compose" -> ((s, d) =>
      graft.importer.Refresh.refreshCompose(Tables.documentsShared(s, d)))
  )

  // ---- shared oracle CTE fragments -------------------------------------

  private val TOK = s"tok AS (\n${TextOps.tokensSql})"
  private val SH = s"sh AS (\n${TextOps.shinglesSql})"
  private val TF = "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2)"
  private val EX =
    """ex AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |         generate_subscripts(embedding, 1) AS i
      |  FROM embeddings)""".stripMargin

  /** Fixed-point twin of EX (matches Similarity.quantize): every ANN
    * dot/norm below is computed from qx so the integer sums are
    * order-free and the resulting cosines BIT-match the Spark side. */
  private val EXQ =
    "exq AS (SELECT vec_id, CAST(round(x * 1000000, 0) AS BIGINT) AS qx, i FROM ex)"
  private val NRM =
    """nrm AS (
      |  SELECT vec_id, sqrt(CAST(SUM(qx * qx) AS DOUBLE)) AS nrm
      |  FROM exq GROUP BY 1 HAVING SUM(qx * qx) > 0)""".stripMargin

  private val termsIn = SearchTerms.map(t => s"'$t'").mkString("(", ", ", ")")

  /** Unrolled BPE training chain (the TextAnalysis.bpeTrain twin):
    * word-frequency table → double-space sym0 → `rounds` greedy-merge
    * rounds, each pair-counting over word types, picking (freq desc,
    * pair asc), and replacing everywhere. Expects the shared `tok`
    * CTE upstream; leaves top1..topN (merge table rows) and symN (the
    * trained symbol state) in scope. */
  private def bpeChainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"""px$r AS (
         |  SELECT token, freq, unnest(string_split(trim(sym), '  ')) AS s,
         |         generate_subscripts(string_split(trim(sym), '  '), 1) AS i
         |  FROM sym$p),
         |pc$r AS (
         |  SELECT pr, CAST(SUM(freq) AS BIGINT) AS f FROM (
         |    SELECT freq, s || ' ' || lead(s) OVER (PARTITION BY token ORDER BY i) AS pr
         |    FROM px$r)
         |  WHERE pr IS NOT NULL GROUP BY 1),
         |top$r AS MATERIALIZED (
         |  SELECT pr, replace(pr, ' ', '') AS merged, f
         |  FROM pc$r ORDER BY f DESC, pr LIMIT 1),
         |sym$r AS MATERIALIZED (
         |  SELECT token, freq,
         |         replace(sym, ' ' || (SELECT replace(pr, ' ', '  ') FROM top$r) || ' ',
         |                 ' ' || (SELECT merged FROM top$r) || ' ') AS sym
         |  FROM sym$p)""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (SELECT token, COUNT(*) AS freq FROM tok GROUP BY 1),
       |sym0 AS MATERIALIZED (
       |  SELECT token, freq, '  ' || regexp_replace(token, '(.)', '\\1  ', 'g') AS sym
       |  FROM words),
       |$roundCtes""".stripMargin
  }

  /** Unrolled k-means (Lloyd) CTE chain — the DuckDB twin of
    * Similarity.kmeansCentroids, FIXED POINT like the Spark side:
    * coordinates quantized to round(x·10⁶) longs, distances exact
    * integer sums (order-free), centroids ⌊Σqx / n⌋ (one IEEE divide,
    * identical on both engines). Expects the shared `exq` CTE
    * upstream. Returns (cte_sql, final_name). */
  private def kmeansCtes(k: Int, iters: Int): (String, String) = {
    val sb = new StringBuilder(
      s"cents0 AS (SELECT vec_id AS cid, i, qx AS cx FROM exq WHERE vec_id < $k)")
    for (t <- 1 to iters) {
      val p = t - 1
      sb.append(s""",
         |kd$p AS (
         |  SELECT e.vec_id, c.cid,
         |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
         |  FROM exq e JOIN cents$p c ON e.i = c.i GROUP BY 1, 2),
         |ka$p AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM kd$p) t WHERE rn = 1),
         |cents$t AS (
         |  SELECT a.cid, e.i,
         |         CAST(floor(SUM(e.qx) / (1.0 * COUNT(*))) AS BIGINT) AS cx
         |  FROM ka$p a JOIN exq e USING (vec_id) GROUP BY 1, 2)""".stripMargin)
    }
    (sb.toString, s"cents$iters")
  }

  /** Per-subspace twin of [[kmeansCtes]] for product quantization:
    * the identical fixed-point Lloyd chain, restricted to dims
    * (lo..hi], names suffixed `_j`, plus the FINAL assignment round
    * (kd/ka at `iters`) that emits each vector's code + exact
    * distance. */
  private def pqCtes(j: Int, lo: Int, hi: Int, k: Int, iters: Int): String = {
    val sq = s"sq$j AS (SELECT vec_id, i, qx FROM exq WHERE i > $lo AND i <= $hi)"
    val sb = new StringBuilder(
      s"$sq,\nc0_$j AS (SELECT vec_id AS cid, i, qx AS cx FROM sq$j WHERE vec_id < $k)")
    for (t <- 0 until iters) sb.append(s""",
       |kd${t}_$j AS (
       |  SELECT e.vec_id, c.cid,
       |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
       |  FROM sq$j e JOIN c${t}_$j c ON e.i = c.i GROUP BY 1, 2),
       |ka${t}_$j AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM kd${t}_$j) t WHERE rn = 1),
       |c${t + 1}_$j AS (
       |  SELECT a.cid, e.i,
       |         CAST(floor(SUM(e.qx) / (1.0 * COUNT(*))) AS BIGINT) AS cx
       |  FROM ka${t}_$j a JOIN sq$j e USING (vec_id) GROUP BY 1, 2)""".stripMargin)
    sb.append(s""",
       |kd${iters}_$j AS (
       |  SELECT e.vec_id, c.cid,
       |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
       |  FROM sq$j e JOIN c${iters}_$j c ON e.i = c.i GROUP BY 1, 2),
       |code$j AS (
       |  SELECT vec_id, $j AS subspace, cid AS code, dist FROM (
       |    SELECT vec_id, cid, dist,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM kd${iters}_$j) t WHERE rn = 1)""".stripMargin)
    sb.toString
  }

  private def fulltextSql(tokenPred: String): String =
    s"""WITH $TOK,
       |$TF,
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n FROM documents)
       |SELECT doc_id,
       |       round(SUM(tf * ln((n + 1.0) / (df + 1.0))), 4) AS score,
       |       COUNT(*) AS n_terms
       |FROM tf JOIN df USING (token), n
       |WHERE $tokenPred
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT 20""".stripMargin

  private val minhashUnion = TextOps.MinhashA.indices.map { i =>
    s"SELECT doc_id, $i AS perm, MIN(${TextOps.minhashPermSql("sh", i)}) AS mh FROM sh GROUP BY doc_id"
  }.mkString("\n  UNION ALL\n  ")

  private val simhashBits = (0 until Dedup.SimBits).map { i =>
    s"(CASE WHEN SUM(tf * (((th >> $i) & 1) * 2 - 1)) > 0 THEN ${1L << i} ELSE 0 END)"
  }.mkString(" +\n         ")

  /** Shared near-dup-cluster CTE chain (expects `tok`/`sh`): minhash
    * signatures → candidate pairs → est_jaccard ≥ 0.5 edge set → 12
    * unrolled min-label rounds ending in `l12 (node, component)`. */
  /** The band-join + 12-round label-propagation CTE chain over an
    * arbitrary signature CTE `sig` — shared by the whole-corpus
    * cluster oracles (sig = the full `mh`) and the composed-pipeline
    * oracle (sig = the curate-survivor restriction `mhk`). */
  private def clusterChainFrom(sig: String): String = {
    val labelRounds = (0 until 12).map { t =>
      s"""l${t + 1} AS MATERIALIZED (
         |  SELECT l.node,
         |         least(l.component, COALESCE(MIN(n.component), l.component))
         |           AS component
         |  FROM l$t l
         |  LEFT JOIN und u ON u.a = l.node
         |  LEFT JOIN l$t n ON n.node = u.b
         |  GROUP BY l.node, l.component)""".stripMargin
    }.mkString(",\n")
    s"""cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM $sig x JOIN $sig y
       |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id),
       |est AS MATERIALIZED (
       |  SELECT doc_a, doc_b,
       |         round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
       |           AS est_jaccard
       |  FROM cand
       |  JOIN $sig a ON doc_a = a.doc_id
       |  JOIN $sig b ON doc_b = b.doc_id AND a.perm = b.perm
       |  GROUP BY 1, 2),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT doc_a AS a, doc_b AS b FROM est WHERE est_jaccard >= 0.5
       |    UNION ALL
       |    SELECT doc_b, doc_a FROM est WHERE est_jaccard >= 0.5)),
       |l0 AS (SELECT DISTINCT a AS node, a AS component FROM und),
       |$labelRounds""".stripMargin
  }

  private lazy val clusterChain: String =
    s"""mh AS MATERIALIZED (
       |  $minhashUnion),
       |${clusterChainFrom("mh")}""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "fulltext_search" -> fulltextSql(s"token IN $termsIn"),
    "fulltext_prefix" -> fulltextSql(s"token LIKE '$Prefix%'"),
    // BM25 (k1=1.2, b=0.75): every fractional literal is ::DOUBLE so
    // DuckDB cannot fall into DECIMAL arithmetic, the expression tree
    // mirrors Fulltext.bm25SearchIndex operation for operation, and
    // per-(doc,term) contributions are quantized to 1e-6 longs BEFORE
    // the per-doc sum — exact integer summation, order-independent.
    "fulltext_bm25" ->
      s"""WITH $TOK,
         |$TF,
         |len AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_dl FROM len),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |matched AS (SELECT doc_id, token, tf FROM tf WHERE token IN $termsIn),
         |mdf AS (SELECT token, COUNT(*) AS df FROM matched GROUP BY 1),
         |contrib AS (
         |  SELECT m.doc_id,
         |         CAST(floor(
         |           ln(1.0::DOUBLE + ((n - df) + 0.5::DOUBLE) / (df + 0.5::DOUBLE))
         |           * (tf * (1.2::DOUBLE + 1.0::DOUBLE)
         |              / (tf + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
         |                 + 0.75::DOUBLE * (dl / (total_dl / n)))))
         |           * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS cq
         |  FROM matched m JOIN mdf USING (token) JOIN len USING (doc_id), n, tot)
         |SELECT doc_id,
         |       floor(CAST(SUM(cq) AS BIGINT) / 100.0::DOUBLE + 0.5::DOUBLE) / 10000.0::DOUBLE AS score,
         |       COUNT(*) AS n_terms
         |FROM contrib GROUP BY doc_id
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    "fulltext_contains" -> {
      val likes = ContainsTerms.map(t => s"token LIKE '%$t%'")
      val flags = ContainsTerms.zipWithIndex.map { case (t, i) =>
        s"MAX(CASE WHEN token LIKE '%$t%' THEN 1 ELSE 0 END) AS a$i"
      }.mkString(",\n         ")
      val sumFlags = ContainsTerms.indices.map(i => s"a$i").mkString(" + ")
      val allFlags = ContainsTerms.indices.map(i => s"a$i = 1").mkString(" AND ")
      s"""WITH $TOK,
         |$TF,
         |matched AS (
         |  SELECT doc_id, token, tf FROM tf WHERE ${likes.mkString(" OR ")}),
         |mdf AS (SELECT token, COUNT(*) AS df FROM matched GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |perdoc AS (
         |  SELECT doc_id,
         |         round(SUM(tf * ln((n + 1.0) / (df + 1.0))), 4) AS score,
         |         $flags
         |  FROM matched JOIN mdf USING (token), n GROUP BY doc_id)
         |SELECT doc_id, score, CAST($sumFlags AS INTEGER) AS n_terms
         |FROM perdoc WHERE $allFlags
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin
    },
    "fulltext_bool" ->
      s"""WITH $TOK,
         |$TF,
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |matched AS (
         |  SELECT doc_id, token, tf, df FROM tf JOIN df USING (token)
         |  WHERE token = 'spark' OR token LIKE 'wind%' OR token = 'merge'),
         |perdoc AS (
         |  SELECT doc_id,
         |         round(SUM(tf * ln((n + 1.0) / (df + 1.0))), 4) AS score,
         |         MAX(CASE WHEN token = 'spark' THEN 1 ELSE 0 END) AS a0,
         |         MAX(CASE WHEN token LIKE 'wind%' THEN 1 ELSE 0 END) AS a1,
         |         MAX(CASE WHEN token = 'merge' THEN 1 ELSE 0 END) AS a2
         |  FROM matched, n GROUP BY doc_id)
         |SELECT doc_id, score, a0 + a1 + a2 AS n_atoms
         |FROM perdoc
         |WHERE a0 = 1 AND (a1 = 1 OR a2 = 1)
         |ORDER BY score DESC, doc_id
         |LIMIT 20""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS canonical_id
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM mh x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |       round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
         |         AS est_jaccard
         |FROM cand
         |JOIN mh a ON doc_a = a.doc_id
         |JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the store split derives from the same corpus, so store ∪ new
    // signatures == mh; candidates require one NEW side, scoring and
    // est_jaccard are identical to dedup_minhash.
    "dedup_incremental" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |mhn AS (SELECT * FROM mh WHERE doc_id % 3 = 0),
         |cand AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |         greatest(x.doc_id, y.doc_id) AS doc_b
         |  FROM mhn x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id <> y.doc_id)
         |SELECT doc_a, doc_b,
         |       round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
         |         AS est_jaccard,
         |       doc_a % 3 = 0 AND doc_b % 3 = 0 AS both_new
         |FROM cand
         |JOIN mh a ON doc_a = a.doc_id
         |JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the composed refresh replayed as a FULL REBUILD: the merged
    // index ≡ postings over the whole corpus and the upserted
    // signature store ≡ signatures over the whole corpus (old ∪ delta
    // disjoint), so every output row checks merge≡rebuild directly
    "refresh_compose" ->
      s"""WITH $TOK,
         |$TF,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |mhn AS (SELECT * FROM mh WHERE doc_id % 3 = 0),
         |cand AS (
         |  SELECT DISTINCT least(x.doc_id, y.doc_id) AS doc_a,
         |         greatest(x.doc_id, y.doc_id) AS doc_b
         |  FROM mhn x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id <> y.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b,
         |         round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
         |           AS est
         |  FROM cand
         |  JOIN mh a ON doc_a = a.doc_id
         |  JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |  GROUP BY 1, 2),
         |dup_ends AS (
         |  SELECT doc_a AS doc_id FROM pairs WHERE est >= 0.5
         |  UNION ALL
         |  SELECT doc_b FROM pairs WHERE est >= 0.5),
         |dups AS (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dups
         |  FROM dup_ends WHERE doc_id % 3 = 0 GROUP BY 1),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |matched AS (SELECT doc_id, token, tf FROM tf WHERE token IN $termsIn),
         |mdf AS (SELECT token, COUNT(*) AS df FROM matched GROUP BY 1),
         |score AS (
         |  SELECT m.doc_id,
         |         CAST(SUM(CAST(floor(m.tf * ln((n + 1.0::DOUBLE) / (df + 1.0::DOUBLE))
         |           * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS score_ppm
         |  FROM matched m JOIN mdf USING (token), n
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |       COALESCE(dl, 0) AS dl,
         |       COALESCE(score_ppm, 0) AS score_ppm,
         |       COALESCE(n_dups, 0) AS n_dups
         |FROM documents d
         |LEFT JOIN dl USING (doc_id)
         |LEFT JOIN score USING (doc_id)
         |LEFT JOIN dups USING (doc_id)
         |WHERE d.doc_id % 3 = 0
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $TOK,
         |$TF,
         |tfh AS (SELECT doc_id, tf, ${TextOps.simMixSql(TextOps.tokenHashSql("token"))} AS th FROM tf),
         |sig AS (
         |  SELECT doc_id,
         |         $simhashBits AS sig
         |  FROM tfh GROUP BY doc_id)
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |       CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Summary twin: the same brute signature space grouped by
    // hamming — the band machinery's histogram without the pair list.
    "dedup_simhash_stats" ->
      s"""WITH $TOK,
         |$TF,
         |tfh AS (SELECT doc_id, tf, ${TextOps.simMixSql(TextOps.tokenHashSql("token"))} AS th FROM tf),
         |sig AS (
         |  SELECT doc_id,
         |         $simhashBits AS sig
         |  FROM tfh GROUP BY doc_id)
         |SELECT CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS hamming,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM sig x JOIN sig y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.sig, y.sig)) <= 6
         |GROUP BY 1 ORDER BY hamming""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM shd x JOIN shd y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |         round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id)
         |WHERE jaccard >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_ngram_prefix" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS (SELECT DISTINCT doc_id, sh FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM shd x JOIN shd y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |         round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id)
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Near-dup clustering: minhash pairs at est_jaccard >= 0.5, then
    // 12 unrolled bounded min-label rounds (the Spark side runs the
    // identical bounded recursion; labels are fixpoint-stable, so
    // early convergence == running all rounds). Round CTEs are
    // MATERIALIZED — each l{t} is referenced twice and DuckDB's
    // default inlining would recompute the whole chain per reference.
    "dedup_cluster" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |sz AS (SELECT component, COUNT(*) AS cluster_size FROM l12 GROUP BY 1)
         |SELECT node AS doc_id, component AS cluster_id, cluster_size
         |FROM l12 JOIN sz USING (component)
         |ORDER BY doc_id""".stripMargin,
    // Cluster-capped sampling: the cluster chain + an md5-ranked
    // row_number per cluster, kept = rank <= 4.
    "sample_cluster_cap" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |sz AS (SELECT component, COUNT(*) AS cluster_size FROM l12 GROUP BY 1),
         |ranked AS (
         |  SELECT node AS doc_id, component AS cluster_id, sz.cluster_size,
         |         CAST(row_number() OVER (PARTITION BY component
         |           ORDER BY md5(CAST(node AS VARCHAR)), node) AS BIGINT) AS rnk
         |  FROM l12 JOIN sz USING (component))
         |SELECT doc_id, cluster_id, cluster_size, rnk, rnk <= 4 AS kept
         |FROM ranked ORDER BY doc_id""".stripMargin,
    // Keep-best canonical: the cluster chain above + the integer-only
    // (n_chars desc, doc_id asc) argmax per cluster.
    "dedup_keep_best" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |sz AS (SELECT component, COUNT(*) AS cluster_size FROM l12 GROUP BY 1),
         |scored AS (
         |  SELECT l.node AS doc_id, l.component AS cluster_id,
         |         sz.cluster_size, d.n_chars
         |  FROM l12 l JOIN sz USING (component)
         |  JOIN documents d ON d.doc_id = l.node),
         |best AS (
         |  SELECT cluster_id, doc_id AS keep_id FROM (
         |    SELECT cluster_id, doc_id,
         |           row_number() OVER (PARTITION BY cluster_id
         |             ORDER BY n_chars DESC, doc_id) AS rn
         |    FROM scored) t WHERE rn = 1)
         |SELECT s.doc_id, s.cluster_id, s.cluster_size, b.keep_id,
         |       s.doc_id = b.keep_id AS kept
         |FROM scored s JOIN best b USING (cluster_id)
         |ORDER BY s.doc_id""".stripMargin,
    // Overlapping chunks: same bpe-ish token count as text_tokens,
    // chunk starts advance by stride 48 = 64 − 16, integer ceil-div.
    "chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         unnest(generate_series(0,
        |           greatest(CAST(0 AS BIGINT), (n - 64 + 47) // 48))) AS chunk_idx
        |  FROM t WHERE n > 0)
        |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
        |       least(chunk_idx * 48 + 64, n) - chunk_idx * 48 AS n_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // Per-source profile: one (source, lang) agg re-aggregated;
    // majority language via the ranked argmax.
    "source_profile" ->
      """WITH b AS (
        |  SELECT source, lang, COUNT(*) AS n, SUM(n_chars) AS c,
        |         SUM(len(regexp_extract_all(lower(text),
        |             '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS t
        |  FROM documents GROUP BY 1, 2),
        |top AS (
        |  SELECT source, lang AS top_lang,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n DESC, lang) AS rn
        |  FROM b),
        |agg AS (
        |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
        |         CAST(SUM(c) AS BIGINT) AS n_chars,
        |         CAST(SUM(t) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_langs
        |  FROM b GROUP BY 1)
        |SELECT agg.source AS source, n_docs, n_chars, n_tokens,
        |       n_tokens // n_docs AS mean_tokens, n_langs, top.top_lang
        |FROM agg JOIN top ON agg.source = top.source AND top.rn = 1
        |ORDER BY agg.source""".stripMargin,
    // Source-pair MinHash similarity: per-source signatures over the
    // distinct shingle sets, the D2 permutation family verbatim.
    "source_similarity" -> {
      val perms = TextOps.MinhashA.length
      val mins = (0 until perms)
        .map(i => s"MIN(${TextOps.minhashPermSql("sh", i)}) AS m$i")
        .mkString(",\n         ")
      val matches = (0 until perms)
        .map(i => s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $TOK,
         |$SH,
         |ds AS MATERIALIZED (
         |  SELECT DISTINCT d.source, s.sh
         |  FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
         |sig AS MATERIALIZED (
         |  SELECT source,
         |         $mins
         |  FROM ds GROUP BY 1),
         |pair AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST($matches AS BIGINT) AS n_match
         |  FROM sig a JOIN sig b ON a.source < b.source)
         |SELECT src_a, src_b, n_match,
         |       (1000000 * n_match) // $perms AS est_jaccard_ppm
         |FROM pair ORDER BY src_a, src_b""".stripMargin
    },
    // Token inflation of the near-dup partition: the 12-round cluster
    // chain + min-id canonicals + one token-mass rollup.
    "dedup_inflation" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |tk AS MATERIALIZED (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(lower(text),
         |             '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS toks
         |  FROM documents),
         |wt AS MATERIALIZED (
         |  SELECT l.node AS doc_id, l.component AS cluster_id, tk.toks
         |  FROM l12 l JOIN tk ON tk.doc_id = l.node),
         |keep AS (SELECT cluster_id, MIN(doc_id) AS keep_id FROM wt GROUP BY 1),
         |rem AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_removable,
         |         CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS tokens_removable
         |  FROM wt JOIN keep USING (cluster_id) WHERE doc_id <> keep_id),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS tokens_total
         |  FROM tk)
         |SELECT tot.n_docs, tot.tokens_total, rem.n_removable,
         |       rem.tokens_removable,
         |       CASE WHEN tot.tokens_total = 0 THEN 0
         |            ELSE CAST((1000000::HUGEINT * rem.tokens_removable)
         |                      // tot.tokens_total AS BIGINT) END AS removable_ppm
         |FROM tot, rem""".stripMargin,
    // Shard layout plan: md5-hash shard assignment (the Sketches
    // keyHash contract), per-shard doc/token masses, HUGEINT share.
    // The composed pipeline replayed end-to-end: the curate_pipeline
    // kept-set, the cluster chain REBUILT over the survivors'
    // signatures only (mhk — set-level stage semantics: clustering
    // runs on what curation left), non-canonical cluster members
    // dropped, and the shard_plan layout over the final corpus.
    "pipeline_chain" -> {
      import graft.functions.Sketches.keyHashSql
      s"""WITH $TOK,
         |$SH,
         |t AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |           THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |  FROM tok GROUP BY 1),
         |d AS (
         |  SELECT doc_id,
         |         floor((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |           / length(text)) * 10000 + 0.5) / 10000 AS digit_ratio
         |  FROM documents),
         |canon AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         |ckept AS MATERIALIZED (
         |  SELECT d.doc_id
         |  FROM d JOIN t ON d.doc_id = t.doc_id
         |  JOIN canon c ON d.doc_id = c.doc_id
         |  WHERE t.n_tokens >= 20 AND d.digit_ratio <= 0.3
         |    AND floor(least(1.0, t.n_tokens / 100.0) * (1.0 - d.digit_ratio)
         |          * 10000 + 0.5) / 10000 >= 0.2
         |    AND t.stopword_ratio >= 0.05),
         |mh AS MATERIALIZED (
         |  $minhashUnion),
         |mhk AS MATERIALIZED (
         |  SELECT mh.* FROM mh JOIN ckept USING (doc_id)),
         |${clusterChainFrom("mhk")},
         |fin AS MATERIALIZED (
         |  SELECT doc_id FROM ckept
         |  WHERE doc_id NOT IN (SELECT node FROM l12 WHERE node <> component)),
         |st AS (
         |  SELECT ${keyHashSql("doc_id")} % 16 AS shard,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
         |      AS BIGINT) AS toks
         |  FROM documents JOIN fin USING (doc_id)),
         |s AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(toks) AS BIGINT) AS n_tokens
         |      FROM st GROUP BY 1),
         |tot AS (SELECT SUM(n_tokens) AS total FROM s)
         |SELECT s.shard, s.n_docs, s.n_tokens,
         |       CAST((1000000::HUGEINT * s.n_tokens) // tot.total AS BIGINT)
         |         AS share_ppm
         |FROM s, tot ORDER BY shard""".stripMargin
    },
    "shard_plan" -> {
      import graft.functions.Sketches.keyHashSql
      s"""WITH t AS (
        |  SELECT ${keyHashSql("doc_id")} % 64 AS shard,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS BIGINT) AS toks
        |  FROM documents),
        |s AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |             CAST(SUM(toks) AS BIGINT) AS n_tokens
        |      FROM t GROUP BY 1),
        |tot AS (SELECT SUM(n_tokens) AS total FROM s)
        |SELECT s.shard, s.n_docs, s.n_tokens,
        |       CAST((1000000::HUGEINT * s.n_tokens) // tot.total AS BIGINT)
        |         AS share_ppm
        |FROM s, tot ORDER BY shard""".stripMargin
    },
    // Causally-ordered funnel: each stage's min-ts gates the next;
    // ratios are exact integer ppm floor-divs.
    "events_funnel" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1),
        |n AS (SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |             (SELECT COUNT(*) FROM c) AS n_click,
        |             (SELECT COUNT(*) FROM p) AS n_purchase)
        |SELECT n_view, n_click, n_purchase,
        |       CASE WHEN n_view = 0 THEN 0
        |            ELSE n_click * 1000000 // n_view END AS click_ppm,
        |       CASE WHEN n_click = 0 THEN 0
        |            ELSE n_purchase * 1000000 // n_click END AS purchase_ppm
        |FROM n""".stripMargin,
    // Full curation: the curate_pipeline gates composed with near-dup
    // cluster canonical selection (cluster CTEs above) and benchmark
    // decontamination (kgram CTEs as in `decontaminate`) — one boolean
    // decision record per document.
    "curate_full" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |kg AS (
         |${TextOps.kgramsSql(4)}),
         |kgd AS MATERIALIZED (SELECT DISTINCT doc_id, gh FROM kg),
         |bench AS (SELECT DISTINCT gh FROM kgd WHERE doc_id % 97 = 0),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hits
         |  FROM kgd WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM bench)
         |  GROUP BY 1),
         |t AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |           THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |  FROM tok GROUP BY 1),
         |dq AS (
         |  SELECT doc_id,
         |         floor((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |           / length(text)) * 10000 + 0.5) / 10000 AS digit_ratio
         |  FROM documents),
         |canon AS (SELECT MIN(doc_id) AS doc_id, TRUE AS is_canonical
         |          FROM documents GROUP BY md5(text)),
         |flags AS (
         |  SELECT dq.doc_id,
         |         (t.n_tokens >= 20 AND dq.digit_ratio <= 0.3
         |          AND floor(least(1.0, t.n_tokens / 100.0) * (1.0 - dq.digit_ratio) * 10000 + 0.5) / 10000
         |              >= 0.2) AS pass_quality,
         |         COALESCE(c.is_canonical, FALSE) AS is_canonical,
         |         (t.stopword_ratio >= 0.05) AS pass_lang
         |  FROM dq JOIN t ON dq.doc_id = t.doc_id
         |  LEFT JOIN canon c ON dq.doc_id = c.doc_id)
         |SELECT f.doc_id, pass_quality, is_canonical, pass_lang,
         |       COALESCE(l.component = f.doc_id, TRUE) AS pass_neardup,
         |       (f.doc_id % 97 = 0) AS is_bench,
         |       COALESCE(h.n_hits > 0, FALSE) AS contaminated,
         |       (pass_quality AND is_canonical AND pass_lang
         |        AND COALESCE(l.component = f.doc_id, TRUE)
         |        AND NOT (f.doc_id % 97 = 0)
         |        AND NOT COALESCE(h.n_hits > 0, FALSE)) AS kept
         |FROM flags f
         |LEFT JOIN l12 l ON l.node = f.doc_id
         |LEFT JOIN hits h ON h.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin,
    // Decontamination: distinct 4-gram overlap vs the benchmark subset.
    "decontaminate" ->
      s"""WITH $TOK,
         |kg AS (
         |${TextOps.kgramsSql(4)}),
         |kgd AS MATERIALIZED (SELECT DISTINCT doc_id, gh FROM kg),
         |bench AS (SELECT DISTINCT gh FROM kgd WHERE doc_id % 97 = 0),
         |hits AS (
         |  SELECT doc_id, COUNT(*) AS n_hits
         |  FROM kgd WHERE doc_id % 97 <> 0 AND gh IN (SELECT gh FROM bench)
         |  GROUP BY 1)
         |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
         |       COALESCE(h.n_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 97 <> 0
         |ORDER BY d.doc_id""".stripMargin,
    // Bloom-prefiltered decontamination: the benchmark grams fold to
    // distinct md5-window bit positions; a training gram "maybe hits"
    // iff all 3 of its positions are set. False positives are
    // deterministic and identical cross-engine.
    "decontaminate_bloom" -> {
      import graft.pipeline.Contamination.{bloomPosSql, KHashes}
      def posUnion(pred: String): String = (0 until KHashes).map { i =>
        s"SELECT doc_id, gh, ${bloomPosSql("gh", i)} AS pos FROM kgd WHERE $pred"
      }.mkString("\n  UNION ALL ")
      s"""WITH $TOK,
         |kg AS (
         |${TextOps.kgramsSql(4)}),
         |kgd AS MATERIALIZED (SELECT DISTINCT doc_id, gh FROM kg),
         |bbits AS MATERIALIZED (
         |  SELECT DISTINCT pos FROM (
         |  ${posUnion("doc_id % 97 = 0")})),
         |probe AS (
         |  ${posUnion("doc_id % 97 <> 0")}),
         |maybe AS (
         |  SELECT doc_id, gh FROM (
         |    SELECT doc_id, gh, COUNT(*) AS n_set
         |    FROM probe WHERE pos IN (SELECT pos FROM bbits)
         |    GROUP BY 1, 2)
         |  WHERE n_set = $KHashes),
         |m2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_maybe
         |       FROM maybe GROUP BY 1)
         |SELECT d.doc_id, COALESCE(m2.n_maybe, 0) AS n_maybe,
         |       COALESCE(m2.n_maybe, 0) > 0 AS flagged
         |FROM documents d LEFT JOIN m2 USING (doc_id)
         |WHERE d.doc_id % 97 <> 0
         |ORDER BY d.doc_id""".stripMargin
    },
    // PII scrub: Spark runs the real regex detector/redactor over the
    // deterministically injected spans; the oracle never runs a regex —
    // it CONSTRUCTS the expected counts and redacted string
    // arithmetically (the multimodal two-formulations pattern), so an
    // over- or under-matching pattern hash-mismatches immediately.
    "text_pii" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_emails,
        |         CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_ips,
        |         CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_phones,
        |         text
        |           || CASE WHEN doc_id % 3 = 0 THEN ' contact [EMAIL]' ELSE '' END
        |           || CASE WHEN doc_id % 4 = 0 THEN ' from [IP]' ELSE '' END
        |           || CASE WHEN doc_id % 5 = 0 THEN ' call [PHONE]' ELSE '' END
        |           AS redacted
        |  FROM documents)
        |SELECT doc_id, n_emails, n_ips, n_phones,
        |       CAST(length(redacted) AS BIGINT) AS redacted_len,
        |       md5(redacted) AS redacted_hash
        |FROM r ORDER BY doc_id""".stripMargin,
    "text_vocab" ->
      s"""WITH $TOK
         |SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf
         |FROM tok GROUP BY 1
         |ORDER BY df DESC, token
         |LIMIT 100""".stripMargin,
    // BPE merge induction, 3 unrolled rounds over the word-frequency
    // table. Double-space symbol encoding (see TextAnalysis.bpeMerges)
    // makes plain replace() the exact greedy merge on both engines.
    "vocab_bpe" ->
      s"""WITH $TOK,
         |${bpeChainCtes(3)}
         |SELECT * FROM (
         |  SELECT 1 AS merge_round, pr AS pair, merged, f AS pair_freq FROM top1
         |  UNION ALL SELECT 2, pr, merged, f FROM top2
         |  UNION ALL SELECT 3, pr, merged, f FROM top3)
         |ORDER BY merge_round""".stripMargin,
    // BPE applied: per-doc symbol counts after the 3 trained merges —
    // the same sym3 end state the induction oracle reaches, joined to
    // the per-doc term frequencies.
    "vocab_bpe_apply" ->
      s"""WITH $TOK,
         |${bpeChainCtes(3)},
         |nsym AS (SELECT token,
         |           CAST(len(string_split(trim(sym), '  ')) AS BIGINT) AS n_sym
         |         FROM sym3),
         |dtf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |       CAST(SUM(tf * n_sym) AS BIGINT) AS n_symbols
         |FROM dtf JOIN nsym USING (token)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // Mixture weights: integer-floor sqrt base (see
    // TextAnalysis.mixtureWeights) — weights are ratios of exact
    // integers, no float-summation-order hazard.
    "mix_weights" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        |           AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |         CAST(floor(sqrt(n_tokens * 1000000.0)) AS BIGINT) AS w
        |  FROM per),
        |tot AS (
        |  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |         CAST(SUM(w) AS BIGINT) AS tot_w
        |  FROM w)
        |SELECT source, n_docs, n_tokens,
        |       round(n_tokens / tot_tokens, 6) AS share,
        |       round(w / tot_w, 6) AS mix_weight,
        |       round((w / tot_w) / (n_tokens / tot_tokens), 4) AS upsample
        |FROM w, tot ORDER BY source""".stripMargin,
    // Banded-LSH near-dup: the oracle replays the 24-band × 5-plane
    // signature assignment, unions candidates across bands (DISTINCT),
    // then exact cosine >= tau rerank — same candidate space as the
    // Spark plan, no all-pairs anywhere. Projections are exact integer
    // dots over the 1e6-quantized vector (matching Similarity.quantize),
    // so the sign test is order-independent across engines.
    "dedup_embedding" ->
      s"""WITH $EX,
         |exq AS (SELECT vec_id, CAST(round(x * 1000000, 0) AS BIGINT) AS qx, i
         |        FROM ex WHERE vec_id % 2 = 0),
         |$NRM,
         |proj AS (
         |  SELECT vec_id, j,
         |         SUM(qx * (((((j * 64 + i) * (j * 64 + i)) % 10007) * 2654435761) % 97 - 48)) AS p
         |  FROM exq CROSS JOIN (SELECT unnest(range(120)) AS j)
         |  GROUP BY 1, 2),
         |bkt AS (
         |  SELECT vec_id, j // 5 AS band,
         |         SUM((CASE WHEN p > 0 THEN 1 ELSE 0 END)
         |             * CAST(power(2, j % 5) AS BIGINT)) AS bucket
         |  FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM bkt a
         |  JOIN bkt b ON a.band = b.band AND a.bucket = b.bucket
         |             AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT c.doc_a, c.doc_b, CAST(SUM(xa.qx * xb.qx) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN exq xa ON xa.vec_id = c.doc_a
         |  JOIN exq xb ON xb.vec_id = c.doc_b AND xa.i = xb.i
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, cosine FROM (
         |  SELECT doc_a, doc_b,
         |         floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cosine
         |  FROM dots
         |  JOIN nrm na ON doc_a = na.vec_id
         |  JOIN nrm nb ON doc_b = nb.vec_id)
         |WHERE cosine >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,
    // cost-model banding (AutoBanding, pinned n) + planted-twin input:
    // ex2 doubles the corpus with per-dim jittered copies (factor
    // 1 + ((d·7 mod 5) − 2)·0.2 over the DOUBLE-cast value, 0-based d
    // = i − 1), then the banded signature / candidate / rerank chain
    // is the same shape as dedup_embedding with (bands, planes) and τ
    // interpolated from the SAME Scala constants the Spark plan uses.
    "dedup_embedding_auto" -> {
      val (bands, planes) = AutoBanding
      s"""WITH $EX,
         |ex2 AS (
         |  SELECT vec_id, x, i FROM ex
         |  UNION ALL
         |  SELECT vec_id + 1099511627776, x * (1.0 + (((i - 1) * 7) % 5 - 2) * 0.2), i
         |  FROM ex),
         |exq AS (SELECT vec_id, CAST(round(x * 1000000, 0) AS BIGINT) AS qx, i FROM ex2),
         |nrm AS (
         |  SELECT vec_id, sqrt(CAST(SUM(qx * qx) AS DOUBLE)) AS nrm
         |  FROM exq GROUP BY 1 HAVING SUM(qx * qx) > 0),
         |proj AS (
         |  SELECT vec_id, j,
         |         SUM(qx * (((((j * 64 + i) * (j * 64 + i)) % 10007) * 2654435761) % 97 - 48)) AS p
         |  FROM exq CROSS JOIN (SELECT unnest(range(${bands * planes})) AS j)
         |  GROUP BY 1, 2),
         |bkt AS (
         |  SELECT vec_id, j // $planes AS band,
         |         SUM((CASE WHEN p > 0 THEN 1 ELSE 0 END)
         |             * CAST(power(2, j % $planes) AS BIGINT)) AS bucket
         |  FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM bkt a
         |  JOIN bkt b ON a.band = b.band AND a.bucket = b.bucket
         |             AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT c.doc_a, c.doc_b, CAST(SUM(xa.qx * xb.qx) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN exq xa ON xa.vec_id = c.doc_a
         |  JOIN exq xb ON xb.vec_id = c.doc_b AND xa.i = xb.i
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, cosine FROM (
         |  SELECT doc_a, doc_b,
         |         floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cosine
         |  FROM dots
         |  JOIN nrm na ON doc_a = na.vec_id
         |  JOIN nrm nb ON doc_b = nb.vec_id)
         |WHERE cosine >= $AutoTau
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "dedup_embedding_exact" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |pairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND a.vec_id < b.vec_id
         |  WHERE a.vec_id % 10 = 0
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, cosine FROM (
         |  SELECT doc_a, doc_b,
         |         floor(dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cosine
         |  FROM pairs
         |  JOIN nrm na ON doc_a = na.vec_id
         |  JOIN nrm nb ON doc_b = nb.vec_id)
         |WHERE cosine >= 0.4
         |ORDER BY doc_a, doc_b""".stripMargin,
    "sim_topk" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nb_id,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 100 = 0
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, nb_id AS neighbor_id,
         |         dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots
         |  JOIN nrm na ON query_id = na.vec_id
         |  JOIN nrm nb ON nb_id = nb.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY floor(cos * 1000000 + 0.5) DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cosine, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,
    // Label-drift: per-(label, dim) floor-mean of the quantized
    // coordinates (the Lloyd centroid contract), pairwise cosine of
    // the label means, zero-direction labels excluded via n2 > 0.
    "embed_drift" ->
      s"""WITH $EX,
         |$EXQ,
         |mv AS MATERIALIZED (
         |  SELECT CAST(e.label AS BIGINT) AS label, q.i,
         |         CAST(floor(SUM(q.qx) / COUNT(*)) AS BIGINT) AS m
         |  FROM exq q JOIN embeddings e ON q.vec_id = e.vec_id
         |  GROUP BY 1, 2),
         |nr AS (
         |  SELECT label, sqrt(CAST(SUM(m * m) AS DOUBLE)) AS nrm
         |  FROM mv GROUP BY 1 HAVING SUM(m * m) > 0),
         |dots AS (
         |  SELECT a.label AS label_a, b.label AS label_b,
         |         CAST(SUM(a.m * b.m) AS BIGINT) AS dot
         |  FROM mv a JOIN mv b ON a.i = b.i AND a.label < b.label
         |  GROUP BY 1, 2)
         |SELECT d.label_a, d.label_b,
         |       floor(d.dot / (na.nrm * nb.nrm) * 10000 + 0.5) / 10000 AS cosine
         |FROM dots d
         |JOIN nr na ON d.label_a = na.label
         |JOIN nr nb ON d.label_b = nb.label
         |ORDER BY label_a, label_b""".stripMargin,
    // ANN recall audit: the sim_topk brute-force chain (k=3) as
    // ground truth, the sim_lsh bucket chain (query side restricted
    // to the same sample) as the candidate, then two narrow aggs.
    "sim_recall_audit" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |tdots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nb_id,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 100 = 0
         |  GROUP BY 1, 2),
         |truth AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, nb_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY floor(dot / (na.nrm * nb.nrm) * 1000000 + 0.5)
         |               DESC, nb_id) AS rnk
         |    FROM tdots
         |    JOIN nrm na ON query_id = na.vec_id
         |    JOIN nrm nb ON nb_id = nb.vec_id)
         |  WHERE rnk <= 3),
         |proj AS (
         |  SELECT vec_id, j,
         |         SUM(qx * (((((j * 64 + i) * (j * 64 + i)) % 10007) * 2654435761) % 97 - 48)) AS p
         |  FROM exq CROSS JOIN (SELECT unnest(range(8)) AS j)
         |  GROUP BY 1, 2),
         |bkt AS MATERIALIZED (
         |  SELECT vec_id,
         |         SUM((CASE WHEN p > 0 THEN 1 ELSE 0 END)
         |             * CAST(power(2, j) AS BIGINT)) AS bucket
         |  FROM proj GROUP BY 1),
         |adots AS (
         |  SELECT xa.vec_id AS query_id, xb.vec_id AS nb_id,
         |         CAST(SUM(xa.qx * xb.qx) AS BIGINT) AS dot
         |  FROM bkt a
         |  JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  JOIN exq xa ON xa.vec_id = a.vec_id
         |  JOIN exq xb ON xb.vec_id = b.vec_id AND xa.i = xb.i
         |  JOIN nrm qn ON qn.vec_id = a.vec_id
         |  JOIN nrm cn ON cn.vec_id = b.vec_id
         |  WHERE a.vec_id % 100 = 0
         |  GROUP BY 1, 2),
         |approx AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, nb_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY floor(dot / (na.nrm * nb.nrm) * 1000000 + 0.5)
         |               DESC, nb_id) AS rnk
         |    FROM adots
         |    JOIN nrm na ON query_id = na.vec_id
         |    JOIN nrm nb ON nb_id = nb.vec_id)
         |  WHERE rnk <= 3),
         |hits AS (
         |  SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM truth t JOIN approx a
         |    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
         |  GROUP BY 1)
         |SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |       CAST(COALESCE(MAX(h.n_hit), 0) AS BIGINT) AS n_hit,
         |       (1000000 * COALESCE(MAX(h.n_hit), 0)) // COUNT(*) AS recall_ppm
         |FROM truth t LEFT JOIN hits h ON t.query_id = h.query_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // kNN label purity: the sim_topk ranking CTEs verbatim, then the
    // neighbors vote (count desc, label asc majority) against the
    // query's own label, aggregated per label.
    "embed_knn_purity" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS nb_id,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 100 = 0
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, nb_id AS neighbor_id,
         |         dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots
         |  JOIN nrm na ON query_id = na.vec_id
         |  JOIN nrm nb ON nb_id = nb.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY floor(cos * 1000000 + 0.5) DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM scored),
         |votes AS (
         |  SELECT r.query_id, CAST(e.label AS BIGINT) AS lbl, COUNT(*) AS c
         |  FROM ranked r JOIN embeddings e ON r.neighbor_id = e.vec_id
         |  WHERE r.rnk <= 5 GROUP BY 1, 2),
         |maj AS (
         |  SELECT query_id, lbl AS maj_label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY c DESC, lbl) AS rn
         |  FROM votes),
         |own AS (
         |  SELECT m.query_id, CAST(e.label AS BIGINT) AS own_label, m.maj_label
         |  FROM maj m JOIN embeddings e ON m.query_id = e.vec_id
         |  WHERE m.rn = 1)
         |SELECT own_label AS label, CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST(SUM(CASE WHEN maj_label = own_label THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_pure,
         |       CAST((1000000::HUGEINT *
         |             SUM(CASE WHEN maj_label = own_label THEN 1 ELSE 0 END))
         |            // COUNT(*) AS BIGINT) AS purity_ppm
         |FROM own GROUP BY 1 ORDER BY label""".stripMargin,
    "sim_lsh" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |proj AS (
         |  SELECT vec_id, j,
         |         SUM(qx * (((((j * 64 + i) * (j * 64 + i)) % 10007) * 2654435761) % 97 - 48)) AS p
         |  FROM exq CROSS JOIN (SELECT unnest(range(8)) AS j)
         |  GROUP BY 1, 2),
         |bkt AS (
         |  SELECT vec_id,
         |         SUM((CASE WHEN p > 0 THEN 1 ELSE 0 END)
         |             * CAST(power(2, j) AS BIGINT)) AS bucket
         |  FROM proj GROUP BY 1),
         |dots AS (
         |  SELECT xa.vec_id AS query_id, xb.vec_id AS nb_id,
         |         CAST(SUM(xa.qx * xb.qx) AS BIGINT) AS dot
         |  FROM bkt a
         |  JOIN bkt b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |  JOIN exq xa ON xa.vec_id = a.vec_id
         |  JOIN exq xb ON xb.vec_id = b.vec_id AND xa.i = xb.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, nb_id AS neighbor_id,
         |         dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots
         |  JOIN nrm na ON query_id = na.vec_id
         |  JOIN nrm nb ON nb_id = nb.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY floor(cos * 1000000 + 0.5) DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cosine, rnk
         |FROM ranked WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,
    "sim_ivf" -> {
      val (km, cents) = kmeansCtes(k = 16, iters = 2)
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |$km,
         |d2 AS (
         |  SELECT e.vec_id, c.cid,
         |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
         |  FROM exq e JOIN $cents c ON e.i = c.i GROUP BY 1, 2),
         |ranked_c AS (
         |  SELECT vec_id, cid,
         |         CAST(row_number() OVER (PARTITION BY vec_id
         |           ORDER BY dist, cid) AS INTEGER) AS crank
         |  FROM d2),
         |lists AS (SELECT cid, vec_id FROM ranked_c WHERE crank = 1),
         |probes AS (
         |  SELECT cid, vec_id AS query_id FROM ranked_c
         |  WHERE crank <= 2 AND vec_id % 100 = 0),
         |cand AS (
         |  SELECT p.query_id, l.vec_id AS nb_id
         |  FROM probes p JOIN lists l ON p.cid = l.cid AND l.vec_id <> p.query_id),
         |dots AS (
         |  SELECT c.query_id, c.nb_id, CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN exq a ON a.vec_id = c.query_id
         |  JOIN exq b ON b.vec_id = c.nb_id AND a.i = b.i
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT query_id, nb_id AS neighbor_id, dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots
         |  JOIN nrm na ON query_id = na.vec_id
         |  JOIN nrm nb ON nb_id = nb.vec_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY floor(cos * 1000000 + 0.5) DESC, neighbor_id) AS INTEGER) AS rnk
         |  FROM scored)
         |SELECT query_id, neighbor_id, floor(cos * 10000 + 0.5) / 10000 AS cosine, rnk
         |FROM ranked WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin
    },
    // Type-token ratio in exact ppm.
    "text_ttr" ->
      s"""WITH $TOK,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
         |       CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |       CAST((1000000 * COUNT(*)) // SUM(tf) AS BIGINT) AS ttr_ppm
         |FROM tf GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // N-gram novelty: distinct shingles with corpus df = 1, exact ppm.
    "text_novelty" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
         |dfq AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY 1)
         |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_unique,
         |       CAST((1000000 * SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END))
         |         // COUNT(*) AS BIGINT) AS novelty_ppm
         |FROM shd s JOIN dfq d USING (sh)
         |GROUP BY 1 ORDER BY s.doc_id""".stripMargin,
    // Templated-ness: distinct shingles with df*20 >= n_docs, exact ppm
    // (the novelty query's opposite tail; scale-free integer threshold).
    "text_template" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
         |dfq AS (SELECT sh, COUNT(*) AS df FROM shd GROUP BY 1),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
         |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN d.df * 20 >= nd.n_docs THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_common,
         |       CAST((1000000 * SUM(CASE WHEN d.df * 20 >= nd.n_docs
         |         THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS template_ppm
         |FROM shd s JOIN dfq d USING (sh), nd
         |GROUP BY 1 ORDER BY s.doc_id""".stripMargin,
    // DAU/WAU/stickiness: trailing-7-day distinct via the bounded
    // contribution explode (day-user rows fan to their 7 target days,
    // clipped at the last observed day), never a window distinct.
    "events_active" ->
      """WITH ad AS MATERIALIZED (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |mx AS (SELECT MAX(day) AS max_day FROM ad),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ad GROUP BY 1),
        |contrib AS (
        |  SELECT ad.user_id,
        |         unnest(range(ad.day, least(ad.day + 7, mx.max_day + 1))) AS day
        |  FROM ad, mx),
        |wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY 1)
        |SELECT CAST(dau.day * 86400000 AS BIGINT) AS day_start_ms,
        |       CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
        |       CAST((1000000 * dau.dau) // wau.wau AS BIGINT) AS stickiness_ppm
        |FROM dau JOIN wau USING (day)
        |ORDER BY day_start_ms""".stripMargin,
    // Zipf fit: regression sums over ln(exact longs) rounded 6dp,
    // slope floor-form 4dp, intercept reuses the ROUNDED slope.
    "text_zipf" ->
      s"""WITH $TOK,
         |ctf AS (SELECT token, COUNT(*) AS ctf FROM tok GROUP BY 1),
         |rk AS (
         |  SELECT ln(CAST(row_number() OVER (ORDER BY ctf DESC, token)
         |           AS DOUBLE)) AS x,
         |         ln(CAST(ctf AS DOUBLE)) AS y
         |  FROM ctf
         |  QUALIFY row_number() OVER (ORDER BY ctf DESC, token) <= 30),
         |s AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |         round(SUM(x), 6) AS sx, round(SUM(y), 6) AS sy,
         |         round(SUM(x * y), 6) AS sxy, round(SUM(x * x), 6) AS sxx
         |  FROM rk),
         |sl AS (
         |  SELECT k, sx, sy,
         |         floor((k * sxy - sx * sy) / (k * sxx - sx * sx) * 10000
         |           + 0.5) / 10000 AS slope
         |  FROM s)
         |SELECT k AS n_tokens, slope,
         |       floor((sy - slope * sx) / k * 10000 + 0.5) / 10000 AS intercept
         |FROM sl""".stripMargin,
    // Source-vs-corpus unigram KL: exact counts inside the logs, the
    // entropy contract's 4dp round on the weighted sum, floor-form
    // 4dp on the final per-token divide.
    "text_source_kl" ->
      s"""WITH $TOK,
         |tf AS (
         |  SELECT d.source, t.token, COUNT(*) AS c_st
         |  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ct AS (SELECT token, SUM(c_st) AS c_t FROM tf GROUP BY 1),
         |ns AS (SELECT source, SUM(c_st) AS n_s FROM tf GROUP BY 1),
         |n AS (SELECT SUM(c_t) AS n FROM ct),
         |s AS (
         |  SELECT tf.source, CAST(MAX(ns.n_s) AS BIGINT) AS n_tokens,
         |         round(SUM(tf.c_st * (ln(CAST(tf.c_st AS DOUBLE))
         |           + ln(CAST(n.n AS DOUBLE)) - ln(CAST(ns.n_s AS DOUBLE))
         |           - ln(CAST(ct.c_t AS DOUBLE)))), 4) AS skl
         |  FROM tf JOIN ct USING (token) JOIN ns USING (source), n
         |  GROUP BY 1)
         |SELECT source, n_tokens,
         |       floor(skl / n_tokens * 10000 + 0.5) / 10000 AS kl
         |FROM s ORDER BY source""".stripMargin,
    // Containment join: candidates REPLAY the df-cap rare-shingle
    // generation (the cap is part of the operator's contract, not a
    // lossless filter like the Jaccard prefix), then exact intersects
    // and the integer threshold den·|∩| ≥ num·min(na, nb).
    "dedup_containment" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
         |rare AS (SELECT sh FROM shd GROUP BY sh HAVING COUNT(*) <= 20),
         |rs AS (SELECT shd.doc_id, shd.sh FROM shd JOIN rare USING (sh)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM rs x JOIN rs y ON x.sh = y.sh AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
         |  FROM cand c
         |  JOIN shd x ON x.doc_id = c.doc_a
         |  JOIN shd y ON y.doc_id = c.doc_b AND y.sh = x.sh
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, sa.n_sh AS na, sb.n_sh AS nb,
         |       CAST(inter AS BIGINT) AS inter,
         |       floor(inter / sa.n_sh * 10000 + 0.5) / 10000 AS cont_a,
         |       floor(inter / sb.n_sh * 10000 + 0.5) / 10000 AS cont_b
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 5 >= least(sa.n_sh, sb.n_sh) * 4
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Cluster summary: the sim_ivf/dedup_semantic training replay +
    // final assignment keeping the chosen distance; the per-cluster
    // distance sum rides HUGEINT (Spark widens via DECIMAL(38,0)),
    // the reported mean is back in long range.
    "embed_cluster" -> {
      val (km, cents) = kmeansCtes(k = 16, iters = 2)
      s"""WITH $EX,
         |$EXQ,
         |$km,
         |asg_d AS (
         |  SELECT e.vec_id, c.cid,
         |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
         |  FROM exq e JOIN $cents c ON e.i = c.i GROUP BY 1, 2),
         |asg AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |           row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist, cid) AS rn
         |    FROM asg_d) t WHERE rn = 1)
         |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(SUM(dist) // COUNT(*) AS BIGINT) AS avg_dist
         |FROM asg GROUP BY 1 ORDER BY cid""".stripMargin
    },
    // SemDeDup: the sim_ivf training replay (same kmeansCtes chain)
    // + final assignment + IN-CLUSTER pairwise integer cosines; a
    // dropped vector keeps its smallest qualifying anchor
    // (row_number over anchor id — deterministic both engines).
    "dedup_semantic" -> {
      val (km, cents) = kmeansCtes(k = 16, iters = 2)
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |$km,
         |asg_d AS (
         |  SELECT e.vec_id, c.cid,
         |         CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
         |  FROM exq e JOIN $cents c ON e.i = c.i GROUP BY 1, 2),
         |asg AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM asg_d) t WHERE rn = 1),
         |prs AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, a.cid
         |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |dots AS (
         |  SELECT pr.va, pr.vb, pr.cid, CAST(SUM(ea.qx * eb.qx) AS BIGINT) AS dot
         |  FROM prs pr
         |  JOIN exq ea ON ea.vec_id = pr.va
         |  JOIN exq eb ON eb.vec_id = pr.vb AND eb.i = ea.i
         |  GROUP BY 1, 2, 3),
         |cosr AS (
         |  SELECT va, vb, cid, dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots JOIN nrm na ON va = na.vec_id JOIN nrm nb ON vb = nb.vec_id
         |  WHERE dot / (na.nrm * nb.nrm) >= 0.4),
         |best AS (
         |  SELECT vb AS vec_id, cid, va AS anchor_id, cos,
         |         row_number() OVER (PARTITION BY vb ORDER BY va) AS rn
         |  FROM cosr)
         |SELECT vec_id, cid, anchor_id, floor(cos * 10000 + 0.5) / 10000 AS cosine
         |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },
    "text_langid" ->
      s"""WITH $TOK
         |SELECT doc_id, stopword_ratio,
         |       CASE WHEN stopword_ratio >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_pred
         |FROM (
         |  SELECT doc_id,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |           THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |  FROM tok GROUP BY doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH $TOK,
         |t AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         floor(AVG(length(token)) * 10000 + 0.5) / 10000 AS avg_token_len,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |           THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |  FROM tok GROUP BY 1),
         |d AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |         floor((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |           / length(text)) * 10000 + 0.5) / 10000 AS digit_ratio
         |  FROM documents)
         |SELECT d.doc_id, n_chars, n_tokens, avg_token_len, stopword_ratio, digit_ratio,
         |       floor(least(1.0, n_tokens / 100.0) * (1.0 - digit_ratio) * 10000 + 0.5) / 10000 AS quality
         |FROM d JOIN t ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, ' +'), x -> x <> '')) AS BIGINT)
        |    AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |    AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""WITH $TOK,
         |$SH
         |SELECT doc_id, MIN(sh) AS fingerprint,
         |       COUNT(DISTINCT sh) AS n_distinct_shingles
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |       event_type, COUNT(*) AS n, round(SUM(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "events_topk" ->
      """WITH hc AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |         event_type, COUNT(*) AS n, round(SUM(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, sum_value, rnk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY hour
        |    ORDER BY n DESC, event_type) AS INTEGER) AS rnk
        |  FROM hc) t
        |WHERE rnk <= 3 ORDER BY hour, rnk""".stripMargin,
    // Every ratio is a small-integer division rounded floor-form —
    // one IEEE divide + one floor per value, replayed verbatim.
    "text_repetition" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     x -> x <> '') AS w
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, w, len(w) AS n_words,
        |    CASE WHEN len(w) >= 2
        |         THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
        |         ELSE [] END AS g
        |  FROM w)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CASE WHEN n_words > 0
        |       THEN floor((n_words - len(list_distinct(w))) / n_words * 10000 + 0.5) / 10000
        |       ELSE 0.0 END AS dup_word_frac,
        |  CASE WHEN len(g) > 0
        |       THEN floor((len(g) - len(list_distinct(g))) / len(g) * 10000 + 0.5) / 10000
        |       ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN n_words > 0
        |       THEN floor(list_max(list_transform(list_distinct(w),
        |              t -> len(list_filter(w, x -> x = t)))) / n_words * 10000 + 0.5) / 10000
        |       ELSE 0.0 END AS top_word_frac
        |FROM b ORDER BY doc_id""".stripMargin,
    // key = sh·10⁹ + (10⁹−1−seq): integer MIN == (hash asc, pos desc)
    // arg-min, the winnowing rightmost-tie rule; decode is integer
    // div/mod on both engines (a double divide would lose precision
    // above 2⁵³).
    "text_winnow" ->
      s"""WITH $TOK,
        |sq AS (
        |${graft.functions.TextOps.shinglesSeqSql}),
        |k AS (SELECT doc_id, seq, sh * 1000000000 + (999999999 - seq) AS key
        |      FROM sq WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id,
        |        MIN(key) OVER (PARTITION BY doc_id ORDER BY seq
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
        |        COUNT(*) OVER (PARTITION BY doc_id ORDER BY seq
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |      FROM k),
        |sel AS (SELECT DISTINCT doc_id, mk FROM w WHERE wn = 4)
        |SELECT doc_id, 999999999 - (mk % 1000000000) AS pos,
        |       mk // 1000000000 AS fingerprint
        |FROM sel ORDER BY doc_id, pos""".stripMargin,
    // Winnow-pair overlap localization: the text_winnow chain over the
    // FULL corpus, df-capped fingerprints (≤100 docs), shared-count
    // join with the ≥2 gate.
    "text_winnow_pairs" ->
      s"""WITH $TOK,
        |sq AS (
        |${graft.functions.TextOps.shinglesSeqSql}),
        |k AS (SELECT doc_id, seq, sh * 1000000000 + (999999999 - seq) AS key
        |      FROM sq),
        |w AS (SELECT doc_id,
        |        MIN(key) OVER (PARTITION BY doc_id ORDER BY seq
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk,
        |        COUNT(*) OVER (PARTITION BY doc_id ORDER BY seq
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |      FROM k),
        |sel AS (SELECT DISTINCT doc_id, mk FROM w WHERE wn = 4),
        |fp AS (SELECT DISTINCT doc_id, mk // 1000000000 AS fingerprint FROM sel),
        |okfp AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING COUNT(*) <= 100),
        |fpc AS MATERIALIZED (
        |  SELECT fp.doc_id, fp.fingerprint FROM fp JOIN okfp USING (fingerprint))
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM fpc x JOIN fpc y
        |  ON x.fingerprint = y.fingerprint AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY 1, 2""".stripMargin,
    "events_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |           AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |       round(SUM(value), 2) AS sum_value
        |FROM sess
        |GROUP BY 1, 2
        |ORDER BY user_id, session_id""".stripMargin,
    "curate_pipeline" ->
      s"""WITH $TOK,
         |t AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |           THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |  FROM tok GROUP BY 1),
         |d AS (
         |  SELECT doc_id,
         |         floor((CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |           / length(text)) * 10000 + 0.5) / 10000 AS digit_ratio,
         |         md5(text) AS h
         |  FROM documents),
         |canon AS (SELECT MIN(doc_id) AS doc_id, TRUE AS is_canonical
         |          FROM documents GROUP BY md5(text)),
         |j AS (
         |  SELECT d.doc_id, t.n_tokens,
         |         floor(least(1.0, t.n_tokens / 100.0) * (1.0 - d.digit_ratio) * 10000 + 0.5) / 10000
         |           AS quality,
         |         CASE WHEN t.stopword_ratio >= 0.05 THEN 'en' ELSE 'unknown' END
         |           AS lang_pred,
         |         COALESCE(c.is_canonical, FALSE) AS is_canonical,
         |         d.digit_ratio
         |  FROM d JOIN t ON d.doc_id = t.doc_id
         |  LEFT JOIN canon c ON d.doc_id = c.doc_id)
         |SELECT doc_id, n_tokens, quality, lang_pred,
         |       (n_tokens >= 20 AND digit_ratio <= 0.3 AND quality >= 0.2)
         |         AS pass_quality,
         |       is_canonical,
         |       (lang_pred = 'en') AS pass_lang,
         |       (n_tokens >= 20 AND digit_ratio <= 0.3 AND quality >= 0.2
         |        AND is_canonical AND lang_pred = 'en') AS kept
         |FROM j
         |ORDER BY doc_id""".stripMargin,
    "events_asof" ->
      """WITH u AS (
        |  SELECT user_id, ts AS t, 1 AS tag, CAST(NULL AS DOUBLE) AS rv
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, 0, value FROM events WHERE event_type = 'view'),
        |w AS (
        |  SELECT user_id, t, tag,
        |         last_value(rv IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY t, tag
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_v
        |  FROM u)
        |SELECT user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       round(COALESCE(asof_v, -1.0), 2) AS last_view_value
        |FROM w WHERE tag = 1
        |ORDER BY user_id, purchase_ts""".stripMargin,
    "events_quantiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.9), 4) AS p90,
        |       round(quantile_cont(value, 0.99), 4) AS p99,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "embed_quantize" ->
      s"""WITH $EX,
         |ma AS (SELECT vec_id, MAX(abs(x)) AS maxabs FROM ex GROUP BY 1),
         |codes AS (
         |  SELECT e.vec_id, e.x, m.maxabs,
         |         CASE WHEN m.maxabs = 0 THEN 0
         |              ELSE CAST(round(e.x * 127.0 / m.maxabs, 0) AS BIGINT)
         |         END AS c
         |  FROM ex e JOIN ma m USING (vec_id))
         |SELECT vec_id, round(maxabs / 127.0, 8) AS scale,
         |       CAST(SUM(c) AS BIGINT) AS code_sum,
         |       CAST(SUM(c * c) AS BIGINT) AS code_sq_sum,
         |       round(SUM((x - c * maxabs / 127.0) * (x - c * maxabs / 127.0))
         |             / COUNT(*), 8) AS recon_mse
         |FROM codes GROUP BY vec_id, maxabs
         |ORDER BY vec_id""".stripMargin,
    "events_rolling" ->
      """SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |       CAST(row_number() OVER w AS INTEGER) AS rn,
        |       round(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll_avg,
        |       round(MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 2) AS roll_max
        |FROM events
        |WHERE user_id % 20 = 0
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, rn""".stripMargin,
    // Integer z-score outliers (see TemporalOps.eventAnomalies): the
    // z > 2 test is (n*qx - S)^2 > 4*(n*Sq - S^2) over exact cent sums.
    "events_anomaly" ->
      """WITH q AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
        |  FROM events WHERE user_id % 20 = 0),
        |st AS (
        |  SELECT user_id, COUNT(*) AS n,
        |         CAST(SUM(value_cents) AS BIGINT) AS s,
        |         CAST(SUM(value_cents * value_cents) AS BIGINT) AS sq
        |  FROM q GROUP BY 1)
        |SELECT q.user_id, q.event_id, q.value_cents,
        |       (st.n * st.sq - st.s * st.s > 0 AND
        |        (st.n * q.value_cents - st.s) * (st.n * q.value_cents - st.s)
        |          > 4 * (st.n * st.sq - st.s * st.s)) AS is_outlier
        |FROM q JOIN st USING (user_id)
        |ORDER BY q.user_id, q.event_id""".stripMargin,
    // CUSUM changepoints (see TemporalOps.cusum): running n-scaled
    // deviation sums, drift = distance from the running extreme,
    // earliest max-drift rank. Unique (ts, event_id) order makes the
    // default RANGE running frame identical to Spark's ROWS frame.
    "events_cusum" ->
      """WITH q AS (
        |  SELECT user_id, event_id, ts,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        |  FROM events),
        |e AS (
        |  SELECT user_id,
        |         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
        |         CAST(SUM(x) OVER (PARTITION BY user_id) AS BIGINT) AS s,
        |         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
        |         CAST(SUM(x) OVER w AS BIGINT) AS cx
        |  FROM q
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT user_id, n, rn, n * cx - rn * s AS cs FROM e),
        |c2 AS (
        |  SELECT user_id, n, rn, cs,
        |         cs - MIN(cs) OVER v AS up,
        |         MAX(cs) OVER v - cs AS down
        |  FROM c
        |  WINDOW v AS (PARTITION BY user_id ORDER BY rn)),
        |c3 AS (
        |  SELECT user_id, n, rn, up, down,
        |         abs(cs) AS adev,
        |         MAX(abs(cs)) OVER (PARTITION BY user_id) AS mdev
        |  FROM c2)
        |SELECT user_id, MAX(n) AS n_events,
        |       CAST(MAX(up) AS BIGINT) AS max_up,
        |       CAST(MAX(down) AS BIGINT) AS max_down,
        |       CAST(MIN(CASE WHEN adev = mdev THEN rn END) AS BIGINT)
        |         AS cp_rank
        |FROM c3 GROUP BY 1 ORDER BY user_id""".stripMargin,
    // MAD: both medians rank-selected at ⌊(n+1)/2⌋ with event_id
    // tie-break — no interpolation anywhere, so the replay is exact.
    "events_mad" ->
      """WITH q AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        |  FROM events),
        |r AS (
        |  SELECT user_id, x,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY x, event_id)
        |           AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM q),
        |m AS (SELECT user_id, x AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (
        |  SELECT q.user_id, q.event_id, m.med, abs(q.x - m.med) AS d
        |  FROM q JOIN m USING (user_id)),
        |r2 AS (
        |  SELECT user_id, d,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d, event_id)
        |           AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM d),
        |md AS (SELECT user_id, d AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT d.user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MAX(d.med) AS BIGINT) AS med_cents,
        |       CAST(MAX(md.mad) AS BIGINT) AS mad_cents,
        |       CAST(SUM(CASE WHEN d.d > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers
        |FROM d JOIN md USING (user_id)
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    "events_seasonal" ->
      """WITH e AS (
        |  SELECT event_type,
        |         (epoch_ms(ts) // 3600000) % 24 AS hour,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS x
        |  FROM events),
        |p AS (
        |  SELECT event_type, hour, SUM(x) // COUNT(*) AS mean_cents
        |  FROM e GROUP BY 1, 2)
        |SELECT e.event_type, CAST(e.hour AS BIGINT) AS hour,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MAX(p.mean_cents) AS BIGINT) AS mean_cents,
        |       CAST(SUM(abs(e.x - p.mean_cents)) AS BIGINT) AS sae_cents
        |FROM e JOIN p USING (event_type, hour)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sample_stratified" ->
      s"""WITH $TOK,
         |lid AS (
         |  SELECT doc_id,
         |         CASE WHEN floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |                THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 >= 0.05
         |              THEN 'en' ELSE 'unknown' END AS stratum
         |  FROM tok GROUP BY doc_id),
         |h AS (SELECT doc_id, stratum, md5(CAST(doc_id AS VARCHAR)) AS h FROM lid),
         |r AS (
         |  SELECT doc_id, stratum,
         |         CAST(row_number() OVER (PARTITION BY stratum ORDER BY h, doc_id)
         |           AS INTEGER) AS rn
         |  FROM h)
         |SELECT doc_id, stratum, rn FROM r WHERE rn <= 50
         |ORDER BY stratum, rn""".stripMargin,
    // threshold form: same langid strata, pure hash-prefix filter
    // (frac=0.25 → cutoff '4000'), no window anywhere
    "sample_threshold" ->
      s"""WITH $TOK,
         |lid AS (
         |  SELECT doc_id,
         |         CASE WHEN floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |                THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 >= 0.05
         |              THEN 'en' ELSE 'unknown' END AS stratum
         |  FROM tok GROUP BY doc_id),
         |h AS (SELECT doc_id, stratum, md5(CAST(doc_id AS VARCHAR)) AS h FROM lid)
         |SELECT doc_id, stratum, h FROM h
         |WHERE substr(h, 1, 4) < '4000'
         |ORDER BY stratum, doc_id""".stripMargin,
    // exact-k form: k smallest md5 ranks, no window, no rate rounding
    "sample_fixed_k" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |FROM documents
        |ORDER BY h
        |LIMIT 200""".stripMargin,
    // priority sampling: 48-bit md5 rank floor-divided by the
    // canonical token count; k smallest (priority, doc_id)
    "sample_weighted_k" ->
      s"""WITH $TOK,
        |w AS (
        |  SELECT d.doc_id, GREATEST(COALESCE(t.n, 0), 1) AS weight
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |    FROM tok GROUP BY 1) t ON d.doc_id = t.doc_id)
        |SELECT doc_id, weight,
        |       CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
        |            AS BIGINT) // weight AS priority
        |FROM w
        |ORDER BY priority, doc_id
        |LIMIT 200""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(doc_id // 1000 AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens, shard,
        |       CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
        |       CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset,
        |       CAST(CASE WHEN n_tokens = 0 THEN 1
        |                 ELSE (cum - 1) // 2048 - (cum - n_tokens) // 2048 + 1
        |            END AS BIGINT) AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin,
    // Spark round-trips real container bytes (synthesized PNG/JPEG/WAV
    // headers, parsed back by magic-byte sniffing); the oracle replays
    // the header fields arithmetically — same deterministic mapping,
    // two independent formulations.
    "multimodal_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                 ELSE doc_id % 509 + 16 END AS BIGINT) AS width,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                 ELSE (doc_id * 7) % 509 + 16 END AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN 8000 * (doc_id % 5 + 1)
        |                 ELSE -1 END AS BIGINT) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 2 + 1
        |                 ELSE -1 END AS BIGINT) AS channels,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 45
        |                 WHEN doc_id % 3 = 1 THEN 23
        |                 ELSE 44 + (doc_id % 1000 + 1) * (doc_id % 2 + 1) * 2
        |            END AS BIGINT) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Per-format profile over the decoded headers: the meta replay
    // wrapped in a GROUP BY; absent fields are uniformly −1 per
    // format so the integer-floor means stay exactly −1.
    "multimodal_stats" ->
      """WITH meta AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         CASE CAST(doc_id % 3 AS INTEGER)
        |           WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                   ELSE doc_id % 509 + 16 END AS BIGINT) AS width,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                   ELSE (doc_id * 7) % 509 + 16 END AS BIGINT) AS height,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN 8000 * (doc_id % 5 + 1)
        |                   ELSE -1 END AS BIGINT) AS sample_rate,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 2 + 1
        |                   ELSE -1 END AS BIGINT) AS channels,
        |         CAST(CASE WHEN doc_id % 3 = 0 THEN 45
        |                   WHEN doc_id % 3 = 1 THEN 23
        |                   ELSE 44 + (doc_id % 1000 + 1) * (doc_id % 2 + 1) * 2
        |              END AS BIGINT) AS byte_len
        |  FROM documents)
        |SELECT format, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(byte_len) AS BIGINT) AS total_bytes,
        |       CAST(SUM(width) // COUNT(*) AS BIGINT) AS avg_width,
        |       CAST(SUM(height) // COUNT(*) AS BIGINT) AS avg_height,
        |       CAST(SUM(sample_rate) // COUNT(*) AS BIGINT) AS avg_rate,
        |       CAST(SUM(channels) // COUNT(*) AS BIGINT) AS avg_channels
        |FROM meta GROUP BY 1 ORDER BY format""".stripMargin,
    // Rank-selected payload-size percentiles per format: the
    // multimodal_stats byte_len replay + the events_mad selection.
    "multimodal_sizes" ->
      """WITH meta AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         CASE CAST(doc_id % 3 AS INTEGER)
        |           WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        |         CAST(CASE WHEN doc_id % 3 = 0 THEN 45
        |                   WHEN doc_id % 3 = 1 THEN 23
        |                   ELSE 44 + (doc_id % 1000 + 1) * (doc_id % 2 + 1) * 2
        |              END AS BIGINT) AS byte_len
        |  FROM documents),
        |r AS (
        |  SELECT format, byte_len,
        |         row_number() OVER (PARTITION BY format
        |           ORDER BY byte_len, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY format) AS n
        |  FROM meta)
        |SELECT format, CAST(MAX(n) AS BIGINT) AS n,
        |       CAST(MIN(byte_len) AS BIGINT) AS min_bytes,
        |       CAST(MAX(byte_len) AS BIGINT) AS max_bytes,
        |       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN byte_len END)
        |            AS BIGINT) AS med_bytes,
        |       CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN byte_len END)
        |            AS BIGINT) AS p90_bytes
        |FROM r GROUP BY 1 ORDER BY format""".stripMargin,
    // Power-of-two length histogram: highest set bit via bin-string
    // length on both engines.
    "text_length_hist" ->
      """WITH t AS (
        |  SELECT CAST(len(regexp_extract_all(lower(text),
        |             '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n
        |  FROM documents)
        |SELECT CASE WHEN n = 0 THEN -1
        |            ELSE CAST(length(bin(n)) - 1 AS BIGINT) END AS bucket_log2,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM t GROUP BY 1 ORDER BY bucket_log2""".stripMargin,
    // Per-dimension mean/variance of the quantized coordinates:
    // HUGEINT square sums, variance floored once into q² units.
    "embed_dims" ->
      s"""WITH $EX,
         |$EXQ,
         |st AS (
         |  SELECT i, COUNT(*) AS n, SUM(qx) AS s,
         |         SUM(qx::HUGEINT * qx) AS q
         |  FROM exq GROUP BY 1)
         |SELECT CAST(i - 1 AS BIGINT) AS dim,
         |       CAST(floor(s / n) AS BIGINT) AS mean_q,
         |       CAST((n::HUGEINT * q - s::HUGEINT * s)
         |            // (n::HUGEINT * n) AS BIGINT) AS var_q
         |FROM st ORDER BY dim""".stripMargin,
    // Byte-level payload dedup: Spark groups on md5 of the real
    // container bytes; the oracle replays the equivalence classes
    // arithmetically (byte-equal iff (format, header params) equal —
    // the synthesis guarantee the decoder rides too).
    "multimodal_dedup" ->
      """WITH cls AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 3 AS INTEGER) AS fmt,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN 8000 * (doc_id % 5 + 1)
        |                   ELSE doc_id % 509 + 16 END AS BIGINT) AS p1,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 2 + 1
        |                   ELSE (doc_id * 7) % 509 + 16 END AS BIGINT) AS p2,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 1000 + 1
        |                   ELSE 0 END AS BIGINT) AS p3,
        |         CAST(CASE WHEN doc_id % 3 = 0 THEN 45
        |                   WHEN doc_id % 3 = 1 THEN 23
        |                   ELSE 44 + (doc_id % 1000 + 1) * (doc_id % 2 + 1) * 2
        |              END AS BIGINT) AS byte_len
        |  FROM documents)
        |SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies,
        |       CAST(MIN(byte_len) AS BIGINT) AS byte_len
        |FROM cls GROUP BY fmt, p1, p2, p3
        |ORDER BY canonical_id""".stripMargin,
    // Signed random projection: the weight table is the SAME integer
    // hash both engines compute (k = j·64 + i, i 1-based); every
    // projection is a sum of exact long products — order-free.
    "embed_project" ->
      s"""WITH $EX,
         |$EXQ,
         |w AS (
         |  SELECT i, j,
         |         ((((j * 64 + i) * (j * 64 + i)) % 10007) * 2246822519) % 97 - 48
         |           AS w
         |  FROM (SELECT unnest(range(1, 65)) AS i)
         |  CROSS JOIN (SELECT unnest(range(16)) AS j))
         |SELECT vec_id, CAST(j AS INTEGER) AS j,
         |       CAST(SUM(qx * w) AS BIGINT) AS proj
         |FROM exq JOIN w USING (i)
         |GROUP BY 1, 2 ORDER BY vec_id, j""".stripMargin,
    // tf·idf keywords: score fixed-point-floored to micro units BEFORE
    // the rank cut (longs compare exactly), ties on token asc.
    "text_keywords" ->
      s"""WITH $TOK,
         |$TF,
         |dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |nn AS (SELECT COUNT(*) AS n FROM documents),
         |sc AS (
         |  SELECT doc_id, token, tf, df,
         |         CAST(floor(tf * ln((n + 1.0) / (df + 1.0)) * 1000000 + 0.5)
         |           AS BIGINT) AS score_micro
         |  FROM tf JOIN dfq USING (token), nn)
         |SELECT doc_id, kw_rank, token, tf, df, score_micro FROM (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score_micro DESC, token) AS INTEGER)
         |    AS kw_rank
         |  FROM sc) r
         |WHERE kw_rank <= 3
         |ORDER BY doc_id, kw_rank""".stripMargin,
    // Uniform token-mass rebalance: integer rate, 4-hex md5 cut (the
    // sample_threshold draw), min source keeps everything.
    "sample_balance" ->
      """WITH per AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         CAST(SUM(len(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |mn AS (SELECT MIN(n_tokens) AS min_tokens FROM per),
        |rates AS (
        |  SELECT source, n_docs, n_tokens,
        |         (1000000 * min_tokens) // n_tokens AS rate_ppm,
        |         ((1000000 * min_tokens) // n_tokens * 65536) // 1000000 AS cut
        |  FROM per, mn),
        |kept AS (
        |  SELECT d.source, COUNT(*) AS n_kept
        |  FROM documents d JOIN rates r USING (source)
        |  WHERE r.cut >= 65536
        |     OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |        < lpad(lower(hex(r.cut)), 4, '0')
        |  GROUP BY 1)
        |SELECT r.source, r.n_docs, r.n_tokens, r.rate_ppm,
        |       COALESCE(k.n_kept, 0) AS n_kept
        |FROM rates r LEFT JOIN kept k USING (source)
        |ORDER BY r.source""".stripMargin,
    // Deterministic 80/10/10 split manifest: 4-hex md5(doc_id) prefix
    // cut at 0xCCCC/0xE666 (exact ⌊0.8·65536⌋/⌊0.9·65536⌋), canonical
    // token mass, exact doc-share ppm.
    "split_assign" ->
      """WITH a AS (
        |  SELECT CAST(len(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tok,
        |         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        |  FROM documents),
        |per AS (
        |  SELECT CASE WHEN h < 'cccc' THEN 'train'
        |              WHEN h < 'e666' THEN 'valid'
        |              ELSE 'test' END AS split,
        |         CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM a GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS td FROM per)
        |SELECT split, n_docs, n_tokens,
        |       (1000000 * n_docs) // td AS share_ppm
        |FROM per, tot ORDER BY split""".stripMargin,
    // Identical leading-16-token head groups: canonical tokens,
    // md5-keyed aggregate, >= 2 members.
    "dedup_head" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_slice(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9 ]'), 1, 16), ' ')) AS head_md5
        |  FROM documents)
        |SELECT head_md5, COUNT(*) AS n_docs,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM h GROUP BY 1 HAVING COUNT(*) >= 2
        |ORDER BY head_md5""".stripMargin,
    // Leakage-safe lag/rolling feature frame on the 1-in-25 user
    // slice: lag1/lag2 cents with -1 sentinels, trailing-3 floor
    // mean, (ts, event_id) total order.
    "events_lag_features" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE user_id % 25 = 3),
        |f AS (
        |  SELECT user_id, event_id, ms, cents,
        |         COALESCE(lag(cents, 1) OVER w, -1) AS lag1_cents,
        |         COALESCE(lag(cents, 2) OVER w, -1) AS lag2_cents,
        |         COUNT(cents) OVER wp AS p_n,
        |         COALESCE(SUM(cents) OVER wp, 0) AS p_s
        |  FROM m
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id),
        |         wp AS (PARTITION BY user_id ORDER BY ms, event_id
        |                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ms, cents, lag1_cents, lag2_cents,
        |       CAST(CASE WHEN p_n = 0 THEN -1 ELSE p_s // p_n END AS BIGINT)
        |         AS prev3_mean_cents
        |FROM f ORDER BY user_id, ms, event_id""".stripMargin,
    // Watermark-sizing disorder histogram: exact epoch-ms integers,
    // arrival order = event_id, per-user running max.
    "events_disorder" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |d AS (
        |  SELECT user_id, event_id,
        |         greatest(0, COALESCE(MAX(ms) OVER (PARTITION BY user_id
        |           ORDER BY event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ms, 0))
        |           AS disorder_ms
        |  FROM m)
        |SELECT CASE WHEN disorder_ms = 0 THEN 'a_in_order'
        |            WHEN disorder_ms < 60000 THEN 'b_lt_1m'
        |            WHEN disorder_ms < 600000 THEN 'c_lt_10m'
        |            ELSE 'd_gte_10m' END AS bucket,
        |       COUNT(*) AS n_events,
        |       CAST(MAX(disorder_ms) AS BIGINT) AS max_disorder_ms
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // CDC last-write-wins compaction: winner by (epoch-ms, event_id)
    // desc — the struct-max argmax replayed as a row_number pick.
    "events_cdc" ->
      """SELECT user_id, event_type, n_versions, last_event_id,
        |       last_value_cents
        |FROM (
        |  SELECT user_id, event_type,
        |         COUNT(*) OVER (PARTITION BY user_id, event_type)
        |           AS n_versions,
        |         event_id AS last_event_id,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS last_value_cents,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |           ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    // Unigram-LM cross-entropy: corpus-frequency log weights (the
    // Fulltext 4dp-sum contract), per-token normalization floor-form.
    "text_unigram_ce" ->
      s"""WITH $TOK,
         |$TF,
         |lm AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |tt AS (SELECT CAST(SUM(ctf) AS BIGINT) AS t FROM lm),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |         round(SUM(tf * ln(CAST(t AS DOUBLE) / ctf)), 4) AS ll_sum
         |  FROM tf JOIN lm USING (token), tt
         |  GROUP BY 1)
         |SELECT doc_id, n_tokens, ll_sum,
         |       floor(ll_sum / n_tokens * 10000 + 0.5) / 10000 AS ce
         |FROM agg ORDER BY doc_id""".stripMargin,
    // Language-ID confusion matrix: the text_langid prediction CTE
    // joined against the corpus's ground-truth lang column.
    "text_langid_confusion" ->
      s"""WITH $TOK,
         |pred AS (
         |  SELECT doc_id,
         |         CASE WHEN stopword_ratio >= 0.05 THEN 'en'
         |              ELSE 'unknown' END AS lang_pred
         |  FROM (
         |    SELECT doc_id,
         |           floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |             THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS stopword_ratio
         |    FROM tok GROUP BY doc_id))
         |SELECT d.lang, p.lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pred p JOIN documents d ON p.doc_id = d.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Cross-source near-dup matrix: the dedup_minhash est chain with
    // the 0.5 threshold, folded onto unordered source pairs.
    "dedup_cross_source" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM mh x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id),
         |est AS (
         |  SELECT doc_a, doc_b,
         |         round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
         |           / ${TextOps.MinhashA.length}.0, 4) AS est_jaccard
         |  FROM cand
         |  JOIN mh a ON doc_a = a.doc_id
         |  JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |  GROUP BY 1, 2)
         |SELECT least(da.source, db.source) AS src_a,
         |       greatest(da.source, db.source) AS src_b,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM est
         |JOIN documents da ON est.doc_a = da.doc_id
         |JOIN documents db ON est.doc_b = db.doc_id
         |WHERE est.est_jaccard >= 0.5
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // MinHash calibration: the dedup_minhash est chain + the exact
    // shared-shingle Jaccard, bucketed in eighths (floor-form over
    // identical doubles — k/8 is exact binary, the ratio one divide).
    "dedup_minhash_err" ->
      s"""WITH $TOK,
         |$SH,
         |shd AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM sh),
         |mh AS (
         |  $minhashUnion),
         |cand AS (
         |  -- deterministic 25% pair sample: 4-hex md5 cut on the
         |  -- pair key (250000 ppm -> 0x4000), the gated production
         |  -- shape mirrored from Dedup.minhashErrorAudit
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM mh x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id
         |  WHERE substr(md5(x.doc_id::VARCHAR || ':' || y.doc_id::VARCHAR),
         |               1, 4) < '4000'),
         |est AS (
         |  SELECT doc_a, doc_b,
         |         round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
         |           / ${TextOps.MinhashA.length}.0, 4) AS est_jaccard
         |  FROM cand
         |  JOIN mh a ON doc_a = a.doc_id
         |  JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |  GROUP BY 1, 2),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
         |  FROM shd x JOIN shd y ON x.sh = y.sh AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2)
         |SELECT CAST(floor((e.est_jaccard - COALESCE(i.i, 0)
         |         / (sa.n_sh + sb.n_sh - COALESCE(i.i, 0))) * 8 + 0.5)
         |       AS BIGINT) AS err_eighths,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM est e
         |LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
         |JOIN sizes sa ON e.doc_a = sa.doc_id
         |JOIN sizes sb ON e.doc_b = sb.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-user tenure: one user-keyed agg, integer day floors.
    "events_tenure" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(MIN(epoch_ms(ts)) AS BIGINT) AS first_ms,
        |       CAST(MAX(epoch_ms(ts)) AS BIGINT) AS last_ms,
        |       (MAX(epoch_ms(ts)) - MIN(epoch_ms(ts))) // 86400000
        |         AS tenure_days,
        |       (1000000 * COUNT(*)) //
        |         ((MAX(epoch_ms(ts)) - MIN(epoch_ms(ts))) // 86400000 + 1)
        |         AS per_day_ppm
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    // CCNet perplexity terciles: the unigram-CE chain, a centi-nat
    // histogram cum-crossed at n/3 and 2n/3, bucket rollup.
    "text_ppl_buckets" ->
      s"""WITH $TOK,
         |$TF,
         |lm AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |tt AS (SELECT CAST(SUM(ctf) AS BIGINT) AS t FROM lm),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |         round(SUM(tf * ln(CAST(t AS DOUBLE) / ctf)), 4) AS ll_sum
         |  FROM tf JOIN lm USING (token), tt
         |  GROUP BY 1),
         |ced AS MATERIALIZED (
         |  SELECT doc_id, n_tokens,
         |         CAST(floor((floor(ll_sum / n_tokens * 10000 + 0.5) / 10000)
         |              * 100) AS BIGINT) AS ce2
         |  FROM agg),
         |hist AS (SELECT ce2, COUNT(*) AS c FROM ced GROUP BY 1),
         |nn AS (SELECT SUM(c) AS n FROM hist),
         |cum AS (SELECT ce2, SUM(c) OVER (ORDER BY ce2) AS cum FROM hist),
         |c1 AS (SELECT MIN(ce2) AS cut1 FROM cum, nn WHERE cum * 3 >= n),
         |c2 AS (SELECT MIN(ce2) AS cut2 FROM cum, nn WHERE cum * 3 >= 2 * n)
         |SELECT CASE WHEN ce2 <= cut1 THEN 'head'
         |            WHEN ce2 <= cut2 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM ced, c1, c2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // Product quantization: two independent per-subspace Lloyd chains
    // (the kmeansCtes contract restricted to each dim range) + a final
    // assignment emitting (code, exact integer distance).
    "embed_pq" ->
      s"""WITH $EX,
         |$EXQ,
         |${pqCtes(0, 0, 32, 4, 2)},
         |${pqCtes(1, 32, 64, 4, 2)}
         |SELECT vec_id, subspace, code, dist FROM (
         |  SELECT * FROM code0 UNION ALL SELECT * FROM code1) u
         |ORDER BY vec_id, subspace""".stripMargin,
    // Positional phrase intersection over the shared tokenizer CTE.
    "fulltext_phrase" ->
      s"""WITH $TOK
         |SELECT a.doc_id, COUNT(*) AS n_occurrences
         |FROM tok a JOIN tok b
         |  ON a.doc_id = b.doc_id AND b.seq = a.seq + 1
         |WHERE a.token = 'table' AND b.token = 'value'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Cohort retention triangle: exact integer epoch days + ppm ratio.
    "events_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |cohort AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1),
        |sizes AS (
        |  SELECT cohort_day, COUNT(*) AS cohort_size FROM cohort GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
        |         COUNT(DISTINCT d.user_id) AS n_active
        |  FROM days d JOIN cohort c USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT a.cohort_day, a.day_offset, a.n_active, s.cohort_size,
        |       (1000000 * a.n_active) // s.cohort_size AS retention_ppm
        |FROM act a JOIN sizes s USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // Sliding 1h/30m windows: epoch-aligned starts replayed as pure
    // ⌊ms/slide⌋ integer buckets (each event lands in exactly 2).
    "events_sliding" ->
      """WITH w AS (
        |  SELECT event_type, value,
        |         unnest([
        |           (epoch_ms(ts) // 1800000) * 1800000,
        |           (epoch_ms(ts) // 1800000) * 1800000 - 1800000]) AS ws_ms
        |  FROM events)
        |SELECT strftime(make_timestamp(ws_ms * 1000), '%Y-%m-%d %H:%M:%S')
        |         AS win_start,
        |       event_type, COUNT(*) AS n, round(SUM(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // First-order Markov matrix: lag over the deterministic (ts,
    // event_id) per-user order; probabilities are exact integer ppm.
    "events_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS from_type,
        |         event_type AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
        |      FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |       (1000000 * c.n) // t.row_total AS p_ppm
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,
    // Static-schema pivot: fixed conditional aggregates, one pass.
    "events_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  COUNT(*) AS n_total
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Levenshtein rerank over the minhash candidate space: the
    // dedup_minhash CTE chain scored at est_jaccard >= 0.5, then the
    // classic unit-cost edit distance over the 500-char prefix (both
    // engines implement the identical integer metric).
    "dedup_editdist" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM mh x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh AND x.doc_id < y.doc_id),
         |scored AS (
         |  SELECT doc_a, doc_b,
         |         round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
         |           AS est_jaccard
         |  FROM cand
         |  JOIN mh a ON doc_a = a.doc_id
         |  JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |  GROUP BY 1, 2)
         |SELECT s.doc_a, s.doc_b, s.est_jaccard,
         |       CAST(levenshtein(substring(da.text, 1, 500),
         |                        substring(db.text, 1, 500)) AS BIGINT)
         |         AS edit_dist
         |FROM scored s
         |JOIN documents da ON s.doc_a = da.doc_id
         |JOIN documents db ON s.doc_b = db.doc_id
         |WHERE s.est_jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Trailing dyadic-weight EWMA: the identical lag chain, integer
    // numerator/denominator, floor division — no float anywhere.
    "events_ewma" -> {
      val n = 8
      val lags = (0 until n)
        .map(i => s"lag(value_cents, $i) OVER w AS x$i").mkString(", ")
      val num = (0 until n)
        .map(i => s"COALESCE(x$i * ${1L << (n - 1 - i)}, 0)").mkString(" + ")
      val den = (0 until n)
        .map(i => s"(CASE WHEN x$i IS NOT NULL THEN ${1L << (n - 1 - i)} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (
         |  SELECT user_id, event_id, ts,
         |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
         |  FROM events WHERE user_id % 20 = 0),
         |l AS (
         |  SELECT user_id, event_id, value_cents, $lags
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id, value_cents,
         |       ($num) // ($den) AS ewma_cents
         |FROM l ORDER BY user_id, event_id""".stripMargin
    },
    // Holt level+trend: the SAME bounded-lag unroll as the Spark
    // side, sequenced through DuckDB lateral column aliases; `//`
    // truncates toward zero exactly like Spark's `div` (verified on
    // negative trends), so the recursion replays bit-identically.
    "events_holt" -> {
      val n = 6
      val lags = (1 until n)
        .map(i => s"lag(value_cents, $i) OVER w AS x$i").mkString(", ")
      val steps = (0 until n - 1).map { s =>
        val x = if (s == n - 2) "value_cents" else s"x${n - 2 - s}"
        s"($x + l$s + b$s) // 2 AS l${s + 1}, (l${s + 1} - l$s + b$s) // 2 AS b${s + 1}"
      }.mkString(",\n         |       ")
      s"""WITH b AS (
         |  SELECT user_id, event_id, ts,
         |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
         |  FROM events WHERE user_id % 20 = 0),
         |l AS (
         |  SELECT user_id, event_id, value_cents,
         |         row_number() OVER w AS rn, $lags
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |h AS (
         |  SELECT user_id, event_id, value_cents, rn,
         |       x${n - 1} AS l0, x${n - 2} - x${n - 1} AS b0,
         |       $steps
         |  FROM l)
         |SELECT user_id, event_id, value_cents,
         |       CASE WHEN rn >= $n THEN l${n - 1} ELSE value_cents END AS holt_level,
         |       CASE WHEN rn >= $n THEN b${n - 1} ELSE 0 END AS holt_trend,
         |       CASE WHEN rn >= $n THEN l${n - 1} + b${n - 1}
         |            ELSE value_cents END AS forecast_cents
         |FROM h ORDER BY user_id, event_id""".stripMargin
    },
    // Bigram-LM cross-entropy: c(a) derived from the SAME bigram
    // frame (never zero under the log), 4dp-sum contract as unigram.
    "text_bigram_lm" ->
      s"""WITH $TOK,
         |bi AS (
         |  SELECT doc_id, token,
         |         lead(token) OVER (PARTITION BY doc_id ORDER BY seq) AS next
         |  FROM tok),
         |bic AS (SELECT doc_id, token, next, COUNT(*) AS tf FROM bi
         |        WHERE next IS NOT NULL GROUP BY 1, 2, 3),
         |lm AS (SELECT token, next, CAST(SUM(tf) AS BIGINT) AS cab
         |       FROM bic GROUP BY 1, 2),
         |ctx AS (SELECT token, CAST(SUM(cab) AS BIGINT) AS ca FROM lm GROUP BY 1),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
         |         round(SUM(tf * ln(CAST(ca AS DOUBLE) / cab)), 4) AS ll_sum
         |  FROM bic JOIN lm USING (token, next) JOIN ctx USING (token)
         |  GROUP BY 1)
         |SELECT doc_id, n_bigrams, ll_sum,
         |       floor(ll_sum / n_bigrams * 10000 + 0.5) / 10000 AS ce
         |FROM agg ORDER BY doc_id""".stripMargin,
    // Flesch reading ease in milli-units: the same three regexp
    // counts and integer floor divisions as the Spark side.
    "text_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
        |           AS BIGINT)) AS n_sentences,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |           AS BIGINT) AS n_words,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |           AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |       CASE WHEN n_words > 0
        |            THEN 206835 - (1015 * n_words) // n_sentences
        |                        - (84600 * n_syllables) // n_words
        |            ELSE -1 END AS flesch_milli
        |FROM c ORDER BY doc_id""".stripMargin,
    // PMI collocations: margins and total from the same bigram frame,
    // micro-unit floor before the (pmi desc, a, b) rank cut.
    "text_pmi" ->
      s"""WITH $TOK,
         |bi AS (
         |  SELECT doc_id, token,
         |         lead(token) OVER (PARTITION BY doc_id ORDER BY seq) AS next
         |  FROM tok),
         |pair AS (SELECT token AS a, next AS b, CAST(COUNT(*) AS BIGINT) AS cab
         |         FROM bi WHERE next IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT CAST(SUM(cab) AS BIGINT) AS t FROM pair),
         |ma AS (SELECT a, CAST(SUM(cab) AS BIGINT) AS ca FROM pair GROUP BY 1),
         |mb AS (SELECT b, CAST(SUM(cab) AS BIGINT) AS cb FROM pair GROUP BY 1)
         |SELECT a, b, cab, ca, cb,
         |       CAST(floor(ln((CAST(cab AS DOUBLE) * t) /
         |                     (CAST(ca AS DOUBLE) * cb)) * 1000000 + 0.5)
         |         AS BIGINT) AS pmi_micro
         |FROM pair JOIN ma USING (a) JOIN mb USING (b), tt
         |WHERE cab >= 5
         |ORDER BY pmi_micro DESC, a, b LIMIT 40""".stripMargin,
    // Hashing-trick featurizer: bucket = shared tokenHash mod 64.
    "text_hash_features" ->
      s"""WITH $TOK
         |SELECT doc_id, ${TextOps.tokenHashSql("token")} % 64 AS bucket,
         |       COUNT(*) AS n
         |FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    // HyperLogLog registers + estimate, replayed cell-for-cell: the
    // 60-bit md5-prefix hash, rho = LSB position (capped 32), a
    // dense 256-bucket spine, the exact-rational alpha, and the
    // linear-counting branch via the Scala-computed lookup VALUES.
    "events_hll" -> {
      import graft.functions.Sketches._
      val lcValues = LinearCountTable
        .map { case (v, e) => s"($v, CAST($e AS BIGINT))" }.mkString(", ")
      s"""WITH h AS (
         |  SELECT event_type, ${keyHashSql("event_id")} AS h FROM events),
         |b AS (SELECT event_type, h % $HllM AS bucket, h // $HllM AS w FROM h),
         |r AS (
         |  SELECT event_type, bucket,
         |         CASE WHEN w = 0 THEN $RhoCap
         |              ELSE least(bit_count((w & -w) - 1) + 1, $RhoCap) END AS rho
         |  FROM b),
         |mx AS (SELECT event_type, bucket, MAX(rho) AS m_rho FROM r GROUP BY 1, 2),
         |spine AS (
         |  SELECT t.event_type, bk.range AS bucket
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN range($HllM) bk),
         |regs AS (
         |  SELECT s.event_type, s.bucket, COALESCE(m.m_rho, 0) AS m_rho
         |  FROM spine s LEFT JOIN mx m
         |    ON s.event_type = m.event_type AND s.bucket = m.bucket),
         |agg AS (
         |  SELECT event_type,
         |         CAST(SUM(CAST(1 AS BIGINT) << ($RhoCap - m_rho)) AS BIGINT) AS s,
         |         CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS zero_regs
         |  FROM regs GROUP BY 1),
         |est AS (
         |  SELECT event_type, zero_regs,
         |         ($AlphaNum * (($HllM * $HllM * (CAST(1 AS BIGINT) << $RhoCap)) // s))
         |           // $AlphaDen AS raw
         |  FROM agg),
         |lc(v, lc_est) AS (VALUES $lcValues)
         |SELECT e.event_type, e.zero_regs,
         |       CASE WHEN e.zero_regs > 0 AND e.raw < ${5L * HllM / 2}
         |            THEN l.lc_est ELSE e.raw END AS est_distinct
         |FROM est e LEFT JOIN lc l ON e.zero_regs = l.v
         |ORDER BY event_type""".stripMargin
    },
    // HLL register algebra on the per-type USER sets: union = the
    // element-wise register max, intersection = inclusion-exclusion
    // clamped at 0; single-type estimates and the pair path share the
    // events_hll arithmetic verbatim.
    "events_hll_overlap" -> {
      import graft.functions.Sketches._
      val lcValues = LinearCountTable
        .map { case (v, e) => s"($v, CAST($e AS BIGINT))" }.mkString(", ")
      s"""WITH h AS (
         |  SELECT event_type, ${keyHashSql("user_id")} AS h FROM events),
         |b AS (SELECT event_type, h % $HllM AS bucket, h // $HllM AS w FROM h),
         |r AS (
         |  SELECT event_type, bucket,
         |         CASE WHEN w = 0 THEN $RhoCap
         |              ELSE least(bit_count((w & -w) - 1) + 1, $RhoCap) END AS rho
         |  FROM b),
         |mx AS (SELECT event_type, bucket, MAX(rho) AS m_rho FROM r GROUP BY 1, 2),
         |spine AS (
         |  SELECT t.event_type, bk.range AS bucket
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN range($HllM) bk),
         |regs AS MATERIALIZED (
         |  SELECT s.event_type, s.bucket, COALESCE(m.m_rho, 0) AS m_rho
         |  FROM spine s LEFT JOIN mx m
         |    ON s.event_type = m.event_type AND s.bucket = m.bucket),
         |lc(v, lc_est) AS (VALUES $lcValues),
         |agg AS (
         |  SELECT event_type,
         |         CAST(SUM(CAST(1 AS BIGINT) << ($RhoCap - m_rho)) AS BIGINT) AS s,
         |         CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS zero_regs
         |  FROM regs GROUP BY 1),
         |sg AS (
         |  SELECT a.event_type, a.zero_regs,
         |         ($AlphaNum * (($HllM * $HllM * (CAST(1 AS BIGINT) << $RhoCap)) // a.s))
         |           // $AlphaDen AS raw
         |  FROM agg a),
         |sgl AS MATERIALIZED (
         |  SELECT e.event_type,
         |         CASE WHEN e.zero_regs > 0 AND e.raw < ${5L * HllM / 2}
         |              THEN l.lc_est ELSE e.raw END AS est
         |  FROM sg e LEFT JOIN lc l ON e.zero_regs = l.v),
         |mg AS (
         |  SELECT ra.event_type AS ga, rb.event_type AS gb, ra.bucket,
         |         greatest(ra.m_rho, rb.m_rho) AS m_rho
         |  FROM regs ra JOIN regs rb
         |    ON ra.bucket = rb.bucket AND ra.event_type < rb.event_type),
         |ag2 AS (
         |  SELECT ga, gb,
         |         CAST(SUM(CAST(1 AS BIGINT) << ($RhoCap - m_rho)) AS BIGINT) AS s,
         |         CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS zero_regs
         |  FROM mg GROUP BY 1, 2),
         |es2 AS (
         |  SELECT ga, gb, zero_regs,
         |         ($AlphaNum * (($HllM * $HllM * (CAST(1 AS BIGINT) << $RhoCap)) // s))
         |           // $AlphaDen AS raw
         |  FROM ag2),
         |un AS (
         |  SELECT e.ga, e.gb,
         |         CASE WHEN e.zero_regs > 0 AND e.raw < ${5L * HllM / 2}
         |              THEN l.lc_est ELSE e.raw END AS est_union
         |  FROM es2 e LEFT JOIN lc l ON e.zero_regs = l.v)
         |SELECT un.ga AS type_a, un.gb AS type_b,
         |       sa.est AS est_a, sb.est AS est_b, un.est_union,
         |       greatest(sa.est + sb.est - un.est_union, 0) AS est_intersect
         |FROM un JOIN sgl sa ON un.ga = sa.event_type
         |JOIN sgl sb ON un.gb = sb.event_type
         |ORDER BY type_a, type_b""".stripMargin
    },
    // Heavy hitters: the oracle replays only the exact-verify side —
    // the Misra-Gries candidate stage is a guaranteed superset, so
    // the final exact-count ≥ n/k filter is partition-independent.
    "events_heavy" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM events),
        |c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1)
        |SELECT c.user_id, CAST(c.cnt AS BIGINT) AS cnt,
        |       CAST((1000000::HUGEINT * c.cnt) // n.n AS BIGINT) AS share_ppm
        |FROM c, n WHERE c.cnt * 125 >= n.n
        |ORDER BY cnt DESC, user_id""".stripMargin,
    // Count-Min: three 64-cell counter rows, estimate = min over the
    // key's three cells — identical hash family both engines.
    "events_cms" -> {
      import graft.functions.Sketches._
      val rows = (0 until CmsD).map { i =>
        s"""c$i AS (SELECT ${cmsColSql("user_id", i)} AS c,
           |        CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val joins = (0 until CmsD).map { i =>
        s"JOIN c$i ON ${cmsColSql("k.user_id", i)} = c$i.c"
      }.mkString("\n")
      val cells = (0 until CmsD).map(i => s"c$i.n").mkString(", ")
      s"""WITH $rows,
         |k AS (SELECT DISTINCT user_id FROM events)
         |SELECT k.user_id, least($cells) AS est_count
         |FROM k
         |$joins
         |ORDER BY user_id""".stripMargin
    },
    // CMS calibration: replay the sketch rows + probe, join the exact
    // per-key counts, decade-bucket the (always >= 0) overcount
    "events_cms_err" -> {
      import graft.functions.Sketches._
      val rows = (0 until CmsD).map { i =>
        s"""c$i AS (SELECT ${cmsColSql("user_id", i)} AS c,
           |        CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val joins = (0 until CmsD).map { i =>
        s"JOIN c$i ON ${cmsColSql("k.user_id", i)} = c$i.c"
      }.mkString("\n")
      val cells = (0 until CmsD).map(i => s"c$i.n").mkString(", ")
      s"""WITH $rows,
         |k AS (SELECT DISTINCT user_id FROM events),
         |est AS (
         |  SELECT k.user_id, least($cells) AS est_count
         |  FROM k
         |$joins),
         |ex AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_true
         |       FROM events GROUP BY 1),
         |o AS (SELECT est.user_id, est.est_count - ex.n_true AS ov
         |      FROM est JOIN ex ON est.user_id = ex.user_id)
         |SELECT CASE WHEN ov = 0 THEN '0_exact'
         |            WHEN ov <= 9 THEN '1_under10'
         |            WHEN ov <= 99 THEN '2_under100'
         |            ELSE '3_over100' END AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_keys,
         |       CAST(SUM(ov) AS BIGINT) AS total_overcount
         |FROM o GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // Exact rank-selected inter-arrival quantiles: med = ⌊(n+1)/2⌋-th,
    // p90 = ⌈9n/10⌉-th smallest gap, (gap, event_id)-total-ordered.
    "events_interarrival" ->
      """WITH m AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |g AS (
        |  SELECT user_id, event_id,
        |         ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
        |           AS gap_ms
        |  FROM m),
        |r AS (
        |  SELECT user_id, gap_ms,
        |         row_number() OVER (PARTITION BY user_id ORDER BY gap_ms, event_id)
        |           AS rn,
        |         COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM g WHERE gap_ms IS NOT NULL)
        |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |       MIN(gap_ms) AS min_ms, MAX(gap_ms) AS max_ms,
        |       MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_ms END) AS med_ms,
        |       MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_ms END) AS p90_ms
        |FROM r GROUP BY 1 ORDER BY user_id""".stripMargin,
    // Histogram quantile sketch: $1 cent bins, quantile = upper bound
    // of the first bin whose cumulative count crosses ceil(p*n) — the
    // integer inequality cum*den >= n*num, no interpolation.
    "events_qsketch" ->
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS bin,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cw AS (
        |  SELECT event_type, bin, c,
        |         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |         SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM b)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       MIN(CASE WHEN cum * 2 >= n THEN (bin + 1) * 100 END) AS p50_up_cents,
        |       MIN(CASE WHEN cum * 10 >= n * 9 THEN (bin + 1) * 100 END) AS p90_up_cents,
        |       MIN(CASE WHEN cum * 100 >= n * 99 THEN (bin + 1) * 100 END) AS p99_up_cents
        |FROM cw GROUP BY 1 ORDER BY event_type""".stripMargin,
    // Per-user session stats over the sessionize gap-break CTE kept
    // in epoch-ms; avg duration is exact integer floor division.
    "events_session_stats" ->
      """WITH g AS (
        |  SELECT user_id, ts, epoch_ms(ts) AS ms,
        |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  -- session-id cum-sum ordered by FULL-precision ts (not the
        |  -- floored ms): a sub-ms tie must not reorder a brk=1 row
        |  SELECT user_id, ms,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, session_id, COUNT(*) AS n_ev,
        |         MAX(ms) - MIN(ms) AS dur_ms
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(SUM(n_ev) AS BIGINT) AS total_events,
        |       CAST(MAX(n_ev) AS BIGINT) AS max_events,
        |       CAST(SUM(dur_ms) // COUNT(*) AS BIGINT) AS avg_dur_ms
        |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin,
    // Last-touch attribution: last-ignoring-nulls over the strictly-
    // prior ROWS frame in (ms, event_id) order; -1 = unattributed.
    "events_attribution" ->
      """WITH f AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events WHERE event_type IN ('purchase', 'click')),
        |a AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END
        |               IGNORE NULLS) OVER w AS touch_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ms END
        |               IGNORE NULLS) OVER w AS touch_ms
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id,
        |       COALESCE(touch_id, -1) AS touch_event_id,
        |       COALESCE(ms - touch_ms, -1) AS gap_ms
        |FROM a WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    // Burst windows: c·nb > 2·total over occupied hour buckets, all
    // integer; ratio is exact ppm of count/mean.
    "events_burst" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS w, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, SUM(c) AS total, COUNT(*) AS nb
        |      FROM b GROUP BY 1)
        |SELECT b.event_type, b.w * 3600000 AS window_start_ms,
        |       CAST(b.c AS BIGINT) AS n_events,
        |       CAST((1000000 * b.c * t.nb) // t.total AS BIGINT) AS ratio_ppm
        |FROM b JOIN t USING (event_type)
        |WHERE b.c * t.nb * 1 > t.total * 2
        |ORDER BY event_type, window_start_ms""".stripMargin,
    // Per-user type entropy: H = ln(n) − Σc·ln(c)/n, counts exact,
    // the inner sum 4dp-rounded then the final floor-form 4dp.
    "events_entropy" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
        |         round(SUM(c * ln(CAST(c AS DOUBLE))), 4) AS slc
        |  FROM c GROUP BY 1)
        |SELECT user_id, n_events,
        |       floor((ln(CAST(n_events AS DOUBLE)) - slc / n_events) * 10000
        |         + 0.5) / 10000 AS entropy
        |FROM a ORDER BY user_id""".stripMargin,
    // OOV rate vs the deterministic top-200 corpus vocab (total tf
    // desc, token asc), exact integer ppm.
    "text_oov" ->
      s"""WITH $TOK,
         |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
         |vr AS (
         |  SELECT token,
         |         row_number() OVER (ORDER BY SUM(tf) DESC, token) AS rk
         |  FROM tf GROUP BY token),
         |v AS (SELECT token FROM vr WHERE rk <= 200)
         |SELECT t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CASE WHEN v.token IS NULL THEN t.tf ELSE 0 END) AS BIGINT)
         |         AS n_oov,
         |       (1000000 * CAST(SUM(CASE WHEN v.token IS NULL THEN t.tf ELSE 0 END)
         |         AS BIGINT)) // CAST(SUM(t.tf) AS BIGINT) AS oov_ppm
         |FROM tf t LEFT JOIN v ON t.token = v.token
         |GROUP BY 1 ORDER BY t.doc_id""".stripMargin,
    // OHLC bars: open/close replayed via (ms, event_id)-ranked
    // row_number (the Spark side's lexicographic struct-argmin).
    "events_ohlc" ->
      """WITH b AS (
        |  SELECT event_type, epoch_ms(ts) // 3600000 AS hr,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
        |         epoch_ms(ts) AS ms, event_id
        |  FROM events),
        |w AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY event_type, hr
        |           ORDER BY ms, event_id) AS ra,
        |         row_number() OVER (PARTITION BY event_type, hr
        |           ORDER BY ms DESC, event_id DESC) AS rd
        |  FROM b)
        |SELECT event_type, hr,
        |       CAST(MAX(CASE WHEN ra = 1 THEN c END) AS BIGINT) AS open_cents,
        |       MAX(c) AS high_cents, MIN(c) AS low_cents,
        |       CAST(MAX(CASE WHEN rd = 1 THEN c END) AS BIGINT) AS close_cents,
        |       COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Concurrent sessions per hour: the session_stats gap machinery
    // (epoch-ms gaps, full-ts ordering), then each session unnests
    // over the hour range it overlaps.
    "events_overlap" ->
      """WITH g AS (
        |  SELECT user_id, ts, epoch_ms(ts) AS ms,
        |         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |                OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ms,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS session_id
        |  FROM g),
        |per AS (
        |  SELECT user_id, session_id, MIN(ms) // 3600000 AS h0,
        |         MAX(ms) // 3600000 AS h1
        |  FROM sess GROUP BY 1, 2)
        |SELECT hr, COUNT(*) AS n_sessions
        |FROM (SELECT unnest(range(h0, h1 + 1)) AS hr FROM per)
        |GROUP BY 1 ORDER BY hr""".stripMargin,
    // Paragraph-dedup: position-weighted segment hash replayed from
    // the shared tok CTE; duplicate iff the hash fills >1 (doc, seg)
    // slot anywhere in the corpus.
    "dedup_para" ->
      s"""WITH $TOK,
         |sg AS (
         |  SELECT doc_id, (seq - 1) // 20 AS seg,
         |         CAST(SUM(((seq - 1) % 20 + 1)
         |           * ${TextOps.tokenHashSql("token")}) % ${TextOps.P}
         |           AS BIGINT) AS sh
         |  FROM tok GROUP BY 1, 2),
         |fd AS (SELECT sh, COUNT(*) AS df FROM sg GROUP BY 1)
         |SELECT sg.doc_id, COUNT(*) AS n_segs,
         |       CAST(SUM(CASE WHEN fd.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_segs,
         |       (1000000 * CAST(SUM(CASE WHEN fd.df > 1 THEN 1 ELSE 0 END)
         |         AS BIGINT)) // COUNT(*) AS dup_ppm
         |FROM sg JOIN fd USING (sh)
         |GROUP BY 1 ORDER BY sg.doc_id""".stripMargin,
    // Tokenizer fertility per language: regex tokens over whitespace
    // words, HUGEINT-widened ppm (the Spark side rides DECIMAL(38,0)).
    "text_fertility" ->
      s"""WITH $TOK,
         |tc AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY 1),
         |d AS (
         |  SELECT doc_id, lang,
         |         CASE WHEN length(trim(text)) = 0 THEN 0
         |              ELSE CAST(len(string_split_regex(trim(text), '\\s+'))
         |                AS BIGINT)
         |         END AS n_words
         |  FROM documents),
         |j AS (
         |  SELECT d.lang, d.n_words, COALESCE(tc.n_tok, 0) AS n_tok
         |  FROM d LEFT JOIN tc USING (doc_id))
         |SELECT lang, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(n_words) AS BIGINT) AS n_words,
         |       CAST(CASE WHEN SUM(n_words) = 0 THEN -1
         |            ELSE (1000000::HUGEINT * SUM(n_tok)) // SUM(n_words)
         |       END AS BIGINT) AS fertility_ppm
         |FROM j GROUP BY 1 ORDER BY lang""".stripMargin,
    // TWAP: left-Riemann interval weights in (ts, event_id) order;
    // HUGEINT products (the Spark side rides DECIMAL(38,0)).
    "events_twap" ->
      """WITH b AS (
        |  SELECT user_id, event_id, ts, epoch_ms(ts) AS ms,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |g AS (
        |  SELECT user_id, c,
        |         lead(ms) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) - ms AS dt
        |  FROM b)
        |SELECT user_id, COUNT(*) AS n_intervals,
        |       CAST(CASE WHEN SUM(dt::HUGEINT) = 0 THEN -1
        |            ELSE SUM(c::HUGEINT * dt) // SUM(dt::HUGEINT)
        |       END AS BIGINT) AS twap_cents
        |FROM g WHERE dt IS NOT NULL
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    // Cluster-size histogram off the shared 12-round cluster chain.
    "dedup_cluster_sizes" ->
      s"""WITH $TOK,
         |$SH,
         |$clusterChain,
         |sz AS (SELECT component, COUNT(*) AS cs FROM l12 GROUP BY 1)
         |SELECT cs AS cluster_size, COUNT(*) AS n_clusters
         |FROM sz GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    // Norm profile in the exq fixed-point contract, keyed by label.
    "embed_norms" ->
      """WITH n2 AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(SUM(CAST(round(x * 1000000, 0) AS BIGINT)
        |           * CAST(round(x * 1000000, 0) AS BIGINT)) AS BIGINT) AS n2
        |  FROM (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
        |        FROM embeddings)
        |  GROUP BY 1, 2)
        |SELECT label, COUNT(*) AS n_vecs,
        |       CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero,
        |       MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
        |       CAST(SUM(n2::HUGEINT) // COUNT(*) AS BIGINT) AS mean_norm2
        |FROM n2 GROUP BY 1 ORDER BY label""".stripMargin,
    // Coverage point: vocab-ranked cumulative mass, integer crossing.
    "vocab_coverage" ->
      s"""WITH $TOK,
         |ctf AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY 1),
         |r AS (
         |  SELECT token, tf,
         |         row_number() OVER (ORDER BY tf DESC, token) AS rk,
         |         SUM(tf) OVER (ORDER BY tf DESC, token
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM ctf),
         |t AS (SELECT MAX(cum) AS total, COUNT(*) AS vocab FROM r)
         |SELECT CAST(t.total AS BIGINT) AS n_tokens_total,
         |       CAST(t.vocab AS BIGINT) AS vocab_size,
         |       CAST(r.rk AS BIGINT) AS cover_k,
         |       CAST((1000000::HUGEINT * r.cum) // t.total AS BIGINT)
         |         AS cover_share_ppm
         |FROM r, t WHERE r.cum * 10 >= t.total * 9
         |ORDER BY r.rk LIMIT 1""".stripMargin,
    // Aspect histogram replayed from the synthetic-header arithmetic
    // (the multimodal_stats meta equivalence).
    "multimodal_aspect" ->
      """WITH meta AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                   ELSE doc_id % 509 + 16 END AS BIGINT) AS width,
        |         CAST(CASE WHEN doc_id % 3 = 2 THEN -1
        |                   ELSE (doc_id * 7) % 509 + 16 END AS BIGINT) AS height
        |  FROM documents)
        |SELECT (100 * width) // height AS aspect_pct,
        |       CAST(COUNT(*) AS BIGINT) AS n_images,
        |       MIN(width) AS min_w, MAX(width) AS max_w
        |FROM meta WHERE width > 0 AND height > 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Sample ACF of the DENSIFIED hourly count series, n²-scaled
    // exact-integer centering; ppm via the floor(x·10⁶+0.5) double
    // contract (lag terms go negative).
    "events_acf" ->
      """WITH h AS (
        |  SELECT epoch_ms(ts) // 3600000 AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |b AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM h),
        |dense AS (
        |  SELECT g.hr, COALESCE(h.cnt, 0) AS x
        |  FROM (SELECT unnest(range((SELECT h0 FROM b),
        |                            (SELECT h1 FROM b) + 1)) AS hr) g
        |  LEFT JOIN h ON g.hr = h.hr),
        |st AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM dense),
        |c AS MATERIALIZED (
        |  SELECT hr, CAST(n * x - s AS HUGEINT) AS cx FROM dense, st),
        |den AS (SELECT SUM(cx * cx) AS den FROM c),
        |lags AS (SELECT unnest(range(1, 7)) AS lag),
        |num AS (
        |  SELECT l.lag, COUNT(*) AS n_terms, SUM(a.cx * b2.cx) AS num
        |  FROM lags l JOIN c a ON TRUE JOIN c b2 ON b2.hr = a.hr + l.lag
        |  GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n_terms AS BIGINT) AS n_terms,
        |       CASE WHEN den = 0 THEN 0
        |            ELSE CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |                 * 1000000 + 0.5) AS BIGINT)
        |       END AS acf_ppm
        |FROM num, den ORDER BY lag""".stripMargin,
    // Cross-split LSH leakage: the dedup_minhash chain with the band
    // join restricted to val×train (doc_id % 10 split, the
    // dedup_incremental convention).
    "split_leakage" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM mh x JOIN mh y
         |    ON x.perm = y.perm AND x.mh = y.mh
         |  WHERE x.doc_id % 10 >= 8 AND y.doc_id % 10 < 8)
         |SELECT doc_a AS val_doc, doc_b AS train_doc,
         |       round(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) / ${TextOps.MinhashA.length}.0, 4)
         |         AS est_jaccard
         |FROM cand
         |JOIN mh a ON doc_a = a.doc_id
         |JOIN mh b ON doc_b = b.doc_id AND a.perm = b.perm
         |GROUP BY 1, 2
         |ORDER BY val_doc, train_doc""".stripMargin,
    // DSIR log-likelihood ratio: target = the langid 'en' stratum,
    // both LMs Laplace-smoothed over the source vocabulary; the
    // 4-dp round replays the Spark float-sum contract.
    "text_dsir" ->
      s"""WITH $TOK,
         |$TF,
         |lid AS (
         |  SELECT doc_id,
         |         floor(AVG(CASE WHEN token IN ${TextOps.StopwordsSqlList}
         |                THEN 1.0 ELSE 0.0 END) * 10000 + 0.5) / 10000 AS r
         |  FROM tok GROUP BY 1),
         |en AS (SELECT doc_id FROM lid WHERE r >= 0.05),
         |src AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
         |tgt AS (
         |  SELECT token, CAST(SUM(tf) AS BIGINT) AS ttf FROM tf
         |  WHERE doc_id IN (SELECT doc_id FROM en) GROUP BY 1),
         |lm AS (
         |  SELECT s.token, s.ctf, COALESCE(g.ttf, 0) AS ttf
         |  FROM src s LEFT JOIN tgt g USING (token)),
         |tot AS (
         |  SELECT CAST(SUM(ctf) AS BIGINT) AS ts, CAST(SUM(ttf) AS BIGINT) AS tt,
         |         CAST(COUNT(*) AS BIGINT) AS v
         |  FROM lm),
         |agg AS (
         |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         |         round(SUM(tf.tf * ln(
         |           ((lm.ttf + 1) / CAST(tot.tt + tot.v AS DOUBLE))
         |           / ((lm.ctf + 1) / CAST(tot.ts + tot.v AS DOUBLE)))), 4)
         |           AS llr_sum
         |  FROM tf JOIN lm USING (token), tot
         |  GROUP BY 1)
         |SELECT doc_id, n_tokens, llr_sum,
         |       floor(llr_sum / n_tokens * 10000 + 0.5) / 10000 AS dsir_score
         |FROM agg ORDER BY doc_id""".stripMargin,
    // Truncation ladder over the (token-count -> doc-count) histogram.
    "text_truncation" ->
      s"""WITH $TOK,
         |n AS (SELECT doc_id, COUNT(*) AS nt FROM tok GROUP BY 1),
         |h AS (SELECT nt, COUNT(*) AS nd FROM n GROUP BY 1),
         |t AS (SELECT CAST(SUM(nt * nd) AS BIGINT) AS total FROM h),
         |ls AS (SELECT unnest([128, 512, 2048, 8192]) AS max_len)
         |SELECT CAST(ls.max_len AS BIGINT) AS max_len,
         |       CAST(COALESCE(SUM(h.nd), 0) AS BIGINT) AS n_docs_over,
         |       CAST(COALESCE(SUM((h.nt - ls.max_len) * h.nd), 0) AS BIGINT)
         |         AS tokens_lost,
         |       CAST((1000000::HUGEINT * COALESCE(SUM((h.nt - ls.max_len) * h.nd), 0))
         |            // (SELECT total FROM t) AS BIGINT) AS lost_ppm
         |FROM ls LEFT JOIN h ON h.nt > ls.max_len
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Markov stationary distribution: the transitions matrix +
    // 8 unrolled power-iteration rounds, per-term floor ppm; types
    // with no outgoing steps hold their mass.
    "events_markov" -> {
      val rounds = 8
      val roundCtes = (1 to rounds).map { t =>
        s"""p$t AS (SELECT c.to_type AS type,
           |  CAST(SUM((r.pi * c.n) // tt.row_total) AS BIGINT) AS pin
           |  FROM r${t - 1} r JOIN c ON c.from_type = r.type
           |  JOIN tt ON tt.from_type = c.from_type GROUP BY 1),
           |dg$t AS (SELECT r.type, r.pi AS pin FROM r${t - 1} r
           |  LEFT JOIN tt ON tt.from_type = r.type
           |  WHERE tt.from_type IS NULL),
           |r$t AS MATERIALIZED (
           |  SELECT ty.type, COALESCE(u.pin, 0) AS pi FROM ty
           |  LEFT JOIN (SELECT type, SUM(pin) AS pin
           |             FROM (SELECT * FROM p$t UNION ALL SELECT * FROM dg$t)
           |             GROUP BY 1) u
           |    ON u.type = ty.type)""".stripMargin
      }.mkString(",\n")
      s"""WITH pr AS (
         |  SELECT lag(event_type) OVER (PARTITION BY user_id
         |           ORDER BY ts, event_id) AS from_type,
         |         event_type AS to_type
         |  FROM events),
         |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM pr
         |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
         |tt AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
         |       FROM c GROUP BY 1),
         |ty AS (SELECT DISTINCT event_type AS type FROM events),
         |k AS (SELECT COUNT(*) AS k FROM ty),
         |r0 AS (SELECT type, CAST(1000000 // greatest(k, 1) AS BIGINT) AS pi
         |       FROM ty, k),
         |$roundCtes
         |SELECT type AS event_type, CAST(pi AS BIGINT) AS pi_ppm
         |FROM r$rounds ORDER BY event_type""".stripMargin
    },
    // Benford first-digit audit: expected ppm are frozen integer
    // literals generated from the SAME Scala constant the Spark
    // plan inlines — neither engine evaluates a log.
    "events_benford" -> {
      val cases = TemporalOps.BenfordPpm.zipWithIndex
        .map { case (ppm, i) => s"WHEN ${i + 1} THEN $ppm" }.mkString(" ")
      s"""WITH b AS (
         |  SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
         |  FROM events),
         |d AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         |         COUNT(*) AS n
         |  FROM b WHERE cents > 0 GROUP BY 1),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM d),
         |s AS (
         |  SELECT digit, CAST(n AS BIGINT) AS n,
         |         (1000000 * n) // total AS obs_ppm,
         |         CAST(CASE digit $cases END AS BIGINT) AS benford_ppm
         |  FROM d, t)
         |SELECT digit, n, obs_ppm, benford_ppm,
         |       abs(obs_ppm - benford_ppm) AS dev_ppm
         |FROM s ORDER BY digit""".stripMargin
    },
    // Calendar heatmap: dow/hour by pure epoch-ms integer arithmetic
    // (dow 0=Monday via (days+3) mod 7) — no calendar function.
    "events_calendar" ->
      """WITH c AS (
        |  SELECT ((epoch_ms(ts) // 86400000) + 3) % 7 AS dow,
        |         (epoch_ms(ts) // 3600000) % 24 AS hour,
        |         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT dow, hour, COUNT(*) AS n, SUM(cents) AS sum_cents
        |      FROM c GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
        |       CAST(n AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS sum_cents,
        |       (1000000 * n) // total AS share_ppm
        |FROM g, t ORDER BY dow, hour""".stripMargin,
    // Hapax profile: pure counting over the (source, token) frame.
    "text_hapax" ->
      s"""WITH $TOK,
         |tf AS (
         |  SELECT d.source, t.token, COUNT(*) AS c
         |  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |s AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size,
         |         CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_hapax
         |  FROM tf GROUP BY 1)
         |SELECT source, vocab_size, n_tokens, n_hapax,
         |       (1000000 * n_hapax) // vocab_size AS hapax_vocab_ppm,
         |       (1000000 * n_hapax) // n_tokens AS hapax_token_ppm
         |FROM s ORDER BY source""".stripMargin,
    // Pairwise source JS divergence: shared-support terms from one
    // token-keyed join; one-sided mass closed-form as (1-Σp)·ln2;
    // the single float surface is the shared 4dp floor-round.
    "text_jsdiv" ->
      s"""WITH $TOK,
         |tf AS (
         |  SELECT d.source, t.token, COUNT(*) AS c
         |  FROM tok t JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1),
         |pr AS (SELECT tf.source, tf.token, tf.c / ns.n AS p
         |       FROM tf JOIN ns USING (source)),
         |sh AS (
         |  SELECT a.source AS source_a, b.source AS source_b,
         |         SUM(a.p * ln(2 * a.p / (a.p + b.p))
         |           + b.p * ln(2 * b.p / (a.p + b.p))) AS t_shared,
         |         SUM(a.p) AS pa, SUM(b.p) AS qb
         |  FROM pr a JOIN pr b ON a.token = b.token AND a.source < b.source
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.source AS source_a, b.source AS source_b
         |  FROM ns a, ns b WHERE a.source < b.source)
         |SELECT p.source_a, p.source_b,
         |       floor((COALESCE(sh.t_shared, 0)
         |           + (2 - COALESCE(sh.pa, 0) - COALESCE(sh.qb, 0)) * ln(2))
         |           / 2 * 10000 + 0.5) / 10000 AS js_div
         |FROM pairs p LEFT JOIN sh USING (source_a, source_b)
         |ORDER BY source_a, source_b""".stripMargin,
    // Sentence shape: regex splits + list lambdas replay the Spark
    // higher-order-function chain; empty segments filter out before
    // any count, so split-tail semantics can't drift.
    "text_sentences" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(
        |           string_split_regex(lower(text), '[.!?]+'),
        |           s -> len(list_filter(string_split_regex(s, '[^a-z0-9]+'),
        |                    x -> x <> ''))), nn -> nn > 0) AS wc
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(len(wc) AS BIGINT) AS n_sentences,
        |       CAST(COALESCE(list_sum(wc), 0) AS BIGINT) AS n_words,
        |       CAST(COALESCE(list_max(wc), 0) AS BIGINT) AS max_sentence_words,
        |       CAST(CASE WHEN len(wc) = 0 THEN 0
        |            ELSE list_sum(wc) // len(wc) END AS BIGINT)
        |         AS mean_sentence_words
        |FROM w ORDER BY doc_id""".stripMargin,
    // Exact duplicated-substring pairs: md5-keyed 64-char windows at
    // stride 16, df-capped [2, 32], pair counts. range() is
    // stop-EXCLUSIVE so the bound replays sequence()'s inclusive one.
    "dedup_substring" ->
      """WITH w AS (
        |  SELECT DISTINCT doc_id,
        |         md5(substr(text, CAST(pos AS INTEGER), 64)) AS win
        |  FROM (
        |    SELECT doc_id, text,
        |           unnest(range(1, len(text) - 62, 16)) AS pos
        |    FROM documents WHERE len(text) >= 64)),
        |rare AS (SELECT win FROM w GROUP BY win
        |         HAVING COUNT(*) BETWEEN 2 AND 32),
        |c AS (SELECT w.doc_id, w.win FROM w JOIN rare USING (win))
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared_windows
        |FROM c x JOIN c y ON x.win = y.win AND x.doc_id < y.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Radius search: the sim_topk dot/norm contract with the EXACT
    // integer threshold test 100·dot² >= 9·|q|²·|c|² (τ=0.3) in
    // HUGEINT; only the reported max cosine is floats + 4dp floor.
    "sim_range" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |n2 AS (SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS n2
         |       FROM exq GROUP BY 1 HAVING SUM(qx * qx) > 0),
         |dots AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 100 = 0
         |  GROUP BY 1, 2),
         |f AS (
         |  SELECT d.query_id, d.dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots d
         |  JOIN n2 qa ON d.query_id = qa.vec_id
         |  JOIN n2 qb ON d.cand_id = qb.vec_id
         |  JOIN nrm na ON d.query_id = na.vec_id
         |  JOIN nrm nb ON d.cand_id = nb.vec_id
         |  WHERE d.dot > 0
         |    AND 100::HUGEINT * d.dot * d.dot >= 9::HUGEINT * qa.n2 * qb.n2)
         |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_in_range,
         |       floor(MAX(cos) * 10000 + 0.5) / 10000 AS max_cos
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,
    // Growth accounting: distinct (user, integer-week) frame, the
    // first-week classifier, week-shifted self-join; churn balances
    // the ledger exactly (active(w-1) − retained(w)).
    "events_growth" ->
      """WITH uw AS MATERIALIZED (
        |  SELECT DISTINCT user_id,
        |         ((epoch_ms(ts) // 86400000) + 3) // 7 AS wk
        |  FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1),
        |cl AS (
        |  SELECT u.wk,
        |         CASE WHEN f.first_wk = u.wk THEN 'new'
        |              WHEN p.user_id IS NOT NULL THEN 'retained'
        |              ELSE 'resurrected' END AS cls
        |  FROM uw u JOIN fw f USING (user_id)
        |  LEFT JOIN uw p ON p.user_id = u.user_id AND p.wk = u.wk - 1),
        |ag AS (
        |  SELECT wk, COUNT(*) AS n_active,
        |         SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS n_new,
        |         SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS n_retained,
        |         SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END)
        |           AS n_resurrected
        |  FROM cl GROUP BY 1),
        |pa AS (SELECT wk + 1 AS wk, COUNT(*) AS prev_active FROM uw GROUP BY 1)
        |SELECT CAST(ag.wk AS BIGINT) AS wk, CAST(n_active AS BIGINT) AS n_active,
        |       CAST(n_new AS BIGINT) AS n_new,
        |       CAST(n_retained AS BIGINT) AS n_retained,
        |       CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |       CAST(COALESCE(pa.prev_active, 0) - n_retained AS BIGINT)
        |         AS n_churned
        |FROM ag LEFT JOIN pa USING (wk) ORDER BY wk""".stripMargin,
    // Farthest-first k-center: 8 unrolled selection rounds, exact
    // integer d² = |x|²+|c|²−2⟨x,c⟩, (d desc, vec_id) tie-broken.
    "sample_coreset" -> {
      val k = 8
      // dm{i} = min squared distance to centers 1..i; each round j
      // adds center ch{j-1}'s dots and folds with LEAST
      val rounds = (2 to k).map { j =>
        val i = j - 1
        val dist =
          s"nn.n2 + (SELECT n2 FROM nn WHERE vec_id = (SELECT id FROM ch$i))" +
            s" - 2 * dt$j.dot"
        val dmBody =
          if (i == 1)
            s"""SELECT nn.vec_id, $dist AS d
               |  FROM nn JOIN dt$j ON dt$j.vec_id = nn.vec_id""".stripMargin
          else
            s"""SELECT nn.vec_id, LEAST(m.d, $dist) AS d
               |  FROM dm${i - 1} m JOIN nn ON nn.vec_id = m.vec_id
               |  JOIN dt$j ON dt$j.vec_id = m.vec_id""".stripMargin
        s"""dt$j AS (
           |  SELECT a.vec_id, CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
           |  FROM exq a JOIN exq b ON a.i = b.i
           |    AND b.vec_id = (SELECT id FROM ch$i)
           |  GROUP BY 1),
           |dm$i AS MATERIALIZED (
           |  $dmBody),
           |ch$j AS (SELECT vec_id AS id, d FROM dm$i
           |         ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val out = (2 to k)
        .map(j => s"SELECT $j AS rnk, id AS vec_id, d AS d2 FROM ch$j")
        .mkString("\n        UNION ALL ")
      s"""WITH $EX,
         |$EXQ,
         |nn AS MATERIALIZED (
         |  SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS n2
         |  FROM exq GROUP BY 1),
         |ch1 AS (SELECT MIN(vec_id) AS id FROM nn),
         |$rounds
         |SELECT CAST(rnk AS BIGINT) AS rnk, CAST(vec_id AS BIGINT) AS vec_id,
         |       CAST(d2 AS BIGINT) AS d2 FROM (
         |  SELECT 1 AS rnk, (SELECT id FROM ch1) AS vec_id, 0 AS d2
         |  UNION ALL $out)
         |ORDER BY rnk""".stripMargin
    },
    // LSH bucket histogram: the mh signature CTE regrouped by bucket
    // occupancy with the s·(s−1)/2 pair volume per size class.
    "dedup_bucket_stats" ->
      s"""WITH $TOK,
         |$SH,
         |mh AS (
         |  $minhashUnion),
         |bk AS (SELECT perm, mh, COUNT(*) AS s FROM mh GROUP BY 1, 2)
         |SELECT CAST(s AS BIGINT) AS bucket_size,
         |       CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |       CAST(SUM((s * (s - 1)) // 2) AS BIGINT) AS pairs_generated
         |FROM bk GROUP BY 1 ORDER BY bucket_size""".stripMargin,
    // Centroid outliers: truncating per-dim mean (// both engines),
    // exact integer d², fully tie-broken top-20.
    "embed_outliers" ->
      s"""WITH $EX,
         |$EXQ,
         |mn AS (SELECT i, SUM(qx) AS sm, COUNT(*) AS n FROM exq GROUP BY 1),
         |cv AS (SELECT i, CAST(sm // n AS BIGINT) AS c FROM mn),
         |d AS (
         |  SELECT e.vec_id,
         |         CAST(SUM((e.qx - cv.c) * (e.qx - cv.c)) AS BIGINT) AS d2
         |  FROM exq e JOIN cv USING (i) GROUP BY 1)
         |SELECT CAST(vec_id AS BIGINT) AS vec_id, d2 FROM d
         |ORDER BY d2 DESC, vec_id LIMIT 20""".stripMargin,
    // Cohort LTV triangle: first-week cohorts, purchase cents per
    // (cohort, offset), running cumulative over the triangle frame.
    "events_ltv" ->
      """WITH fw AS (
        |  SELECT user_id,
        |         MIN(((epoch_ms(ts) // 86400000) + 3) // 7) AS cohort_wk
        |  FROM events GROUP BY 1),
        |b AS (
        |  SELECT e.user_id,
        |         ((epoch_ms(e.ts) // 86400000) + 3) // 7 AS wk,
        |         CASE WHEN e.event_type = 'purchase'
        |              THEN CAST(floor(e.value * 100 + 0.5) AS BIGINT)
        |              ELSE 0 END AS cents
        |  FROM events e),
        |t AS (
        |  SELECT f.cohort_wk, b.wk - f.cohort_wk AS wk_offset,
        |         COUNT(DISTINCT b.user_id) AS n_active,
        |         SUM(b.cents) AS rev_cents
        |  FROM b JOIN fw f USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(cohort_wk AS BIGINT) AS cohort_wk,
        |       CAST(wk_offset AS BIGINT) AS wk_offset,
        |       CAST(n_active AS BIGINT) AS n_active,
        |       CAST(rev_cents AS BIGINT) AS rev_cents,
        |       CAST(SUM(rev_cents) OVER (PARTITION BY cohort_wk
        |         ORDER BY wk_offset) AS BIGINT) AS cum_rev_cents
        |FROM t ORDER BY cohort_wk, wk_offset""".stripMargin,
    // Seasonal hour anomalies: concrete-hour counts vs the (dow, hod)
    // cell mean, exact integer ratio, ≥2× flagged.
    "events_hour_anomaly" ->
      """WITH h AS (
        |  SELECT epoch_ms(ts) // 3600000 AS hr, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |hh AS (SELECT hr, n, ((hr // 24) + 3) % 7 AS dow, hr % 24 AS hod
        |       FROM h),
        |c AS (SELECT dow, hod, SUM(n) AS cell_total,
        |             COUNT(*) AS occurrences
        |      FROM hh GROUP BY 1, 2)
        |SELECT CAST(hh.hr AS BIGINT) AS hr, CAST(hh.dow AS BIGINT) AS dow,
        |       CAST(hh.hod AS BIGINT) AS hod, CAST(hh.n AS BIGINT) AS n,
        |       CAST(c.cell_total // c.occurrences AS BIGINT) AS baseline,
        |       CAST((1000000 * hh.n * c.occurrences) // c.cell_total AS BIGINT)
        |         AS ratio_ppm
        |FROM hh JOIN c USING (dow, hod)
        |ORDER BY ratio_ppm DESC, hr LIMIT 20""".stripMargin,
    // Per-source token-length percentiles: rank-selected, tie-broken
    // by doc_id — the multimodal_sizes selection on text lengths.
    "text_len_profile" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(len(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS toks
        |  FROM documents),
        |r AS (
        |  SELECT source, toks,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY toks, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY source) AS n
        |  FROM t)
        |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
        |       CAST(MIN(toks) AS BIGINT) AS min_toks,
        |       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN toks END)
        |            AS BIGINT) AS med_toks,
        |       CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN toks END)
        |            AS BIGINT) AS p90_toks,
        |       CAST(MAX(toks) AS BIGINT) AS max_toks
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin,
    // Adjacent-id cosine histogram: quantized-cosine contract over
    // the deterministic (i, i+1) probe pairs, deci-buckets.
    "embed_cos_hist" ->
      s"""WITH $EX,
         |$EXQ,
         |$NRM,
         |dots AS (
         |  SELECT a.vec_id, CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot
         |  FROM exq a JOIN exq b ON a.i = b.i AND b.vec_id = a.vec_id + 1
         |  GROUP BY 1),
         |cs AS (
         |  SELECT d.dot / (na.nrm * nb.nrm) AS cos
         |  FROM dots d
         |  JOIN nrm na ON d.vec_id = na.vec_id
         |  JOIN nrm nb ON d.vec_id + 1 = nb.vec_id)
         |SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM cs GROUP BY 1 ORDER BY bucket""".stripMargin,
    // Matryoshka truncation fidelity: full-vs-half-dim cosine bucket
    // cross-tab over the adjacent-id probe; half dim = MAX(i)//2
    // (uniform-dim corpus — Spark's per-row size(qv) div 2 matches).
    "embed_truncate" ->
      s"""WITH $EX,
         |$EXQ,
         |hd AS (SELECT MAX(i) // 2 AS h FROM exq),
         |ag AS (
         |  SELECT vec_id,
         |         sqrt(CAST(SUM(qx * qx) AS DOUBLE)) AS nrm,
         |         sqrt(CAST(SUM(CASE WHEN i <= (SELECT h FROM hd)
         |           THEN qx * qx ELSE 0 END) AS DOUBLE)) AS nrmh
         |  FROM exq GROUP BY 1
         |  HAVING SUM(qx * qx) > 0
         |     AND SUM(CASE WHEN i <= (SELECT h FROM hd)
         |           THEN qx * qx ELSE 0 END) > 0),
         |dots AS (
         |  SELECT a.vec_id,
         |         CAST(SUM(a.qx * b.qx) AS BIGINT) AS dot_full,
         |         CAST(SUM(CASE WHEN a.i <= (SELECT h FROM hd)
         |           THEN a.qx * b.qx ELSE 0 END) AS BIGINT) AS dot_half
         |  FROM exq a JOIN exq b ON a.i = b.i AND b.vec_id = a.vec_id + 1
         |  GROUP BY 1)
         |SELECT CAST(floor(d.dot_full / (na.nrm * nb.nrm) * 10) AS BIGINT)
         |         AS bucket_full,
         |       CAST(floor(d.dot_half / (na.nrmh * nb.nrmh) * 10) AS BIGINT)
         |         AS bucket_half,
         |       CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM dots d
         |JOIN ag na ON d.vec_id = na.vec_id
         |JOIN ag nb ON d.vec_id + 1 = nb.vec_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Power-iteration PCA: centered per-dim frame, 8 unrolled rounds
    // of project → per-dim HUGEINT score → truncating max-|s| rescale.
    "embed_pca" -> {
      val rounds = 8
      val dim = 64
      val v0 = math.floor(1e6 / math.sqrt(dim.toDouble)).toLong
      val roundCtes = (1 to rounds).map { t =>
        s"""dt$t AS (
           |  SELECT e.vec_id, CAST(SUM(e.qc * v.w) AS BIGINT) AS dot
           |  FROM qc e JOIN v${t - 1} v USING (i) GROUP BY 1),
           |s$t AS (
           |  SELECT e.i, SUM(e.qc::HUGEINT * d.dot) AS s
           |  FROM qc e JOIN dt$t d USING (vec_id) GROUP BY 1),
           |m$t AS (SELECT greatest(MAX(abs(s)), 1) AS m FROM s$t),
           |v$t AS MATERIALIZED (
           |  SELECT i, CAST((1000000::HUGEINT * s) // m AS BIGINT) AS w
           |  FROM s$t, m$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH $EX,
         |$EXQ,
         |mn AS (SELECT i, SUM(qx) AS sm, COUNT(*) AS n FROM exq GROUP BY 1),
         |cvv AS (SELECT i, CAST(sm // n AS BIGINT) AS c FROM mn),
         |qc AS MATERIALIZED (
         |  SELECT e.vec_id, e.i, e.qx - cvv.c AS qc
         |  FROM exq e JOIN cvv USING (i)),
         |v0 AS (SELECT unnest(range(1, $dim + 1)) AS i, $v0 AS w),
         |$roundCtes
         |SELECT CAST(i - 1 AS BIGINT) AS dim, CAST(w AS BIGINT) AS v_ppm
         |FROM v$rounds ORDER BY dim""".stripMargin
    },
    // Source HHI: per-term floored ppm share squares over exact
    // HUGEINT token masses.
    "mix_hhi" ->
      """WITH t AS MATERIALIZED (
        |  SELECT source,
        |         CAST(SUM(len(regexp_extract_all(lower(text),
        |           '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS t
        |  FROM documents GROUP BY 1),
        |n AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
        |       CAST(MAX(n.n) AS BIGINT) AS n_tokens,
        |       CAST(SUM((1000000::HUGEINT * t * t) // (n.n::HUGEINT * n.n))
        |            AS BIGINT) AS hhi_ppm,
        |       CAST((1000000::HUGEINT * MAX(t)) // MAX(n.n) AS BIGINT)
        |         AS top_share_ppm
        |FROM t, n""".stripMargin,
    // Legacy-container decode replay: GIF87a/BMP/PNG header fields
    // are pure functions of doc_id (the synthesis contract); Spark
    // round-trips real bytes, the oracle replays arithmetically.
    "multimodal_legacy" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN 'gif' WHEN 1 THEN 'bmp' ELSE 'png' END AS format,
        |       CAST(doc_id % 509 + 16 AS BIGINT) AS width,
        |       CAST((doc_id * 11) % 509 + 16 AS BIGINT) AS height,
        |       CAST(-1 AS BIGINT) AS sample_rate,
        |       CAST(-1 AS BIGINT) AS channels,
        |       CAST(CASE CAST(doc_id % 3 AS INTEGER)
        |         WHEN 0 THEN 14 WHEN 1 THEN 54 ELSE 45 END AS BIGINT) AS byte_len
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}

package graft.api

import graft.{Queries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's typed entry point (VERDICT r4 #1): compose the engine's
  * pipelines without knowing registry keys. Every typed member is an
  * [[Op]] that only NAMES a registry key; calling it runs the function
  * `graft.Queries.all` binds to that key, so facade results are the
  * oracle-checked contract queries by construction — the registry is the
  * one place a key is bound to a function.
  *
  * Quickstart (the README example):
  * {{{
  * import graft.api.Corpus
  * val c = Corpus(spark, "/data/sf0.1")        // directory of parquet tables
  *
  * val scores   = c.text.quality()             // per-doc quality features
  * val pairs    = c.dedup.minhashPairs()       // LSH near-dup candidates ≥0.8
  * val clusters = c.dedup.clusters()           // connected near-dup clusters
  * val kept     = c.dedup.canonical()          // one representative per cluster
  * val neighbors = c.vectors.ivfTopk()         // ANN top-3 via IVF index
  * val card     = c.datasetCard()              // one-row corpus summary
  * val training = c.trainingEmit()             // full curation pipeline
  * }}}
  *
  * Anything not surfaced here is reachable through [[query]] by its
  * SURVEY §2 registry key.
  */
final class Corpus(val spark: SparkSession, val dir: String) {

  /** A typed facade member: registry `key` and the function `fn` that
    * `graft.Queries.all` binds to it; `m()` runs it on this corpus. Built
    * by `op`, which fails fast on a key missing from the registry and
    * records the member for [[typedOps]].
    */
  final class Op private[Corpus] (val key: String) {
    val fn: Queries.Q = Queries.all.getOrElse(key, throw new NoSuchElementException(key))
    def apply(): DataFrame = fn(spark, dir)
  }
  private val declared = scala.collection.mutable.ListBuffer.empty[Op]
  private[graft] def op(key: String): Op = declared.synchronized { declared += new Op(key); declared.last }

  /** Escape hatch: run any contract query by registry key ([[queryNames]]
    * lists all of them; [[typedOps]] are the ones with a typed member).
    */
  def query(name: String): DataFrame = Queries.all(name)(spark, dir)

  /** All registry keys, for discovery. */
  def queryNames: Seq[String] = Queries.all.keys.toSeq.sorted

  // ── raw tables ──
  def documents: DataFrame = Tables.documents(spark, dir)
  def embeddings: DataFrame = Tables.embeddings(spark, dir)
  def events: DataFrame = Tables.events(spark, dir)

  /** Exact per-column profile of the documents table (null/distinct/min/
    * max/avg per column) — the first query run against an unknown corpus.
    * [[profileApprox]] is the mergeable-sketch twin for the 100 TB path.
    */
  val profile = op("dq_profile_table")

  /** HLL/quantile-sketch profile — same shape as [[profile]], one pass,
    * mergeable partials (the scale path).
    */
  val profileApprox = op("dq_profile_approx")

  /** One-row dataset-card summary: doc/lang/source counts, char and token
    * totals, short-doc share.
    */
  val datasetCard = op("pipeline_dataset_card")

  /** The 7-stage training-corpus emit: normalize → quality gate → exact
    * dedup → train/eval split → decontaminate → per-source quota → stats.
    */
  val trainingEmit = op("pipeline_training_emit")

  /** Deterministic hash-based train/eval split with per-split stats. */
  val splitTrainEval = op("pipeline_split_train_eval")

  /** Fixed-SIZE eval holdout (exactly 100 docs by content-hash bottom-k)
    * with per-source attrition — the shape eval sets are actually carved.
    */
  val evalHoldout = op("pipeline_eval_holdout")

  /** Exact heavy hitters (items > 1/64 of the event stream) via the
    * mergeable Misra–Gries candidate pass + exact recount.
    */
  val heavyHitters = op("agg_heavy_hitters")

  /** Per-group exact heavy hitters (same MG + recount, keyed). */
  val heavyHittersGrouped = op("agg_heavy_hitters_grouped")

  /** Sequence packing: documents onto a global token tape in 512-token
    * training windows (two-pass distributed prefix sum, no global sort).
    */
  val packSequences = op("pipeline_pack_sequences")

  /** Temperature-scaled (α=0.5) source mixing under a 30% epoch token
    * budget — the multilingual-sampling recipe, all-integer allocation.
    */
  val tokenBudgetMix = op("pipeline_token_budget_mix")

  /** Quality-ordered curriculum: 4 ntile phases, best first, per-phase
    * manifests (scalable two-pass global rank).
    */
  val curriculumPhases = op("pipeline_curriculum_phases")

  /** Text analysis over the documents table. */
  object text {
    /** Unicode/whitespace/case normalization (the curation first stage). */
    val normalize = op("text_normalize")
    /** Per-doc quality features: length, punctuation/stopword ratios,
      * repetition — the gate signals of a curation pipeline. */
    val quality = op("text_quality_score")
    /** n-gram-heuristic language ID per document. */
    val langId = op("text_lang_id")
    /** Whitespace + BPE-ish regex token counts per document. */
    val tokenCount = op("text_token_count")
    /** Rolling-hash document fingerprints. */
    val fingerprint = op("text_fingerprint")
    /** Regex PII redaction (emails, phones, SSN-shaped) with audit counts. */
    val piiRedact = op("text_pii_redact")
    /** Fixed-size overlapping chunk split (the RAG/token-window shape). */
    val chunkSplit = op("text_chunk_split")
    /** Per-doc top TF-IDF keywords. */
    val keywords = op("text_keywords_per_doc")
    /** One distributed BPE training step: top-pair census, exact
      * leftmost-first merge, post-merge census (round 13). */
    val bpeMergeRound = op("text_bpe_merge_round")
    /** Per-language out-of-vocabulary rate vs the corpus top-1000
      * vocabulary — the tokenizer-health audit (round 14). */
    val oovRate = op("text_oov_rate")
    /** Corpus token frequencies (the wordcount). */
    val wordcount = op("text_wordcount")
    /** Sparse TF-IDF cosine top-k doc pairs via inverted index. */
    val sparseCosineTopk = op("text_sparse_cosine_topk")
    val bm25Topk = op("text_bm25_topk")
    val bpePairStats = op("text_bpe_pair_stats")
    val exactDedup = op("text_exact_dedup")
    val gopherGates = op("text_gopher_gates")
    val jaccardPairs = op("text_jaccard_pairs")
    val langStats = op("text_lang_stats")
    val levenshteinPairs = op("text_levenshtein_pairs")
    val ngramTopk = op("text_ngram_topk")
    val paragraphDedup = op("text_paragraph_dedup")
    val perplexityProxy = op("text_perplexity_proxy")
    val repetitionStats = op("text_repetition_stats")
    val shingleGenerate = op("text_shingle_generate")
    val sourceEntropy = op("text_source_entropy")
    val tfidfTop = op("text_tfidf_top")
    val tokenExplode = op("text_token_explode")
    val vocabChao1 = op("text_vocab_chao1")
    val zipfSlope = op("text_zipf_slope")
    /** CCNet-style per-language head/middle/tail rarity terciles. */
    val rarityBuckets = op("text_rarity_buckets")
  }

  /** Per-doc novelty of 5-grams in ingest order (crawl-dup early warning). */
  val noveltyFrac = op("text_novelty_frac")

  /** Deterministic quality-weighted Bernoulli downsampling report. */
  val qualityWeightedSample = op("pipeline_quality_weighted_sample")

  /** Reproducible per-epoch shuffle manifests (pure function of epoch+id). */
  val epochShuffle = op("pipeline_epoch_shuffle")

  /** Per-domain KL terms vs a uniform target + capped resampling factors
    * — the corpus-mix rebalancing report (round 13). */
  val domainMixKl = op("pipeline_domain_mix_kl")

  /** Count-min sketch (d=4 × w=64) of the event stream with a probe-set
    * overestimate audit (round 13). */
  val countminSketch = op("agg_countmin_sketch")

  /** Holt linear (double-exponential) smoothing of the daily revenue
    * series, dyadic α/β, cross-engine-pinned recurrence (round 13). */
  val holtLinear = op("ts_holt_linear")

  /** Top-15 session 3-step event paths (round 13). */
  val eventPaths = op("win_event_paths")

  /** As-of view→purchase conversion lag with exact interpolated
    * quantiles (round 13). */
  val conversionLag = op("win_conversion_lag")

  /** RFM quintile customer segmentation (round 14). PREFER
    * [[rfmScoresScalable]]: this form ranks through three
    * single-partition global ntile windows — fine on a demo fixture,
    * a scale-killer on a real corpus. The scalable twin is spec-pinned
    * row-identical (Round15Spec), so there is no fidelity trade-off.
    */
  val rfmScores = op("win_rfm_scores")

  /** The F5v2 two-pass range-partitioned twin of [[rfmScores]] — same
    * segments, no single-partition global window (the 100 TB path).
    */
  val rfmScoresScalable = op("win_rfm_scores_scalable")

  /** Cumulative lifetime value by acquisition cohort (round 14). */
  val cohortLtv = op("win_cohort_ltv")

  /** KMV/theta distinct sketch with union + intersection (round 14). */
  val thetaKmv = op("agg_theta_kmv")

  /** Exact Mann–Whitney ROC-AUC of a score vs a binary label (round 14). */
  val aucScore = op("ml_auc_score")

  /** Confusion matrix + precision/recall/F1 at five integer thresholds
    * over the score range (round 14). */
  val prCurve = op("ml_pr_curve")

  /** Decile calibration (reliability) table on the AUC fixture — two-pass
    * range-partitioned deciles, exact-integer cells.
    */
  val calibrationBins = op("ml_calibration_bins")

  /** Cumulative-gains / lift table (score-descending deciles). */
  val liftDeciles = op("ml_lift_deciles")

  /** DSIR hashed-n-gram importance weights vs the target slice (round 14). */
  val dsirWeights = op("pipeline_dsir_weights")

  /** Deduplication pipelines over the documents table. */
  object dedup {
    /** Exact dedup, keep first by content fingerprint. */
    val exact = op("dedup_exact_keep_first")
    /** Per-doc MinHash signatures (k=4, 3-shingles, binary digests). */
    val minhashSignatures = op("dedup_minhash_sig")
    /** LSH-banded candidate pairs verified to shingle-Jaccard ≥ 0.8. */
    val minhashPairs = op("dedup_minhash_pairs")
    /** SimHash near-dup buckets. */
    val simhash = op("dedup_simhash")
    /** Near-dup clusters: alternating-star connected components over the
      * verified pair graph — O(log² n) rounds at any diameter. */
    val clusters = op("dedup_connected_components_v2")
    /** One canonical representative per near-dup cluster. */
    val canonical = op("dedup_cluster_canonical")
    /** Embedding-cosine semantic dup clusters (mutual-kNN + star CC). */
    val semanticClusters = op("dedup_semantic_clusters")
    /** Drop train docs sharing >50% 3-shingles with the eval set. */
    val decontaminate = op("text_decontaminate_overlap")
    /** Fraction of each doc's n-grams occurring elsewhere in the corpus. */
    val ngramCorpusFrac = op("dedup_ngram_corpus_frac")
    /** Asymmetric containment |A∩B|/|A|: top-3 corpus absorbers per
      * probe doc — catches subset near-dups Jaccard misses. */
    val shingleContainment = op("dedup_shingle_containment")
    /** Two-tier incremental-ingest dedup behind a data-sized Bloom
      * prefilter (exact confirm — counts are filter-independent). */
    val bloomPrefilter = op("dedup_bloom_prefilter")
    /** The 100 TB form: per-bucket Bloom filters via the mergeable
      * BloomSketch aggregate, no corpus-sized driver merge. */
    val bloomPartitioned = op("dedup_bloom_partitioned")
    /** Banding decision table: candidates/precision/recall for every
      * (bands, rows) layout of the 4-hash MinHash. */
    val bandTuningSweep = op("dedup_band_tuning_sweep")
    /** Benchmark decontamination at the published 13-gram standard. */
    val decontaminate13gram = op("text_decontaminate_13gram")
    /** LSH candidates scored on BOTH modalities (shingle Jaccard +
      * embedding cosine) with agreement flags (round 13). */
    val multiSignal = op("dedup_multi_signal")
    /** The dedup impact funnel: exact → paragraph-majority → verbatim-
      * window stages, removals attributed to the first catching stage,
      * per-stage token-mass retention (round 13). */
    val funnel = op("pipeline_dedup_funnel")
    /** 1/cluster-size soft-dedup training weights (round 13). */
    val softWeights = op("pipeline_softdedup_weights")
    /** The v1 contract alias of [[clusters]] (identical transitive-closure
      * semantics). */
    val connectedComponents = op("dedup_connected_components")
    val embeddingTopk = op("dedup_embedding_topk")
    val exactSubstring = op("dedup_exact_substring")
    val lshRecallEval = op("dedup_lsh_recall_eval")
    /** The mergeable TypedImperativeAggregate twin of [[minhashSignatures]]. */
    val minhashSignaturesAgg = op("dedup_minhash_sig_agg")
    val pqCodes = op("dedup_pq_codes")
    val urlCanonical = op("dedup_url_canonical")
  }

  /** Similarity search over the embeddings table. */
  object vectors {
    /** Exact brute-force cosine top-k for a bounded query set — the
      * verification baseline; [[ivfTopk]] is the scale path. */
    val knnTopk = op("vec_knn_topk")
    /** IVF (inverted-file) ANN top-3, 10-cell coarse quantizer, nprobe=2. */
    val ivfTopk = op("ann_ivf_topk")
    /** Sign-LSH bucketed neighbors. */
    val lshBuckets = op("ann_lsh_bucket")
    /** Recall@10 of the IVF index vs exact ground truth, per query. */
    val recallAtK = op("ann_recall_at_k")
    /** Per-label centroids. */
    val centroids = op("vec_centroid_by_label")
    /** Int8 quantization with reconstruction error stats. */
    val quantizeInt8 = op("vec_quantize_int8")
    /** L2-norm sanity stats per label. */
    val normStats = op("vec_norm_stats")
    /** PageRank hubs of the 5-NN similarity graph (top-20). */
    val pagerankHubs = op("graph_pagerank_knn")
    /** Top principal direction + Rayleigh eigenvalue (collapse check). */
    val pcaTopDirection = op("vec_pca_power_iter")
    /** Spherical k-means (two Lloyd rounds, k=10): cell sizes + cohesion. */
    val kmeansClusters = op("vec_kmeans_lloyd")
    /** Neighbor-set Jaccard of the 5-NN graph (link-prediction score). */
    val knnJaccard = op("graph_knn_jaccard")
    /** Contrastive hard negatives: top-3 cross-label neighbors per
      * vector from the cell-pruned IVF candidate stage. */
    val hardNegatives = op("vec_hard_negatives")
    /** IVF + product-quantization ANN: cell-pruned ADC scan over the
      * 4-byte packed codes, top-3 per query. */
    val ivfPqTopk = op("ann_ivf_pq_topk")
    /** Two-stage serving: PQ-ADC shortlist re-ranked by exact dots. */
    val pqRerank = op("vec_pq_rerank")
    /** Graph-traversal ANN: bounded 2-hop expansion over the standing
      * kNN graph + exact re-rank (the HNSW layer-0 idiom). */
    val graphExpandTopk = op("ann_graph_expand_topk")
    /** Hybrid retrieval: reciprocal-rank fusion of BM25 and dense ANN. */
    val hybridRrf = op("search_hybrid_rrf")
    /** Recall-vs-dimension curve of prefix-truncated embeddings. */
    val matryoshkaEval = op("vec_matryoshka_eval")
    /** Fixpoint k-core of the full-corpus mutual-8NN graph, with a
      * convergence certificate (round 11). */
    val kcoreFull = op("graph_kcore_full")
    /** kNN SELF-join: every corpus vector's top-3 neighbors with sims,
      * one scan of the standing full-corpus candidate artifact. */
    val knnJoinFull = op("vec_knn_join_full")
    /** Top-20 similarity clusters of the full-corpus mutual-8NN graph
      * (O(log²)-round star components). */
    val ccFull = op("graph_cc_full")
    /** PageRank hubs over the full-corpus directed 8-NN graph. */
    val pagerankFull = op("graph_pagerank_full")
    /** Recall@8 of the full-corpus candidate scheme vs exact ground
      * truth — the index ships with its measured quality. */
    val recallFull = op("ann_recall_full")
    /** Semi-supervised label propagation over the full-corpus 5-NN
      * graph: two clamped majority rounds densify a 20%-held-out label
      * set (round 12). */
    val labelPropFull = op("graph_labelprop_full")
    /** Jaccard link prediction (top-15 neighbor-set overlaps) on the
      * full-corpus 5-NN graph (round 12). */
    val jaccardFull = op("graph_jaccard_full")
    /** Recall@10 of the 4-byte ADC serving scan vs exact L2 ground
      * truth — the PQ index ships with its measured quality (round 12). */
    val pqRecall = op("pq_recall_at_k")
    /** Force-rebuild the standing vector-search index (IVF quantizer +
      * inverted lists, PQ codebooks/codes/packed words, bounded + full
      * kNN candidate relations) and emit its artifact manifest. Serving
      * methods read this store, building on first use if absent. */
    val indexBuild = op("index_build_vecsearch")
    /** Recall@10 of the IVF index at nprobe 1/2/3 — the recall/cost
      * curve the nprobe setting is tuned from (round 12). */
    val ivfRecallSweep = op("vec_ivf_recall_sweep")
    /** Per-cell L2 drift of the frozen base-snapshot quantizer vs a
      * fresh M-step on the current corpus — the rebuild-policy audit for
      * the incremental lifecycle (round 12). */
    val centroidDrift = op("vec_centroid_drift")
    /** INCREMENTALLY update the vector store from the base snapshot:
      * re-assign + re-encode only the delta slice against the frozen
      * quantizers, compute only the delta band of the kNN shortlist, and
      * emit the merged manifest — row-identical to a from-scratch build
      * under the frozen routing (round 12). */
    val indexUpdate = op("index_update_vecsearch")
    /** The serve/update/reroute/retrain decision table over the drift
      * audit — the nightly index-maintenance policy (rounds 13–14). */
    val indexPolicy = op("index_policy_vecsearch")
    /** Second-routing-table ANN: candidates from BOTH the standing store
      * and a cross-axis rebucketing — the scheme that penetrates the
      * cell-capture ceiling (round 13; the indexPolicy reroute target). */
    val multitableTopk = op("ann_multitable_topk")
    /** Per-query ADAPTIVE probe depth: cells probed until the candidate
      * floor is reached; recall + cost vs the fixed-nprobe grid. */
    val probeAdaptive = op("vec_probe_adaptive")
    /** Variance-ranked dimension pruning with the cumulative
      * variance-share curve (round 13). */
    val dimVariancePrune = op("vec_dim_variance_prune")
    /** Integer-exact HITS hubs/authorities over the full-corpus mutual
      * 8-NN graph (round 13). */
    val hitsFull = op("graph_hits_full")
    /** Seeded deterministic 3-step random walks over the mutual-8NN
      * graph — the DeepWalk/node2vec sampling primitive (round 13). */
    val randomWalks = op("graph_random_walks")
    /** Range (threshold) similarity search eval: exact ε-ball vs the
      * standing shortlist at the same τ (round 14). */
    val rangeSearch = op("ann_range_search")
    /** Resource-allocation link prediction on the mutual-8NN graph
      * (round 14). */
    val resourceAlloc = op("graph_resource_alloc")
    /** Local clustering coefficient per node, top-20 (round 14). */
    val clusteringCoeff = op("graph_clustering_coeff")
    /** Retrain churn: frozen-vs-fresh quantizer cell reassignment of the
      * current corpus (round 14). */
    val retrainChurn = op("vec_retrain_churn")
    val cosinePairs = op("vec_cosine_pairs")
    /** The codegen'd DotProduct twin of [[cosinePairs]]. */
    val cosinePairsNative = op("vec_cosine_pairs_native")
    val errorMetrics = op("vec_error_metrics")
    val binaryHammingTopk = op("vec_binary_hamming_topk")
    val ivfStats = op("vec_ivf_stats")
    val pqAdcTopk = op("vec_pq_adc_topk")
    val pqError = op("vec_pq_error")
    val pqResidual = op("vec_pq_residual")
    val triangleKnn = op("graph_triangle_knn")
    val triangleFull = op("graph_triangle_full")
    val degreeAssortativity = op("graph_degree_assortativity")
    val assortativityFull = op("graph_assortativity_full")
    val kcorePeel = op("graph_kcore_peel")
    val labelPropagation = op("graph_label_propagation")
    val modularityFull = op("graph_modularity_full")
    val modularityLabels = op("graph_modularity_labels")
    val bfsDistanceFull = op("graph_bfs_distance_full")
  }

  /** Data-quality checks. */
  object quality {
    /** Declarative rule violations (nulls, ranges, regex, uniqueness). */
    val ruleViolations = op("dq_rule_violations")
    /** MAD-based robust anomaly flags on event values. */
    val anomalies = op("dq_anomaly_mad")
    /** PSI distribution drift between time slices. */
    val distributionDrift = op("dq_distribution_drift")
    /** Orphaned-foreign-key audit across the relational tables. */
    val referentialIntegrity = op("dq_referential_integrity")
    /** Benford first-digit screen on order totals. */
    val benfordScreen = op("dq_benford_first_digit")
    /** Trailing-7-day z-score of daily ingest volume per event type. */
    val rollingZscore = op("dq_rolling_zscore")
    /** Two-sample Kolmogorov-Smirnov drift statistic, exact-integer sup. */
    val ksTest = op("dq_ks_test")
    /** Registry-diff schema drift between the two time halves (round 13). */
    val schemaDrift = op("dq_schema_drift")
    val abTtest = op("dq_ab_ttest")
    val freshnessLag = op("dq_freshness_lag")
    val incidentIslands = op("dq_incident_islands")
    val outlierTukey = op("dq_outlier_tukey")
    val pkUniqueness = op("dq_pk_uniqueness")
    val profileDrift = op("dq_profile_drift")
  }

  /** Multimodal (opaque binary) columns. */
  object media {
    /** Byte-level stats over binary payloads. */
    val binaryStats = op("mm_binary_stats")
    /** mapPartitions decode pipeline (stub codec; real plumbing). */
    val decodeFeatures = op("mm_decode_features")
    /** Every-10th-frame sampling plumbing. */
    val frameSample = op("mm_frame_sample")
    /** Content-addressable block dedup ratio per document. */
    val chunkDedup = op("mm_chunk_dedup")
    /** Object-per-item blob ingestion via the binaryFile source. */
    val ingestBinary = op("source_binaryfile_ingest")
    /** Near-dup payload pairs from the standing media index (block-
      * SimHash signatures, banded Hamming ≤ 10). */
    val phashPairs = op("mm_phash_hamming")
    /** Near-dup payload clusters (star CC over the pair relation). */
    val phashClusters = op("mm_phash_clusters")
    /** Force-rebuild the standing media near-dup index and emit its
      * artifact manifest. */
    val indexBuild = op("index_build_mediasig")
    /** INCREMENTAL media-index maintenance: re-sign only the delta
      * slice, merge pair relations — row-identical to a full rebuild at
      * delta-sized cost (round 11). */
    val indexUpdate = op("index_update_mediasig")
    val magicSniff = op("mm_magic_sniff")
    val chunkTable = op("mm_chunk_table")
  }

  /** Streaming / event-sequence analytics (the stream_* family: each a
    * batch query whose Structured-Streaming twin is spec-verified on
    * MemoryStream fixtures).
    */
  object streams {
    val tumbling1h = op("stream_tumbling_1h")
    val sliding1h15m = op("stream_sliding_1h_15m")
    val session30m = op("stream_session_30m")
    val sessionCustom = op("stream_session_custom")
    val dauRetention = op("stream_dau_retention")
    val funnel = op("stream_funnel")
    val watermarkLate = op("stream_watermark_late")
    val dedupKeepFirst = op("stream_dedup_keep_first")
    val statefulCount = op("stream_stateful_count")
    val statefulCountV2 = op("stream_stateful_count_v2")
    val joinViewPurchase = op("stream_join_view_purchase")
    val cdcApply = op("stream_cdc_apply")
    val scd2ChangeIntervals = op("scd2_change_intervals")
  }

  /** Corpus-pipeline operations (the pipeline_* family beyond the
    * top-level composites).
    */
  object pipelines {
    val corpusCuration = op("pipeline_corpus_curation")
    val incrementalMerge = op("pipeline_incremental_merge")
    val qualityFunnel = op("pipeline_quality_funnel")
    val observeMetrics = op("pipeline_observe_metrics")
    val datasetDiff = op("pipeline_dataset_diff")
    val packingEfficiency = op("pipeline_packing_efficiency")
    val compactionPlan = op("pipeline_compaction_plan")
    val shardManifest = op("pipeline_shard_manifest")
    val shuffleStripe = op("pipeline_shuffle_stripe")
    val licenseFilter = op("pipeline_license_filter")
    val versionHash = op("pipeline_version_hash")
  }

  /** ML feature engineering + model calibration (the ml_* transforms and
    * the param_sweep_* calibration family).
    */
  object features {
    val featureHash = op("ml_feature_hash")
    val featureScalerFit = op("ml_feature_scaler_fit")
    val targetEncodeLoo = op("ml_target_encode_loo")
    /** Grid-sweep calibration: broadcast param grid × corpus, argmin
      * (the D4 sweep). [[deStep]] is the evolutionary path. */
    val sweepArgmin = op("param_sweep_argmin")
    /** One differential-evolution generation (DE/rand/1/bin, seeded
      * replayable randomness) over the 2-D integer param box — the
      * calibration family beyond the grid (round 16). */
    val deStep = op("param_sweep_de_step")
    /** One (μ+λ) self-adaptive evolution-strategy generation — each
      * individual carries its own mutating step sizes (round 16). */
    val saesStep = op("param_sweep_saes_step")
  }

  /** 2D fixed-grid stencil / image-cleaning over the 8×8 grids read from
    * the embeddings (round 16 — the upstream reference's literal core
    * transform family).
    */
  object grid {
    /** Two-threshold tailcut clean: per-image core/boundary/kept counts
      * + kept-intensity sum/max. */
    val tailcutClean = op("grid_tailcut_clean")
    /** Isolated-island removal: 4-neighbor components over kept pixels
      * (the global star-CC loop), per-image largest-island profile. */
    val islandLargest = op("grid_island_largest")
    /** 3×3 edge-clipped integer box-mean stencil with per-image peak
      * readout. */
    val stencilSmooth = op("grid_stencil_smooth")
  }

  /** The relational/commerce workload battery (the wk_* contract family). */
  object workload {
    val q10Returns = op("wk_q10_returns")
    val q11ImportantStock = op("wk_q11_important_stock")
    val q12LagPriority = op("wk_q12_lag_priority")
    val q13OrderCountDist = op("wk_q13_order_count_dist")
    val q14PromoShare = op("wk_q14_promo_share")
    val q15TopSupplier = op("wk_q15_top_supplier")
    val q16SupplierCnt = op("wk_q16_supplier_cnt")
    val q17SmallQtyRevenue = op("wk_q17_small_qty_revenue")
    val q18LargeOrders = op("wk_q18_large_orders")
    val q19BrandDiscounts = op("wk_q19_brand_discounts")
    val q20ExcessStock = op("wk_q20_excess_stock")
    val q21LateSupplier = op("wk_q21_late_supplier")
    val q22LapsedCustomers = op("wk_q22_lapsed_customers")
    val q2MinCostSupplier = op("wk_q2_min_cost_supplier")
    val q3ShippingPriority = op("wk_q3_shipping_priority")
    val q4OrderPriority = op("wk_q4_order_priority")
    val q5RegionVolume = op("wk_q5_region_volume")
    val q6DiscountRevenue = op("wk_q6_discount_revenue")
    val q7RegionTrade = op("wk_q7_region_trade")
    val q8MarketShare = op("wk_q8_market_share")
    val q9ProductProfit = op("wk_q9_product_profit")
  }

  /** Time-series analytics over the events stream (the ts_* family). */
  object timeseries {
    val autocorrHourly = op("ts_autocorr_hourly")
    val changepointCusum = op("ts_changepoint_cusum")
    val downsampleOhlc = op("ts_downsample_ohlc")
    val forecastBaselineMae = op("ts_forecast_baseline_mae")
    val gapfillHourly = op("ts_gapfill_hourly")
    val hourofdayProfile = op("ts_hourofday_profile")
    val intervalUnion = op("ts_interval_union")
    val resampleInterp5m = op("ts_resample_interp_5m")
    val seasonalAnova = op("ts_seasonal_anova")
    val seasonalDecompose = op("ts_seasonal_decompose")
  }

  /** Window/sequence analytics (the win_* family). */
  object windows {
    val cumeDistPct = op("win_cume_dist_pct")
    val cumulativeDistinct = op("win_cumulative_distinct")
    val drawdown = op("win_drawdown")
    val ewma = op("win_ewma")
    val firstLast = op("win_first_last")
    val leadLag = op("win_lead_lag")
    val nthValue = op("win_nth_value")
    val ntilePct = op("win_ntile_pct")
    val ntileScalable = op("win_ntile_scalable")
    val patternMatch = op("win_pattern_match")
    val periodOverPeriod = op("win_period_over_period")
    val rangeFrame = op("win_range_frame")
    val rankTopn = op("win_rank_topn")
    val ratioToReport = op("win_ratio_to_report")
    val retentionCohort = op("win_retention_cohort")
    val rolling7d = op("win_rolling_7d")
    val rollingMedian = op("win_rolling_median")
    val runningTotal = op("win_running_total")
    val streakIslands = op("win_streak_islands")
  }

  /** Aggregation analytics — sketches, stats, OLAP rollups (agg_*). */
  object analytics {
    val approxHll = op("agg_approx_hll")
    val bitmapDistinct = op("agg_bitmap_distinct")
    val bool = op("agg_bool")
    val collectSorted = op("agg_collect_sorted")
    val corrPairs = op("agg_corr_pairs")
    val countDistinct = op("agg_count_distinct")
    val cube = op("agg_cube")
    val decayHalflife = op("agg_decay_halflife")
    val filterClause = op("agg_filter_clause")
    val giniRevenue = op("agg_gini_revenue")
    val groupByAll = op("agg_group_by_all")
    val groupingId = op("agg_grouping_id")
    val groupingSets = op("agg_grouping_sets")
    val histogram = op("agg_histogram")
    val histogramEquidepth = op("agg_histogram_equidepth")
    val hllSketchUnion = op("agg_hll_sketch_union")
    val incrementalMerge = op("agg_incremental_merge")
    val minMaxBy = op("agg_min_max_by")
    val modeDeterministic = op("agg_mode_deterministic")
    val multiDistinct = op("agg_multi_distinct")
    val percentileApprox = op("agg_percentile_approx")
    val percentiles = op("agg_percentiles")
    val pricingSummary = op("agg_pricing_summary")
    val regression = op("agg_regression")
    val robustStats = op("agg_robust_stats")
    val rollup = op("agg_rollup")
    val skewKurtosis = op("agg_skew_kurtosis")
    val stats = op("agg_stats")
    val stringConcat = op("agg_string_concat")
    val tdigest = op("agg_tdigest")
    val weightedMedian = op("agg_weighted_median")
  }

  /** Every typed member, top-level and in each family object, in
    * declaration order: forcing the family objects runs their `op`
    * declarations, so no second list of keys exists to drift. A family
    * left out of this list leaves its keys untriaged, which
    * CorpusApiSpec's coverage gate reports.
    */
  lazy val typedOps: Seq[Op] = {
    Seq(text, dedup, vectors, quality, media, streams, pipelines, features,
      grid, workload, timeseries, windows, analytics)
    declared.synchronized(declared.toList)
  }
}

object Corpus { def apply(spark: SparkSession, dir: String): Corpus = new Corpus(spark, dir) }

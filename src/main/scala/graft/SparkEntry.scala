package graft

import graft.queries.{Curation, Dedup, LakeQueries, Profile, Relational, Similarity, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is an operator from SURVEY §2 (or a
  * BASELINE.json extension operator) and, where SQL-expressible, has a
  * DuckDB oracle in [[oracleSql]] with identical column names/aliases.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q7StarJoin(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SURVEY §2.2-2.5 relational surface
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q2_dim_join" -> (Relational.q2DimJoin _),
    "q3_additive_merge" -> (Relational.q3AdditiveMerge _),
    "q4_filter_project" -> (Relational.q4FilterProject _),
    "q5_distinct" -> (Relational.q5Distinct _),
    "q6_topk" -> (Relational.q6TopK _),
    "q7_star_join" -> (Relational.q7StarJoin _),
    "q8_window_dedup" -> (Relational.q8WindowDedup _),
    "q9_from_json" -> (Relational.q9FromJson _),
    "q10_date_buckets" -> (Relational.q10DateBuckets _),
    "q11_pk_filter" -> (Relational.q11PkFilter _),
    "q12_cast_agg" -> (Relational.q12CastAgg _),
    "q13_semi_anti" -> (Relational.q13SemiAnti _),
    "q14_set_ops" -> (Relational.q14SetOps _),
    "q15_rollup" -> (Relational.q15Rollup _),
    "q16_percentiles" -> (Relational.q16Percentiles _),
    "q17_window_funcs" -> (Relational.q17WindowFuncs _),
    "q18_above_avg" -> (Relational.q18AboveAvg _),
    "q19_sessionize" -> (Relational.q19Sessionize _),
    "q20_pivot" -> (Relational.q20Pivot _),
    "q21_asof_join" -> (Relational.q21AsofJoin _),
    "q22_range_join" -> (Relational.q22RangeJoin _),
    "q23_grouping_sets" -> (Relational.q23GroupingSets _),
    "q24_explode" -> (Relational.q24Explode _),
    "q25_unpivot" -> (Relational.q25Unpivot _),
    "q26_full_outer" -> (Relational.q26FullOuter _),
    // rank-limit per-group top-k (WindowGroupLimit partial pushdown)
    "q27_group_topk" -> (Relational.q27GroupTopK _),
    // hot-key mitigation: two-phase salted agg / salted+replicated join,
    // result identical to the unsalted operation (graft.functions.Skew)
    "q28_skew_agg" -> (Relational.q28SkewAgg _),
    "q29_skew_join" -> (Relational.q29SkewJoin _),
    // tumbling event-time windows, batch form (streaming semantics gated)
    "q30_tumbling_window" -> (Relational.q30TumblingWindow _),
    // ordered-sequence funnel + first-seen cohort retention (events)
    "q31_funnel" -> (Relational.q31Funnel _),
    "q32_retention" -> (Relational.q32Retention _),
    "q33_cube" -> (Relational.q33Cube _),
    "q34_interval_overlap" -> (Relational.q34IntervalOverlap _),
    // correlated scalar subquery decorrelated into one window pass
    "q35_above_own_avg" -> (Relational.q35AboveOwnAvg _),
    // equi-width histogram in exact integer-cents bucketing
    "q36_histogram" -> (Relational.q36Histogram _),
    // gaps-and-islands: longest consecutive-day streak per user
    "q37_streaks" -> (Relational.q37Streaks _),
    // value-based RANGE window frame: trailing-24h per-user totals
    "q38_range_frame" -> (Relational.q38RangeFrame _),
    // relational division: the count-distinct-equals-divisor rewrite
    "q39_division" -> (Relational.q39Division _),
    // keyed point lookup through key-range + bloom file pruning
    "lake_point_lookup" -> (LakeQueries.lakePointLookup _),
    // per-doc first-occurrence 3-gram novelty share
    "text_novelty" -> ((s, dir) => TextAnalysis.novelty(s, dir)),
    // banded-Hamming pHash candidate join over the payload stub hash
    "mm_phash_pairs" -> ((s, dir) => TextAnalysis.mmPhashPairs(s, dir)),
    // deterministic inverse-length rejection sampling (map-only)
    "curate_rejection_sample" -> (Curation.rejectionSample _),
    // order-independent per-source content checksum (cnt/xor/min/max)
    "stats_checksum" -> ((s, dir) => Profile.statsChecksum(s, dir)),
    // hottest-key report: the pre-join/groupBy salt-factor sizing view
    "stats_key_skew" -> ((s, dir) => Profile.keySkew(s, dir)),
    // SURVEY §2.1 lake-table format ops (S3/S4/K1) through the oracle gate
    "lake_merge_snapshot" -> (LakeQueries.lakeMergeSnapshot _),
    // DSv2 metadata-only aggregates (no data files opened)
    "lake_meta_agg" -> (LakeQueries.lakeMetaAgg _),
    // GROUP BY partition column answered from commit metadata: one row
    // per partition, zero data files opened (the "partitions" metadata
    // table shape through plain SQL)
    "lake_meta_agg_grouped" -> (LakeQueries.lakeMetaAggGrouped _),
    "lake_mor_snapshot" -> (LakeQueries.lakeMorSnapshot _),
    "lake_incremental" -> (LakeQueries.lakeIncremental _),
    "lake_delete" -> (LakeQueries.lakeDelete _),
    "lake_zonemap_filter" -> (LakeQueries.lakeZonemapFilter _),
    // z-order clustering table service + the 2-D box read it serves
    "lake_zorder_filter" -> (LakeQueries.lakeZorderFilter _),
    // hilbert-curve clustering rewrite: same box-read contract, tighter
    // zone maps (face-adjacent curve runs; ZoneMapSpec head-to-head)
    "lake_hilbert_filter" -> (LakeQueries.lakeHilbertFilter _),
    // storage-partitioned join: two co-bucketed tables join on the
    // record key with zero shuffles (BucketIndexSpec plan assert)
    "lake_bucket_join" -> (LakeQueries.lakeBucketJoin _),
    // consistent cross-table read at the SnapshotGroup cut: the joint
    // view must hide commits above the minimum stable frontier
    "lake_group_asof" -> (LakeQueries.lakeGroupAsof _),
    // atomic multi-table transaction: a committed cross-table upsert is
    // visible on BOTH sides, a crashed in-doubt half on NEITHER
    "lake_txn_group" -> (LakeQueries.lakeTxnGroup _),
    // z-order over a string × numeric pair: the string dimension
    // buckets via the order-preserving first-8-bytes proxy
    "lake_zorder_string" -> (LakeQueries.lakeZorderString _),
    // hidden partitioning: days(ets) derived at write (UTC), source-
    // column range read prunes day dirs, moved keys relocate
    "lake_hidden_partition" -> (LakeQueries.lakeHiddenPartition _),
    "lake_partition_expire" -> (LakeQueries.lakePartitionExpire _),
    "lake_time_travel" -> (LakeQueries.lakeTimeTravel _),
    // savepoint-restore: roll back a destructive commit, read the snapshot
    "lake_restore" -> (LakeQueries.lakeRestore _),
    // write-time schema evolution: commit 2 adds a column; old files
    // read null-filled under the evolved schema
    "lake_schema_evolution" -> (LakeQueries.lakeSchemaEvolution _),
    "lake_read_optimized" -> (LakeQueries.lakeReadOptimized _),
    // SQL MERGE INTO via the delta-based row-level operation path
    "lake_merge_into" -> (LakeQueries.lakeMergeInto _),
    // CDC change feed: net insert/update(pre+post)/delete images per key
    "lake_changes" -> (LakeQueries.lakeChanges _),
    // per-commit full-history audit feed from ONE scan (the SCD2
    // bootstrap primitive; deletes carry their commit, unlike the net
    // feed which cannot know it)
    "lake_history_feed" -> (LakeQueries.lakeHistoryFeed _),
    // per-key audit lookup: the same feed key-range + bloom pruned to
    // the probed keys' file groups across history
    "lake_key_history" -> (LakeQueries.lakeKeyHistory _),
    // incremental view maintenance: state@c1 + signed change images
    // must bitwise-equal the final snapshot's rollup
    "lake_rollup_incremental" -> (LakeQueries.lakeRollupIncremental _),
    // IVM family 3: distinct/min/max via the multiplicity aux state —
    // the non-self-maintainable aggregates, kept delete-safe
    "lake_distinct_incremental" -> (LakeQueries.lakeDistinctIncremental _),
    // posting-list secondary index on a non-key column: exact-file
    // prune where zone maps can't, structurally stale-safe
    "lake_secondary_index" -> (LakeQueries.lakeSecondaryIndex _),
    // the incremental refresh path: only post-build files scanned, the
    // lookup then serves entirely from postings
    "lake_secondary_refresh" -> (LakeQueries.lakeSecondaryRefresh _),
    // SCD2 dimension history from the CDC feed, versions bounded by
    // commit ordinals (deterministic, unlike wall-clock instants)
    "lake_scd2" -> (LakeQueries.lakeScd2 _),
    // zero-copy branch + conflict-checked merge-back: branch edits and
    // deletes land on main exactly (Delta-clone/Nessie shape)
    "lake_branch_merge" -> (LakeQueries.lakeBranchMerge _),
    // point-in-time dimension lookup over the SCD2 history: each probe
    // sees the version valid at its ordinal (no temporal leakage)
    "lake_scd2_pit" -> (LakeQueries.lakeScd2Pit _),
    // extension operators: text analysis / dedup / similarity / multimodal
    "text_stats" -> (TextAnalysis.textStats _),
    "text_exact_dedup" -> (TextAnalysis.exactDedup _),
    // token-distribution entropy in q4 bits (low-entropy spam screen)
    "text_entropy" -> (TextAnalysis.entropy _),
    // canonical normalization: the pre-pass for variant-tolerant dedup
    "text_normalize" -> (TextAnalysis.normalize _),
    // overlapping token-window chunking: stable chunk ids + boundary
    // geometry + per-chunk md5 (RAG indexing / training-sequence prep)
    "text_chunks" -> ((s, dir) => TextAnalysis.chunks(s, dir)),
    // chunk-level exact dedup: repeated retrieval-granularity passages
    "text_chunk_dedup" -> (TextAnalysis.chunkDedup _),
    // BPE vocabulary induction: first 10 merges over the word-frequency
    // table (vocabulary-bounded trainer; oracle unrolls the rounds)
    "text_bpe_merges" -> ((s, dir) => TextAnalysis.bpeMerges(s, dir)),
    // the APPLY half: tokenize the corpus with the learned merges (the
    // model inlined as a chained replace expression — map-only scan)
    "text_bpe_tokenize" -> ((s, dir) => TextAnalysis.bpeTokenize(s, dir)),
    // boilerplate mining: highest-df 3-grams (licenses/template chrome)
    "text_common_ngrams" -> ((s, dir) => TextAnalysis.commonNgrams(s, dir)),
    // integer-exact frequency-share drift between two corpus snapshots
    "stats_corpus_drift" -> (TextAnalysis.corpusDrift _),
    "text_quality" -> (TextAnalysis.qualityScore _),
    // bigram-LM quality score in portable integer arithmetic (bit-length
    // log2), so the whole "LM" replays exactly in the oracle
    "text_lm_score" -> ((s, dir) => TextAnalysis.lmScoreFor(
      Relational.t(s, dir, "documents"))),
    "text_langid" -> (TextAnalysis.langId _),
    "text_curate" -> (TextAnalysis.curate _),
    "text_fingerprint" -> (Dedup.fingerprints _),
    // substring-level dup detection: shared 10-token windows across docs
    "text_dup_spans" -> (TextAnalysis.dupSpans _),
    // winnowing (MOSS) fingerprint selection: min-hash-per-window index
    "text_winnowing" -> (TextAnalysis.winnowing _),
    // increment scored against the staged corpus span index
    "text_dup_spans_incr" -> (TextAnalysis.dupSpansIncremental _),
    // portable-arithmetic sketches: one-pass cardinality / frequency
    // estimation whose hashes replay exactly in the SQL oracle
    "stats_hll_distinct" -> (Sketches.hllDistinct _),
    "stats_hll_groups" -> (Sketches.hllGroups _),
    "stats_hll_overlap" -> (Sketches.hllOverlap _),
    // KMV bottom-k sketch: exact-membership union sample -> the
    // intersection/difference estimates HLL inclusion-exclusion can't do
    "stats_kmv_setops" -> (Sketches.kmvSetOps _),
    "stats_cm_topk" -> (Sketches.cmHeavyHitters _),
    // all-integer HDR histogram quantiles (mergeable, ≤1/16 rel. error)
    "stats_hdr_quantiles" -> (Sketches.hdrOrderQuantiles _),
    "stats_hdr_groups" -> (Sketches.hdrGroupQuantiles _),
    // one-scan column profiler (null rate / cardinality / range per col)
    "stats_profile" -> (Profile.statsProfile _),
    // the corpus-scale profile: HLL cardinalities, bounded shuffle
    "stats_profile_sketch" -> (Profile.statsProfileSketch _),
    "mm_features" -> (TextAnalysis.mmFeatures _),
    // multimodal planning halves: sampled-frame byte ranges, resize dims
    "mm_frame_sample" -> (TextAnalysis.mmFrameSample _),
    "mm_resize" -> (TextAnalysis.mmResize _),
    "dedup_jaccard_pairs" -> (Dedup.jaccardPairs _),
    // directed near-containment (subset duplication Jaccard misses):
    // PPJoin prefix on the contained side, full index on the container
    "dedup_containment_pairs" -> ((s, dir) => Dedup.containmentPairs(s, dir)),
    // df-capped variant: stop-shingles dropped before similarity — the
    // boilerplate-resistant, cost-bounded reading of near-dup
    "dedup_jaccard_dfcap" -> ((s, dir) => Dedup.jaccardPairsDfCap(s, dir)),
    "dedup_minhash_lsh" -> (Dedup.minhashLsh _),
    // connected components over the near-dup pair graph -> dedup families
    "dedup_clusters" -> (Dedup.dedupClusters _),
    // keep the BEST copy per dup family (quality-ranked, not min-id)
    "dedup_cluster_canonical" -> (Dedup.clusterCanonical _),
    // cluster-keyed train/val split: near-dups never straddle the split
    "curate_split_leakfree" -> (Curation.leakFreeSplit _),
    "dedup_simhash" -> (Dedup.simhashPairs _),
    "sim_topk_bruteforce" -> (Similarity.topKBruteForce _),
    // truncated-dimension (matryoshka) recall@10 vs the full-dim truth:
    // one corpus scan scores every (query, dim) prefix slice
    "sim_matryoshka_recall" -> (Similarity.matryoshkaRecall _),
    // matryoshka × IVF: prefix-dim cell ranking + candidate shortlist
    // over the staged cell layout, full-dim exact re-score of survivors
    "sim_matryoshka_probe" -> ((s, dir) => Similarity.matryoshkaProbe(s, dir)),
    // incremental IVF index: the new batch APPENDS into the staged cell
    // layout (fixed centroids, no retrain, existing files untouched)
    "sim_ivf_incr" -> ((s, dir) => Similarity.ivfIncrementalTopK(s, dir)),
    // IVF index DELETE maintenance (faiss remove_ids): tombstone
    // sidecar masks candidates at probe time, index files untouched
    "sim_ivf_delete" -> ((s, dir) => Similarity.ivfDeleteTopK(s, dir)),
    "sim_ivf_stream" -> ((s, dir) => Similarity.ivfStreamTopK(s, dir)),
    // hybrid lexical+vector retrieval, reciprocal-rank fusion (k=60)
    "sim_hybrid_rrf" -> ((s, dir) => Similarity.hybridTopK(s, dir)),
    // MMR diversified rerank of the top-20 shortlist (lambda = 0.5)
    "sim_mmr" -> ((s, dir) => Similarity.mmrRerank(s, dir)),
    // two-sample KS drift on a numeric column, integer cross-multiplied
    "stats_ks_drift" -> ((s, dir) => Profile.ksDrift(s, dir)),
    // per-language source-concentration Gini in integer basis points
    "stats_gini" -> ((s, dir) => Profile.statsGini(s, dir)),
    // Heaps'-law vocabulary-growth curve at 100-doc checkpoints
    "stats_heaps" -> ((s, dir) => Profile.statsHeaps(s, dir)),
    // triangle counts + clustering coefficient over the kNN graph
    "stats_triangles" -> ((s, dir) => Similarity.triangleStats(s, dir)),
    // all-integer Flesch readability screen (map-only regex counting)
    "text_readability" -> (TextAnalysis.readability _),
    // PMI-ratio bigram collocations (phrase detection pass)
    "text_collocations" -> ((s, dir) => TextAnalysis.collocations(s, dir)),
    // chi-square term-label association, top terms per lang
    "stats_chi2_terms" -> ((s, dir) => TextAnalysis.chi2Terms(s, dir)),
    // per-cluster k-means health report over the IVF model
    "sim_kmeans" -> (Similarity.kmeansStats _),
    // webdataset-style shard manifest via distributed prefix sum
    "mm_shard_manifest" -> ((s, dir) => TextAnalysis.shardManifest(s, dir)),
    "dedup_cosine_pairs" -> (Similarity.cosinePairs _),
    "dedup_semantic_clusters" -> (Similarity.semanticClusters _),
    "dedup_incremental" -> (Dedup.incrementalDedup _),
    // embedding-family incremental dedup: increment x corpus same-cell
    // candidates against corpus-trained staged centroids, exact re-score
    "dedup_semantic_incr" -> (Similarity.semanticIncremental _),
    "text_tokens_bpe" -> (TextAnalysis.tokenCounts _),
    "sim_lsh_topk" -> (Similarity.lshTopK _), // hash-gated (portable planes)
    // recall@10 of LSH and probed-IVF vs brute force — the eval itself
    // is hash-gated because every leg is bit-portable
    "sim_recall_eval" -> (Similarity.recallEval _),
    // int8-code candidate ranking + exact float re-score — the quantized
    // memory-bandwidth ANN path, deterministic end to end (hash-gated)
    "sim_quant_topk" -> ((s, dir) => Similarity.quantizedTopK(s, dir)),
    // corpus-selection pack: deterministic sampling, budgeted selection,
    // decontamination, term profiling, embedding audit
    "curate_sample_hash" -> (Curation.hashSample _),
    // deterministic corpus shuffle + shard assignment (export ordering)
    "curate_shuffle" -> (Curation.shuffleShards _),
    // D4-style diversity budget: cell-stratified prototypical round-robin
    "curate_diversity_sample" -> ((s, dir) => Curation.diversitySample(s, dir)),
    // DSIR importance weights: hashed-feature target/source log-ratio
    "curate_dsir" -> ((s, dir) => Curation.dsirWeights(s, dir)),
    // PageRank centrality over the kNN graph, integer power iteration
    "curate_centrality" -> ((s, dir) => Curation.centrality(s, dir)),
    // FIM sample prep: deterministic prefix/middle/suffix boundaries
    "curate_fim_split" -> (Curation.fimSplit _),
    "curate_sample_stratified" -> (Curation.stratifiedSample _),
    "curate_token_budget" -> ((s, dir) => Curation.tokenBudget(s, dir)),
    "curate_decontaminate" -> (Curation.decontaminate _),
    // Bloom-bitset prefilter + exact confirm (the big-reference-set shape)
    "curate_bloom_decon" -> (Curation.bloomDecontaminate _),
    "text_tfidf_topk" -> (Curation.tfidfTopTerms _),
    // BM25 ranked retrieval, integer-exact (rational saturation +
    // bit-length idf), df-capped posting-list candidate join
    "text_bm25_topk" -> (Curation.bm25TopK _),
    // incremental impact-index maintenance: staged corpus postings +
    // per-term re-cap of (old top-64 ∪ increment) must converge to the
    // batch build bit-for-bit — the oracle IS the batch SQL
    "text_bm25_incr" -> (Curation.bm25Incremental _),
    "emb_norms" -> (Curation.embeddingNorms _),
    "emb_quantize" -> (Curation.quantizeEmbeddings _),
    "text_scrub_pii" -> (TextAnalysis.scrubPii _),
    // per-source PII incidence report (the pre-scrub compliance view)
    "text_pii_report" -> (TextAnalysis.piiReport _),
    "text_stopwords" -> (TextAnalysis.stopwordFilter _),
    "text_repetition" -> (Curation.repetitionScore _),
    "curate_domain_mix" -> (Curation.domainMix _),
    // corpus-derived sqrt-temperature rebalancing (integer-exact plan)
    "curate_mix_temperature" -> (Curation.mixTemperature _),
    // sketch-derived decile binning (broadcast boundaries, map-only)
    "curate_quantile_bins" -> (Curation.quantileBins _),
    // context-window packing: next-fit doc→sequence assignment per domain
    "curate_pack_sequences" -> ((s, dir) => Curation.packSequences(s, dir)),
    // IVF ANN: k-means cells + nprobe search; the trainer is bit-portable
    // (bounded sample, ordered folds), so the probed result is HASH-GATED
    // against a DuckDB replay of train + assign + probe + re-score
    "sim_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    // ε-ball range search over the same probed IVF layout (data-dependent
    // result size — the contract top-k can't express)
    "sim_range_search" -> ((s, dir) => Similarity.ivfRangeSearch(s, dir)),
    // full-probe IVF: same plan shape as sim_ivf_topk but probing every
    // cell — must be EXACTLY the brute-force result, so it shares that
    // oracle and puts the IVF machinery itself under the hash gate
    "sim_ivf_full" ->
      ((s, dir) => Similarity.ivfTopK(s, dir, probe = Similarity.IvfCells)),
    // PQ ANN: byte-coded corpus, ADC shortlist, exact re-score — output
    // equals brute force (spec-asserted recall 1), so it shares that oracle
    "sim_pq_topk" -> ((s, dir) => Similarity.pqTopK(s, dir)),
    // IVF+PQ composition (faiss IVFPQ): probe prunes cells, ADC ranks
    // 8-byte codes, exact re-score — equals probed IVF at the gate SFs
    // (spec-asserted), so it shares the trainer-replay oracle
    "sim_ivfpq_topk" -> ((s, dir) => Similarity.ivfPqTopK(s, dir)),
    // embedding-space drift: per-cell population share shift between
    // snapshot halves (cells trained on snapshot A, integer-exact rank)
    "stats_embedding_drift" -> (Similarity.embeddingDrift _),
    // embedding outlier screen: per-vector cosine to its assigned IVF
    // centroid, ranked within the cell, bottom 5% flagged — the
    // quarantine signal for encoder glitches / off-distribution rows
    "stats_embedding_outliers" -> (Similarity.embeddingOutliers _),
    // k-NN graph over the WHOLE corpus via the probed IVF layout —
    // shuffle join keyed by cell (no N-row broadcast); hash-gated by a
    // trainer-replay oracle with every vector as a query. Like the IVF
    // and PQ indexes, the graph is a staged pipeline ARTIFACT under the
    // stage dir: built once per corpus snapshot, consumed by this query
    // and the label audit (fresh-build path without the stage dir)
    "sim_knn_graph" -> ((s, dir) => Similarity.stagedKnnGraph(s, dir)),
    // append-only graph maintenance: the increment's rows only, against
    // corpus-trained fixed centroids (the faiss add contract)
    "sim_knn_incr" -> ((s, dir) => Similarity.knnGraphIncremental(s, dir)),
    // kNN label-noise audit: each vector's label vs its probed-graph
    // neighbors' labels; majority disagreement flags a mislabel suspect.
    // Integer counting over the hash-gated graph — fully oracle-replayed
    "curate_label_audit" -> ((s, dir) => Similarity.labelAudit(s, dir)),
    // contrastive hard negatives: top in-band (near, not near-dup) matches
    "sim_hard_negatives" -> (Similarity.hardNegatives _),
    // connected components over the kNN graph: 8-round min-label
    // propagation (converged at gate SFs, spec-asserted), one edge join
    // + node-keyed min per round
    "sim_components" -> ((s, dir) => Similarity.components(s, dir)),
    // Markov transition matrix over per-user event sequences with
    // row-conditional shares in basis points
    "q40_transitions" -> (Relational.q40Transitions _),
    // Benford first-digit audit of a money column, integer bp report
    "stats_benford" -> ((s, dir) => Profile.statsBenford(s, dir)),
    // exact second-order moment matrix (n, Σx, Σy, Σx², Σy², Σxy,
    // covariance numerator) per numeric pair in DECIMAL(38,0)
    "stats_moments" -> ((s, dir) => Profile.statsMoments(s, dir)),
    // per-source template k-gram detection + span removal (the web-
    // scrape boilerplate scrub); gate checks the full reconstruction
    "text_boilerplate" -> ((s, dir) => TextAnalysis.boilerplate(s, dir)),
    // clean/vacuum table service: post-clean snapshot is the exact
    // merged state (oracle shared with lake_merge_snapshot)
    "lake_vacuum" -> (LakeQueries.lakeVacuum _),
    // filtered ANN: pre-filtered same-label top-k through the probed
    // IVF layout (the filtered vector-search API surface)
    "sim_filtered_topk" -> ((s, dir) => Similarity.filteredTopK(s, dir)),
    // curriculum schedule: difficulty ntile phases + in-phase order
    "curate_curriculum" -> ((s, dir) => Curation.curriculum(s, dir)),
    // trained multinomial naive-Bayes classifier in q4 integer bits
    "text_nb_classify" -> ((s, dir) => TextAnalysis.nbClassify(s, dir)),
    // MAD robust outlier screen, value-grouped exact medians
    "stats_mad_outliers" -> ((s, dir) => Profile.statsMadOutliers(s, dir)),
    // trailing 7-day distinct users via the linear fan-out trick
    "q41_sliding_distinct" -> (Relational.q41SlidingDistinct _),
    // hourly burst detection vs the trailing per-type baseline
    "stats_rate_spike" -> ((s, dir) => Profile.rateSpike(s, dir)),
    // RAKE keyphrases: stopword-delimited runs, degree/freq q4 scores
    "text_rake_keyphrases" -> ((s, dir) => TextAnalysis.rakeKeyphrases(s, dir)),
    // bilateral join IVM: CDC deltas + time travel, never a full re-join
    "lake_join_incremental" -> (LakeQueries.lakeJoinIncremental _),
    // the nprobe tuning curve: recall@10 + candidate volume per probe
    "sim_probe_sweep" -> ((s, dir) => Similarity.probeSweep(s, dir)),
    // exact join cardinality + hot-key contributions, join never run
    "stats_join_size" -> ((s, dir) => Profile.statsJoinSize(s, dir)),
    // Fast-AGMS sketch estimate of the same join size (KB-sized state)
    "stats_join_size_sketch" -> ((s, dir) => Profile.statsJoinSizeSketch(s, dir)),
    // active-learning uncertainty sampling over the NB surprise table
    "curate_uncertainty" -> ((s, dir) => TextAnalysis.nbUncertainty(s, dir))
  )

  /** Exact n-gram-Jaccard pair SQL — oracle for BOTH dedup_jaccard_pairs
    * (same algorithm) and dedup_minhash_lsh (LSH recall ≈ 1 at these
    * similarities, exact-verified).
    */
  private val shingleCtes =
    """WITH docs AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
      |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
      |  WHERE len(words) >= 3
      |), ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM docs)""".stripMargin

  private val jaccardPairsCtes = shingleCtes +
    """,
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    COUNT(*) / (a.n + b.n - COUNT(*)) AS jaccard
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
      |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.8)""".stripMargin

  private val jaccardPairsSql = jaccardPairsCtes +
    "\nSELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"

  private val containmentPairsSql = shingleCtes +
    """
      |SELECT a.doc_id AS id_in, b.doc_id AS id_of,
      |  COUNT(*) / a.n AS containment
      |FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id <> b.doc_id
      |GROUP BY a.doc_id, b.doc_id, a.n
      |HAVING COUNT(*) / a.n >= 0.9
      |ORDER BY id_in, id_of""".stripMargin

  /** Connected components over the pair graph as a recursive CTE:
    * reach(doc_id, l) enumerates every label reachable from each node,
    * min per node = the component's canonical id — the declarative
    * statement of the engine's min-label propagation fixpoint.
    */
  private val clusterLabelCtes =
    jaccardPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(doc_id, l) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.doc_id),
        |labels AS (
        |  SELECT doc_id, MIN(l) AS cluster_id FROM reach GROUP BY doc_id)""".stripMargin

  private val dedupClustersSql = clusterLabelCtes +
    """,
      |sizes AS (
      |  SELECT cluster_id, COUNT(*) AS cluster_size
      |  FROM labels GROUP BY cluster_id)
      |SELECT l.doc_id, l.cluster_id, s.cluster_size,
      |       l.doc_id = l.cluster_id AS is_canonical
      |FROM labels l JOIN sizes s USING (cluster_id)
      |ORDER BY l.doc_id""".stripMargin

  private val clusterCanonicalSql = clusterLabelCtes +
    """,
      |sizes AS (
      |  SELECT cluster_id, COUNT(*) AS cluster_size
      |  FROM labels GROUP BY cluster_id),
      |ql AS (SELECT doc_id,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |       FROM documents),
      |m AS (
      |  SELECT l.cluster_id, l.doc_id, ql.n_tokens,
      |    CAST(s.cluster_size AS BIGINT) AS n_members,
      |    row_number() OVER (PARTITION BY l.cluster_id
      |      ORDER BY CASE WHEN ql.n_tokens < 5 THEN 1 ELSE 0 END ASC,
      |               ql.n_tokens DESC, l.doc_id ASC) AS rk
      |  FROM labels l JOIN ql USING (doc_id) JOIN sizes s USING (cluster_id))
      |SELECT cluster_id, doc_id AS keep_id, n_tokens AS keep_tokens,
      |  n_members
      |FROM m WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** Cluster-keyed train/val split (same label CTEs; singletons are their
    * own cluster; assignment = the portable multiplicative scramble).
    */
  private val leakFreeSplitSql = clusterLabelCtes +
    """,
      |allc AS (
      |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN labels l USING (doc_id)),
      |g AS (SELECT doc_id, cluster_id,
      |  (cluster_id * 2654435761) % 1073741789 AS gg FROM allc)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN gg % 10 < 9 THEN 'train' ELSE 'val' END AS split
      |FROM g ORDER BY doc_id""".stripMargin

  private val cosineFold =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE))), (a, x) -> a + x)"

  private def cosineOf(a: String, b: String): String =
    s"""${cosineFold.format(a, b)} /
       |    (sqrt(${cosineFold.format(a, a)}) *
       |     sqrt(${cosineFold.format(b, b)}))""".stripMargin

  /** DuckDB replay of the probed IVF ANN (`sim_ivf_topk`) — possible
    * because [[graft.queries.Similarity.ivfCentroids]] is bit-portable:
    * training runs on the `IvfTrainN` lowest vec_ids and every centroid
    * component is a sequential member-order fold in double divided by
    * the member count, cast to float. The oracle unrolls the
    * `IvfIters` Lloyd iterations as CTE blocks (assign by cosine
    * argmax, tie toward the lower cell; re-average members sorted by
    * vec_id), single-assigns the full corpus, probes each query's
    * `IvfProbe` nearest cells, and exact-rescores — every comparison is
    * made on bit-identical doubles, so the probed (approximate) result
    * hash-matches exactly.
    */
  private def ivfOracleSql: String =
    ivfProbeOracle("WHERE vec_id < 3", 10, "query_id", "vec_id")

  /** The `sim_ivf_delete` oracle: the same trainer replay with the
    * tombstoned ids (`vec_id % 10 == 7`) excluded from the CANDIDATE
    * side only — centroids and cell assignment are trained on the full
    * corpus (faiss remove_ids never retrains), which is exactly what
    * masking candidates at probe time computes.
    */
  private def ivfDeleteOracleSql: String =
    ivfProbeOracle("WHERE vec_id < 3", 10, "query_id", "vec_id",
      " AND a.vec_id % 10 <> 7")

  /** The `sim_ivf_stream` oracle: trainer replay on the REBUILD-TIME
    * survivor set (everything ever streamed in minus both delete
    * batches, `% 10 <> 3 AND % 20 <> 4` — the mid-stream rebuild
    * retrains on exactly that corpus, at its then-current ORIGINAL
    * embeddings), then assignment/probing/scoring over the UPDATED
    * corpus `eu` (the post-rebuild update batch negated `% 10 = 6`'s
    * embeddings; its re-add assigns the new value to the old centroids
    * — faiss's update idiom, no retrain), candidates filtered to the
    * final survivors. Masking post-assignment equals filtering
    * pre-assignment because cell assignment is per-vector.
    */
  private def ivfStreamOracleSql: String =
    ivfProbeOracle("WHERE vec_id < 3", 10, "query_id", "vec_id",
      " AND a.vec_id % 10 <> 3 AND a.vec_id % 20 <> 4",
      "WHERE vec_id % 10 <> 3 AND vec_id % 20 <> 4",
      "\neu AS (SELECT vec_id, CASE WHEN vec_id % 10 = 6" +
        " THEN list_transform(embedding, x -> -x)" +
        " ELSE embedding END AS embedding FROM e),",
      corpus = "eu")

  /** The `sim_knn_graph` oracle: the same trainer replay, but every
    * corpus vector is a query and the output keeps k=3 neighbors as
    * (vec_id, nbr_id, sim, rk).
    */
  private def knnGraphOracleSql: String =
    ivfProbeOracle("", 3, "vec_id", "nbr_id")

  /** The `text_bpe_merges` oracle: the word-frequency table, then each
    * merge round unrolled as a CTE block — pair counting over the
    * split symbol sequence, single-row argmax (count DESC, byte-order
    * ties), the same greedy fold-based merge — exactly the Spark
    * trainer's arithmetic (including the control-sentinel word guard),
    * so the merge table hash-matches.
    */
  private def bpeOracleSql(rounds: Int = 10): String = {
    val sb = new StringBuilder(bpeTrainCtes(rounds))
    sb.append("\n" + (1 to rounds).map(r =>
      s"SELECT CAST($r AS INT) AS rank, lhs, rhs, lhs || rhs AS merged, " +
        s"pc AS pair_count FROM m$r").mkString("\nUNION ALL "))
    sb.append("\nORDER BY rank")
    sb.toString
  }

  /** The shared trainer-CTE prefix (`WITH wf0 ... wf<rounds>`): merge
    * rounds unrolled; the tokenize oracle reads the FINAL word table.
    */
  private def bpeTrainCtes(rounds: Int): String = {
    val sb = new StringBuilder
    // [\s\S] instead of '.': identical "any character" semantics in
    // both regex engines (Java's '.' also excludes \r and the unicode
    // line separators; RE2's only \n)
    sb.append(
      """WITH wf0 AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    regexp_replace(w, '([\s\S])', chr(1) || '\1', 'g') AS seq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 AND NOT contains(w, chr(1))
        |    AND NOT contains(w, chr(2)) GROUP BY w)""".stripMargin)
    for (r <- 1 to rounds) {
      // mg$r carries an unmatched sentinel when the round found no pair
      // (chr(2) never equals a symbol), so an exhausted corpus folds
      // through remaining rounds as a no-op instead of annihilating the
      // word table via an empty cross join; the merge OUTPUT still reads
      // the raw (possibly empty) m$r, matching the trainer's early stop.
      // The fold mirrors TextAnalysis.mergeFold: append onto the tail
      // symbol only when it is EXACTLY lhs (suffix test against the
      // SEP-prefixed accumulator) and the next symbol equals rhs.
      sb.append(s""",
        |pr$r AS (SELECT cnt, unnest(list_transform(range(2, len(sy)),
        |    i -> {'lhs': sy[i], 'rhs': sy[i+1]})) AS p
        |  FROM (SELECT cnt, string_split(seq, chr(1)) AS sy FROM wf${r - 1})),
        |p$r AS (SELECT p.lhs AS lhs, p.rhs AS rhs,
        |    CAST(SUM(cnt) AS BIGINT) AS pc
        |  FROM pr$r GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT lhs, rhs, pc FROM p$r
        |  ORDER BY pc DESC, lhs ASC, rhs ASC LIMIT 1),
        |mg$r AS (SELECT COALESCE(MAX(lhs), chr(2)) AS lhs,
        |    COALESCE(MAX(rhs), chr(2)) AS rhs FROM m$r),
        |wf$r AS MATERIALIZED (SELECT w, cnt,
        |    list_reduce(
        |      list_prepend('', string_split(seq, chr(1))[2:]),
        |      (acc, x) -> CASE WHEN suffix(acc, chr(1) || mg$r.lhs)
        |          AND x = mg$r.rhs
        |        THEN acc || x ELSE acc || chr(1) || x END) AS seq
        |  FROM wf${r - 1}, mg$r)""".stripMargin)
    }
    sb.toString
  }

  /** The `text_bpe_tokenize` oracle: apply-half replay — the trainer
    * CTEs' FINAL word table gives each word's piece count; docs join
    * their words and roll up.
    */
  private def bpeTokenizeSql(rounds: Int = 10): String =
    bpeTrainCtes(rounds) + s""",
      |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |tok AS (SELECT w,
      |  CAST(len(string_split(seq, chr(1))) - 1 AS BIGINT) AS t
      |  FROM wf$rounds)
      |SELECT d.doc_id, CAST(SUM(t.t) AS BIGINT) AS bpe_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_words
      |FROM docw d JOIN tok t ON t.w = d.w
      |WHERE len(d.w) > 0 AND NOT contains(d.w, chr(1))
      |  AND NOT contains(d.w, chr(2))
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** The `text_chunks` window geometry + hash replay (W=64, stride=48,
    * pure integer boundaries) — shared with the chunk-level dedup
    * oracle, which groups the same hashes.
    */
  private val chunksCtes: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents WHERE text IS NOT NULL),
      |k AS (SELECT doc_id, toks, n,
      |  CASE WHEN n <= 64 THEN 0 ELSE CAST((n - 64 + 47) // 48 AS INT) END AS k
      |  FROM d),
      |c AS (SELECT doc_id, toks, n,
      |  CAST(unnest(range(0, k + 1)) AS INT) AS chunk_id FROM k)
      |SELECT doc_id, chunk_id,
      |  CAST(chunk_id * 48 AS INT) AS start_tok,
      |  CAST(LEAST(chunk_id * 48 + 64, n) AS INT) AS end_tok,
      |  CAST(LEAST(chunk_id * 48 + 64, n) - chunk_id * 48 AS INT) AS n_tok,
      |  md5(array_to_string(
      |    toks[chunk_id * 48 + 1 : LEAST(chunk_id * 48 + 64, n)], ' '))
      |    AS chunk_md5
      |FROM c""".stripMargin

  /** The `stats_embedding_outliers` oracle: trainer + assignment replay
    * (asg keeps the winning csim), rank-within-cell ascending, integer
    * bottom-5% flag.
    */
  private def embeddingOutliersSql: String =
    s"""$ivfTrainAssignCtes,
       |r AS (SELECT vec_id, cell, csim,
       |  CAST(row_number() OVER (
       |    PARTITION BY cell ORDER BY csim ASC, vec_id ASC) AS INT)
       |    AS cell_rank,
       |  CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS n_cell
       |  FROM asg)
       |SELECT vec_id, cell, csim, cell_rank, n_cell,
       |  (cell_rank * 20 <= n_cell) AS outlier
       |FROM r ORDER BY vec_id""".stripMargin

  /** The `curate_dsir` oracle: feature hashing (the proven probe-hash +
    * scramble constants), the q4 piecewise-linear log2 per add-one
    * count (`l2(x) = (len(bin(x))−1)·16 + ((x·16) >> (len(bin(x))−1)) −
    * 16`), the per-doc weight sum minus the total-mass correction, and
    * the keep flag via the min-shift + HDR-histogram 90th-percentile
    * boundary (the `curate_quantile_bins` bucket replay) — every step
    * integer, replayed verbatim.
    */
  private def dsirOracleSql: String = {
    def l2(x: String): String =
      s"((length(bin($x)) - 1) * 16 + ((($x) * 16) >> (length(bin($x)) - 1)) - 16)"
    s"""WITH tok AS (
      |  SELECT doc_id, lang,
      |    ((CAST(length(t)*31 + ascii(t)*7 + ascii(reverse(t))*13
      |        + ascii(substr(t,2,1))*17 + ascii(substr(reverse(t),2,1))*19
      |        AS BIGINT) * 2654435761) % 1073741789) % 1024 AS f
      |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
      |        FROM documents)
      |  WHERE length(t) > 0),
      |src AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS cs FROM tok GROUP BY f),
      |tgt AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
      |  WHERE lang = 'en' GROUP BY f),
      |tots AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tok) AS cs_tot,
      |   (SELECT CAST(COUNT(*) AS BIGINT) FROM tok WHERE lang = 'en') AS ct_tot),
      |pd AS (SELECT d.doc_id, SUM(d.n) AS n_tok,
      |    SUM(d.n * (${l2("COALESCE(t.ct, 0) + 1")}
      |             - ${l2("s.cs + 1")})) AS fbits
      |  FROM (SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS n
      |        FROM tok GROUP BY doc_id, f) d
      |  JOIN src s USING (f) LEFT JOIN tgt t USING (f)
      |  GROUP BY d.doc_id),
      |w AS (SELECT doc.doc_id,
      |    CAST(COALESCE(pd.n_tok, 0) AS BIGINT) AS n_tok,
      |    CAST(COALESCE(pd.fbits, 0) - COALESCE(pd.n_tok, 0) *
      |      (${l2("tots.ct_tot + 1")} - ${l2("tots.cs_tot + 1")})
      |      AS BIGINT) AS dsir_q4
      |  FROM documents doc LEFT JOIN pd ON pd.doc_id = doc.doc_id
      |  CROSS JOIN tots),
      |mn AS (SELECT MIN(dsir_q4) AS minv FROM w),
      |sv AS (SELECT doc_id, n_tok, dsir_q4,
      |    CAST(dsir_q4 - minv AS BIGINT) AS s FROM w CROSS JOIN mn),
      |hk AS (SELECT s, length(bin(s)) AS bl FROM sv),
      |hx AS (SELECT CASE WHEN bl <= 5 THEN s
      |         ELSE CAST(bl - 6 AS BIGINT) * 16 + ((s >> (bl - 5)) - 16) + 32
      |         END AS idx,
      |       CASE WHEN bl <= 5 THEN s
      |         ELSE (s >> (bl - 5)) << (bl - 5) END AS lo
      |  FROM hk),
      |hh AS (SELECT idx, lo, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM hx GROUP BY idx, lo),
      |hc AS (SELECT lo, CAST(SUM(cnt) OVER (ORDER BY idx
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM hh),
      |ht AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hh),
      |thr AS (SELECT MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN lo END) AS b9
      |  FROM hc CROSS JOIN ht)
      |SELECT doc_id, n_tok, dsir_q4, (s >= b9) AS keep
      |FROM sv CROSS JOIN thr ORDER BY doc_id""".stripMargin
  }

  /** The `curate_centrality` oracle: the kNN-graph trainer replay, then
    * each power-iteration round unrolled as a CTE block — contribution
    * `r // outdeg` summed per destination, damped integer update — so
    * ranks and positions hash-match after the fixed iteration count.
    */
  private def centralityOracleSql(iters: Int = 5): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH g AS (SELECT vec_id, nbr_id FROM ($knnGraphOracleSql)),
         |deg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS outd
         |  FROM g GROUP BY vec_id),
         |n AS (SELECT DISTINCT vec_id FROM g),
         |r0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS r FROM n)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        |c$i AS (SELECT g.nbr_id AS vec_id, SUM(r.r // d.outd) AS insum
        |  FROM g JOIN r${i - 1} r ON r.vec_id = g.vec_id
        |  JOIN deg d ON d.vec_id = g.vec_id
        |  GROUP BY g.nbr_id),
        |r$i AS (SELECT n.vec_id,
        |    CAST(150000 + (COALESCE(c.insum, 0) * 85) // 100 AS BIGINT) AS r
        |  FROM n LEFT JOIN c$i c ON c.vec_id = n.vec_id)""".stripMargin)
    }
    sb.append(s""",
      |lead AS (SELECT vec_id,
      |    CAST(row_number() OVER (ORDER BY r DESC, vec_id ASC) AS INT)
      |      AS crank
      |  FROM r$iters ORDER BY r DESC, vec_id ASC LIMIT 100)
      |SELECT s.vec_id, s.r AS rank_u, lead.crank
      |FROM r$iters s LEFT JOIN lead ON lead.vec_id = s.vec_id
      |ORDER BY s.vec_id""".stripMargin)
    sb.toString
  }

  /** The `text_entropy` oracle: per-(doc, token) counts, the q4
    * piecewise-linear log2, `n·L(n) − Σ c·L(c)`, truncating per-token
    * division, flag at 32 q4 (2 bits/token) — integer replay verbatim.
    */
  private def entropyOracleSql: String = {
    def l2(x: String): String =
      s"((length(bin($x)) - 1) * 16 + ((($x) * 16) >> (length(bin($x)) - 1)) - 16)"
    s"""WITH tok AS (
       |  SELECT doc_id, t FROM
       |    (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE length(t) > 0),
       |tc AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tok GROUP BY doc_id, t),
       |pd AS (SELECT doc_id, SUM(c) AS n_tok,
       |    SUM(c * ${l2("c")}) AS clog
       |  FROM tc GROUP BY doc_id),
       |e AS (SELECT doc.doc_id,
       |    CAST(COALESCE(pd.n_tok, 0) AS BIGINT) AS n_tok,
       |    CAST(COALESCE(pd.n_tok * ${l2("pd.n_tok")} - pd.clog, 0)
       |      AS BIGINT) AS ent_total_q4
       |  FROM documents doc LEFT JOIN pd ON pd.doc_id = doc.doc_id)
       |SELECT doc_id, n_tok, ent_total_q4,
       |  CAST(COALESCE(ent_total_q4 // n_tok, 0) AS BIGINT) AS ent_per_tok_q4,
       |  (COALESCE(ent_total_q4 // n_tok, 0) < 32) AS low_entropy
       |FROM e ORDER BY doc_id""".stripMargin
  }

  /** The `sim_mmr` oracle: the shortlist + pairwise-sim replay, then
    * each greedy MMR round unrolled as a CTE block (argmax of
    * `rel·0.5 − max-sim-to-selected·0.5`, NOT-EXISTS masking the
    * already-selected) — exact halving keeps every double reproducible,
    * so the full trajectory hash-matches.
    */
  private def mmrOracleSql(depth: Int = 20, select: Int = 10): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
         |sc AS (SELECT q.query_id, e.vec_id,
         |    ${cosineOf("e.embedding", "q.qv")} AS rel, e.embedding
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |scr AS (SELECT query_id, vec_id, rel, embedding,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, vec_id ASC) AS crk
         |  FROM sc),
         |cand AS MATERIALIZED (SELECT * FROM scr WHERE crk <= $depth),
         |pp AS MATERIALIZED (SELECT a.query_id, a.vec_id AS a, b.vec_id AS b,
         |    ${cosineOf("a.embedding", "b.embedding")} AS ps
         |  FROM cand a JOIN cand b
         |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         |sel1 AS MATERIALIZED (SELECT query_id, vec_id, rel, rel AS mmr, 1 AS rk
         |  FROM cand WHERE crk = 1)""".stripMargin)
    for (r <- 2 to select) {
      sb.append(s""",
        |x$r AS (SELECT c.query_id, c.vec_id, c.rel,
        |    c.rel * 0.5 - MAX(p.ps) * 0.5 AS mmr
        |  FROM cand c
        |  JOIN pp p ON p.query_id = c.query_id AND p.a = c.vec_id
        |  JOIN sel${r - 1} s ON s.query_id = p.query_id AND s.vec_id = p.b
        |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} s2
        |    WHERE s2.query_id = c.query_id AND s2.vec_id = c.vec_id)
        |  GROUP BY c.query_id, c.vec_id, c.rel),
        |p$r AS (SELECT query_id, vec_id, rel, mmr,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY mmr DESC, vec_id ASC) AS prk
        |  FROM x$r),
        |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL
        |  SELECT query_id, vec_id, rel, mmr, $r AS rk
        |  FROM p$r WHERE prk = 1)""".stripMargin)
    }
    sb.append(s"""
      |SELECT query_id, vec_id, rel, mmr, CAST(rk AS INT) AS rk
      |FROM sel$select ORDER BY query_id, rk""".stripMargin)
    sb.toString
  }

  /** The `sim_hybrid_rrf` oracle: both retrieval legs replayed (distinct
    * shared-token counts; the brute-force cosine ordering) and the RRF
    * fusion in integer micro-units — `10⁶ // (60 + rank)` per list —
    * so the fused scores and ranking hash-match.
    */
  private def hybridRrfSql(depth: Int = 20): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |d AS (SELECT doc_id, text FROM documents
       |  WHERE doc_id IN (SELECT vec_id FROM e)),
       |tok AS (SELECT DISTINCT doc_id, t FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d)
       |  WHERE len(t) > 0),
       |qt AS (SELECT doc_id AS query_id, t FROM tok WHERE doc_id < 3),
       |lex0 AS (SELECT q.query_id, tok.doc_id,
       |    CAST(COUNT(*) AS BIGINT) AS shared
       |  FROM tok JOIN qt q USING (t) WHERE tok.doc_id <> q.query_id
       |  GROUP BY q.query_id, tok.doc_id),
       |lexr AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY shared DESC, doc_id ASC) AS INT) AS lex_rank
       |  FROM lex0),
       |lex AS (SELECT * FROM lexr WHERE lex_rank <= $depth),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
       |sc AS (SELECT q.query_id, e.vec_id AS doc_id,
       |    ${cosineOf("e.embedding", "q.qv")} AS sim
       |  FROM e, q WHERE e.vec_id <> q.query_id),
       |vecr AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, doc_id ASC) AS INT) AS vec_rank
       |  FROM sc),
       |vec AS (SELECT * FROM vecr WHERE vec_rank <= $depth),
       |f AS (SELECT COALESCE(l.query_id, v.query_id) AS query_id,
       |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    CAST(COALESCE(1000000 // (60 + l.lex_rank), 0) +
       |         COALESCE(1000000 // (60 + v.vec_rank), 0) AS BIGINT) AS rrf_u,
       |    l.lex_rank, v.vec_rank
       |  FROM lex l FULL OUTER JOIN vec v
       |    ON l.query_id = v.query_id AND l.doc_id = v.doc_id),
       |r AS (SELECT query_id, doc_id, rrf_u, lex_rank, vec_rank,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_u DESC, doc_id ASC) AS INT) AS rk
       |  FROM f)
       |SELECT query_id, doc_id, rrf_u, lex_rank, vec_rank, rk
       |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  /** The `stats_ks_drift` oracle: value counts per doc-id half,
    * running-sum CDFs, cross-multiplied integer divergence, top-k by
    * (d_num desc, x asc) — integer replay verbatim.
    */
  private def ksDriftSql(topk: Int = 10): String =
    s"""WITH d AS (SELECT doc_id, n_chars FROM documents),
       |sp AS (SELECT (MAX(doc_id) + 1) // 2 AS split FROM d),
       |c AS (SELECT n_chars AS x,
       |    CAST(SUM(CASE WHEN doc_id < split THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    CAST(SUM(CASE WHEN doc_id >= split THEN 1 ELSE 0 END) AS BIGINT) AS c2
       |  FROM d, sp GROUP BY n_chars),
       |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
       |             CAST(SUM(c2) AS BIGINT) AS n2 FROM c),
       |cum AS (SELECT x,
       |    CAST(SUM(c1) OVER (ORDER BY x ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
       |    CAST(SUM(c2) OVER (ORDER BY x ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
       |  FROM c),
       |sc AS (SELECT cum.x, cum.f1, cum.f2, t.n1, t.n2,
       |    abs(t.n2 * cum.f1 - t.n1 * cum.f2) AS d_num FROM cum, t),
       |r AS (SELECT x, f1, f2, d_num, n1, n2,
       |    CAST(row_number() OVER (ORDER BY d_num DESC, x ASC) AS INT) AS rk
       |  FROM sc)
       |SELECT x, f1, f2, d_num, rk, n1, n2 FROM r WHERE rk <= $topk
       |ORDER BY rk""".stripMargin

  /** The `stats_gini` oracle: per-(lang, source) character mass, rank
    * ascending within lang, exact rank-weighted Gini in BIGINT basis
    * points (floor division matches Spark's DIV on the ≥ 0 numerator).
    */
  private val giniSql: String =
    """WITH m AS (SELECT lang, source, CAST(SUM(n_chars) AS BIGINT) AS x
      |  FROM documents GROUP BY lang, source),
      |r AS (SELECT lang, x, CAST(row_number() OVER (
      |    PARTITION BY lang ORDER BY x ASC, source ASC) AS BIGINT) AS i
      |  FROM m),
      |a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
      |    CAST(SUM(x) AS BIGINT) AS total_mass,
      |    CAST(SUM(i * x) AS BIGINT) AS iws
      |  FROM r GROUP BY lang)
      |SELECT lang, n_sources, total_mass,
      |  CAST((10000 * (2 * iws - (n_sources + 1) * total_mass)) //
      |    (n_sources * total_mass) AS BIGINT) AS gini_bp
      |FROM a ORDER BY lang""".stripMargin

  /** The `stats_heaps` oracle: token first-document buckets vs
    * per-bucket instance counts, running sums over the bucket frame.
    */
  private val heapsSql: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS tok FROM documents),
      |t2 AS (SELECT doc_id, tok FROM toks WHERE len(tok) > 0),
      |nt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS new_types FROM (
      |    SELECT MIN(doc_id) // 100 + 1 AS b FROM t2 GROUP BY tok)
      |  GROUP BY b),
      |inst AS (SELECT doc_id // 100 + 1 AS b,
      |    CAST(COUNT(*) AS BIGINT) AS toks FROM t2 GROUP BY 1)
      |SELECT CAST(inst.b * 100 AS BIGINT) AS checkpoint_docs,
      |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY inst.b ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS vocab,
      |  CAST(SUM(inst.toks) OVER (ORDER BY inst.b ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS total_tokens
      |FROM inst LEFT JOIN nt ON nt.b = inst.b
      |ORDER BY checkpoint_docs""".stripMargin

  /** The `stats_triangles` oracle: the graph replay, undirected edge
    * dedup, the ordered two-hop triangle join, per-corner counts,
    * integer basis-point coefficient — replayed verbatim.
    */
  private def trianglesSql: String =
    s"""WITH g AS (SELECT vec_id, nbr_id FROM ($knnGraphOracleSql)),
       |u AS (SELECT DISTINCT LEAST(vec_id, nbr_id) AS a,
       |    GREATEST(vec_id, nbr_id) AS b
       |  FROM g WHERE vec_id <> nbr_id),
       |tr AS (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
       |  FROM u e1 JOIN u e2 ON e2.a = e1.b
       |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT v AS vec_id, CAST(COUNT(*) AS BIGINT) AS tri
       |  FROM (SELECT unnest([ta, tb, tc]) AS v FROM tr) GROUP BY v),
       |dg AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS deg FROM
       |  (SELECT a AS vec_id FROM u UNION ALL SELECT b AS vec_id FROM u)
       |  GROUP BY vec_id)
       |SELECT dg.vec_id, dg.deg, COALESCE(pn.tri, 0) AS tri,
       |  CAST((COALESCE(pn.tri, 0) * 2 * 10000) //
       |    nullif(dg.deg * (dg.deg - 1), 0) AS BIGINT) AS clust_bp
       |FROM dg LEFT JOIN pn ON pn.vec_id = dg.vec_id
       |ORDER BY dg.vec_id""".stripMargin

  /** The `curate_label_audit` oracle: the full graph replay as a
    * derived table, then two label joins + integer agreement counting —
    * the suspect flag is an integer comparison, so the whole audit
    * hash-matches.
    */
  /** `sim_components` oracle: the graph replay, undirected edge dedup,
    * both-direction edge list, then the reachability closure (the
    * [[clusterLabelCtes]] fixpoint: `UNION` set semantics stop it once
    * no new (node, label) pair appears, however long the chains), min
    * label per node, plus component sizes. The graph CTEs are
    * MATERIALIZED so the replay runs once.
    */
  private def componentsOracleSql: String =
    s"""WITH RECURSIVE g AS MATERIALIZED (SELECT vec_id, nbr_id FROM ($knnGraphOracleSql)),
       |u AS MATERIALIZED (SELECT DISTINCT LEAST(vec_id, nbr_id) AS a,
       |    GREATEST(vec_id, nbr_id) AS b
       |  FROM g WHERE vec_id <> nbr_id),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM u
       |  UNION ALL SELECT b, a FROM u),
       |reach(vec_id, l) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN e ON e.src = r.vec_id),
       |lab AS (SELECT vec_id, MIN(l) AS comp FROM reach GROUP BY vec_id),
       |sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS comp_size
       |  FROM lab GROUP BY comp)
       |SELECT lab.vec_id, lab.comp, sz.comp_size
       |FROM lab JOIN sz USING (comp)
       |ORDER BY vec_id""".stripMargin

  private def labelAuditSql: String =
    s"""SELECT g.vec_id, l.label,
       |  CAST(COUNT(*) AS BIGINT) AS n_nbrs,
       |  CAST(SUM(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS agree,
       |  (SUM(CASE WHEN nl.label = l.label THEN 1 ELSE 0 END) * 2 < COUNT(*))
       |    AS suspect
       |FROM ($knnGraphOracleSql) g
       |JOIN embeddings l ON l.vec_id = g.vec_id
       |JOIN embeddings nl ON nl.vec_id = g.nbr_id
       |GROUP BY g.vec_id, l.label
       |ORDER BY g.vec_id""".stripMargin

  /** The shared trainer + full-corpus-assignment CTE prefix of every
    * IVF-derived oracle (`...WITH e, smp, c0..cN, fs, asg` — asg keeps
    * the winning csim so rank-within-cell consumers can reuse it).
    */
  private def ivfTrainAssignCtes: String = ivfTrainAssignCtes("", "")

  /** `preCtes` injects extra CTEs right after `e` (e.g. a split point);
    * `trainWhere` restricts the TRAINING sample's source rows (the
    * drift oracle trains on snapshot A only, like the Spark side).
    */
  private def ivfTrainAssignCtes(preCtes: String, trainWhere: String,
      assignFrom: String = "e"): String = {
    import graft.queries.Similarity.{IvfCells, IvfIters, IvfTrainN}
    def iter(n: Int, prev: String): String =
      s"""s$n AS (
         |  SELECT s.vec_id, c.cell,
         |    ${cosineOf("s.embedding", "c.cv")} AS csim
         |  FROM smp s, $prev c),
         |a$n AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn
         |    FROM s$n) WHERE rn = 1),
         |c$n AS (
         |  SELECT cell, list_transform(range(0, 64), j ->
         |      CAST(list_reduce(list_prepend(0.0,
         |          list_transform(ms, v -> CAST(v[j + 1] AS DOUBLE))),
         |        (a, x) -> a + x) / len(ms) AS FLOAT)) AS cv
         |  FROM (
         |    SELECT a$n.cell, list(s.embedding ORDER BY s.vec_id) AS ms
         |    FROM a$n JOIN smp s ON a$n.vec_id = s.vec_id
         |    GROUP BY a$n.cell))""".stripMargin
    val iterBlocks = (1 to IvfIters)
      .map(n => iter(n, if (n == 1) "c0" else s"c${n - 1}"))
      .mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),$preCtes
       |smp AS (SELECT vec_id, embedding FROM e $trainWhere ORDER BY vec_id LIMIT $IvfTrainN),
       |c0 AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding AS cv FROM (
       |    SELECT embedding, row_number() OVER (ORDER BY vec_id) AS rn
       |    FROM smp) WHERE rn <= $IvfCells),
       |$iterBlocks,
       |fs AS (
       |  SELECT $assignFrom.vec_id, c.cell,
       |    ${cosineOf(s"$assignFrom.embedding", "c.cv")} AS csim
       |  FROM $assignFrom, c$IvfIters c),
       |asg AS (
       |  SELECT vec_id, cell, csim FROM (
       |    SELECT vec_id, cell, csim, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn
       |    FROM fs) WHERE rn = 1)"""
      .stripMargin
  }

  /** The `sim_kmeans` oracle: trainer + full-corpus assignment replay,
    * then the same exact-integer q12 aggregation per cell (floor of a
    * bit-identical double, integer sum, double division for the mean).
    */
  private def kmeansStatsSql: String =
    s"""$ivfTrainAssignCtes,
       |g AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    MIN(csim) AS min_csim, MAX(csim) AS max_csim,
       |    CAST(SUM(CAST(floor(csim * 4096.0) AS BIGINT)) AS BIGINT)
       |      AS sum_csim_q12
       |  FROM asg GROUP BY cell)
       |SELECT cell, n_members, min_csim, max_csim, sum_csim_q12,
       |  CAST(floor(sum_csim_q12 / n_members) AS BIGINT) AS mean_csim_q12
       |FROM g ORDER BY cell""".stripMargin

  /** The `sim_knn_incr` oracle: trainer replay on the EXISTING corpus
    * (vec_id below the 80% split), full-corpus assignment to those fixed
    * centroids, probe + exact re-score for the increment's queries only.
    */
  private def knnIncrOracleSql: String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe}
    val ctes = ivfTrainAssignCtes(
      "\nsp AS (SELECT (MAX(vec_id) + 1) * 8 // 10 AS v FROM e),",
      "WHERE vec_id < (SELECT v FROM sp)")
    s"""$ctes,
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
       |      WHERE vec_id >= (SELECT v FROM sp)),
       |qs AS (
       |  SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |    FROM qs) WHERE crk <= $IvfProbe),
       |cand AS (
       |  SELECT qc.query_id, a.vec_id FROM qc JOIN asg a USING (cell)
       |  WHERE a.vec_id <> qc.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM cand
       |  JOIN e ce ON ce.vec_id = cand.vec_id
       |  JOIN e qe ON qe.vec_id = cand.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id AS vec_id, vec_id AS nbr_id, sim, rk
       |FROM r WHERE rk <= 3
       |ORDER BY vec_id, rk""".stripMargin
  }

  /** The `sim_ivf_incr` oracle: trainer replay on the PRE-INCREMENT
    * corpus (vec_id below the 80% split — the appended index never
    * retrains), full-corpus assignment to those fixed centroids, then
    * the standard probed top-10.
    */
  private def ivfIncrOracleSql: String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe}
    val ctes = ivfTrainAssignCtes(
      "\nsp AS (SELECT (MAX(vec_id) + 1) * 8 // 10 AS v FROM e),",
      "WHERE vec_id < (SELECT v FROM sp)")
    s"""$ctes,
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
       |qs AS (
       |  SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |    FROM qs) WHERE crk <= $IvfProbe),
       |cand AS (
       |  SELECT qc.query_id, a.vec_id FROM qc JOIN asg a USING (cell)
       |  WHERE a.vec_id <> qc.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM cand
       |  JOIN e ce ON ce.vec_id = cand.vec_id
       |  JOIN e qe ON qe.vec_id = cand.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 10
       |ORDER BY query_id, rk""".stripMargin
  }

  /** The `sim_range_search` oracle: identical trainer + probe replay,
    * final predicate `sim >= threshold` instead of a rank cut.
    */
  private def ivfRangeOracleSql: String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe}
    s"""$ivfTrainAssignCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
       |qs AS (
       |  SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |    FROM qs) WHERE crk <= $IvfProbe),
       |cand AS (
       |  SELECT qc.query_id, a.vec_id FROM qc JOIN asg a USING (cell)
       |  WHERE a.vec_id <> qc.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM cand
       |  JOIN e ce ON ce.vec_id = cand.vec_id
       |  JOIN e qe ON qe.vec_id = cand.query_id)
       |SELECT query_id, vec_id, sim FROM scored WHERE sim >= 0.25
       |ORDER BY query_id, vec_id""".stripMargin
  }

  /** `corpus` names the CTE probing/assignment/scoring read embeddings
    * from (default `e`; the streaming oracle passes an UPDATED corpus
    * `eu` while training stays on `e`'s rebuild-time values — faiss's
    * update idiom: re-assign new vectors to old centroids).
    */
  private def ivfProbeOracle(queryWhere: String, k: Int,
      outId: String, outNbr: String, candWhere: String = "",
      trainWhere: String = "", preCtes: String = "",
      corpus: String = "e"): String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe}
    s"""${ivfTrainAssignCtes(preCtes, trainWhere, corpus)},
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM $corpus $queryWhere),
       |qs AS (
       |  SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |    FROM qs) WHERE crk <= $IvfProbe),
       |cand AS (
       |  SELECT qc.query_id, a.vec_id FROM qc JOIN asg a USING (cell)
       |  WHERE a.vec_id <> qc.query_id$candWhere),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM cand
       |  JOIN $corpus ce ON ce.vec_id = cand.vec_id
       |  JOIN $corpus qe ON qe.vec_id = cand.query_id),
       |r AS (SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id AS $outId, vec_id AS $outNbr, sim, rk
       |FROM r WHERE rk <= $k
       |ORDER BY $outId, rk""".stripMargin
  }

  /** The `sim_matryoshka_probe` oracle: the same trainer replay, then
    * BOTH probe phases — cell ranking and the candidate shortlist — on
    * only the first [[graft.queries.Similarity.MatryoshkaProbeDims]]
    * dims (prefix fold, the bit-portable slice arithmetic the
    * matryoshka-recall gate already pins), and a full-64-dim exact
    * re-score of the surviving candidates.
    */
  private def matryoshkaProbeOracle: String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe, MatryoshkaCand,
      MatryoshkaProbeDims}
    val d = MatryoshkaProbeDims
    def foldD(a: String, b: String): String =
      s"list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
    def cosD(a: String, b: String): String =
      s"""${foldD(a, b)} /
         |    (sqrt(${foldD(a, a)}) * sqrt(${foldD(b, b)}))""".stripMargin
    s"""$ivfTrainAssignCtes,
       |mq AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
       |mqs AS (
       |  SELECT mq.query_id, c.cell,
       |    ${cosD("mq.qv", "c.cv")} AS pcsim
       |  FROM mq, c$IvfIters c),
       |mqc AS (
       |  SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY pcsim DESC, cell ASC) AS crk
       |    FROM mqs) WHERE crk <= $IvfProbe),
       |msc AS (
       |  SELECT mqc.query_id, a.vec_id,
       |    ${cosD("ce.embedding", "qe.qv")} AS psim
       |  FROM mqc JOIN asg a USING (cell)
       |  JOIN e ce ON ce.vec_id = a.vec_id
       |  JOIN mq qe ON qe.query_id = mqc.query_id
       |  WHERE a.vec_id <> mqc.query_id),
       |mcand AS (SELECT query_id, vec_id FROM (
       |  SELECT query_id, vec_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY psim DESC, vec_id ASC) AS prk
       |  FROM msc) WHERE prk <= $MatryoshkaCand),
       |mre AS (
       |  SELECT mcand.query_id, mcand.vec_id,
       |    ${cosineOf("ce.embedding", "qe.qv")} AS sim
       |  FROM mcand JOIN e ce ON ce.vec_id = mcand.vec_id
       |  JOIN mq qe ON qe.query_id = mcand.query_id),
       |mr AS (SELECT query_id, vec_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
       |  FROM mre)
       |SELECT query_id, vec_id, sim, rk FROM mr WHERE rk <= 10
       |ORDER BY query_id, rk""".stripMargin
  }

  /** Shared NB-model CTEs (`WITH tok … fin`): the multinomial NB
    * surprise table (doc_id, lang, cand, bits_q4) behind
    * `text_nb_classify` and `curate_uncertainty` — token/class counts,
    * add-1 smoothing, q4 integer log2, doc priors.
    */
  private def nbScoreCtes: String = {
    def l2(x: String): String =
      s"((length(bin($x)) - 1) * 16 + ((($x) * 16) >> (length(bin($x)) - 1)) - 16)"
    s"""WITH tok AS (SELECT doc_id, lang, t FROM
       |    (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
       |     FROM documents)
       |  WHERE length(t) > 0),
       |pri AS (SELECT lang AS cand,
       |    ${l2("(SELECT COUNT(*) FROM documents)")} - ${l2("COUNT(*)")}
       |      AS prior_q4
       |  FROM documents GROUP BY lang),
       |ct AS (SELECT lang AS cand, t, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM tok GROUP BY lang, t),
       |voc AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM ct),
       |den AS (SELECT cand, ${l2("(t_c + voc.v)")} AS den_q4
       |  FROM (SELECT cand, SUM(c) AS t_c FROM ct GROUP BY cand), voc),
       |sc AS (SELECT tok.doc_id, tok.lang, pri.cand,
       |    CAST(SUM(den.den_q4 -
       |      ${l2("(COALESCE(ct.c, 0) + 1)")}) AS BIGINT) AS tok_bits
       |  FROM tok
       |  CROSS JOIN pri
       |  LEFT JOIN ct ON ct.cand = pri.cand AND ct.t = tok.t
       |  JOIN den ON den.cand = pri.cand
       |  GROUP BY tok.doc_id, tok.lang, pri.cand),
       |fin AS (SELECT doc_id, lang, sc.cand,
       |    tok_bits + pri.prior_q4 AS bits_q4
       |  FROM sc JOIN pri ON pri.cand = sc.cand)""".stripMargin
  }

  /** The `sim_filtered_topk` oracle: trainer + probe replay with the
    * label predicate applied to CANDIDATES before scoring (pre-filter) —
    * queries carry their label, candidates join theirs, equality filters
    * the candidate set, then exact re-score + rank as usual.
    */
  private def filteredTopKSql: String = {
    import graft.queries.Similarity.{IvfIters, IvfProbe}
    s"""$ivfTrainAssignCtes,
       |q AS (SELECT e.vec_id AS query_id, e.embedding AS qv,
       |    le.label AS q_label
       |  FROM e JOIN embeddings le ON le.vec_id = e.vec_id
       |  WHERE e.vec_id < 3),
       |qs AS (SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qc AS (SELECT query_id, cell FROM (
       |    SELECT query_id, cell, row_number() OVER (
       |      PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |    FROM qs) WHERE crk <= $IvfProbe),
       |cand AS (SELECT qc.query_id, a.vec_id, la.label
       |  FROM qc JOIN asg a USING (cell)
       |  JOIN embeddings la ON la.vec_id = a.vec_id
       |  JOIN q ON q.query_id = qc.query_id
       |  WHERE a.vec_id <> qc.query_id AND la.label = q.q_label),
       |scored AS (SELECT cand.query_id, cand.vec_id, cand.label,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM cand JOIN e ce ON ce.vec_id = cand.vec_id
       |  JOIN e qe ON qe.vec_id = cand.query_id),
       |r AS (SELECT query_id, vec_id, label, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
       |  FROM scored)
       |SELECT query_id, vec_id, label, sim, rk FROM r WHERE rk <= 10
       |ORDER BY query_id, rk""".stripMargin
  }

  /** The `sim_probe_sweep` oracle: trainer replay, per-query ranked cell
    * list and full-probe candidate scores computed ONCE (MATERIALIZED —
    * five probe blocks reference them), then per-probe top-10 recall vs
    * the exhaustive ranking plus probed-cell candidate volumes.
    */
  private def probeSweepSql(probes: Seq[Int] = Seq(1, 2, 4, 6, 16)): String = {
    import graft.queries.Similarity.IvfIters
    val blocks = probes.map { p =>
      s"""ph$p AS (SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS hits FROM (
         |    SELECT query_id, vec_id FROM (
         |      SELECT query_id, vec_id, row_number() OVER (
         |        PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
         |      FROM sc WHERE crk <= $p) WHERE rk <= 10) t
         |  JOIN bf ON bf.query_id = t.query_id AND bf.vec_id = t.vec_id
         |  GROUP BY t.query_id),
         |pc$p AS (SELECT qr.query_id, CAST(SUM(csz.sz) AS BIGINT) AS candidates
         |  FROM qr JOIN csz USING (cell) WHERE crk <= $p
         |  GROUP BY query_id)""".stripMargin
    }.mkString(",\n")
    val legs = probes.map { p =>
      s"""SELECT CAST($p AS INT) AS probe, q.query_id,
         |  CAST(COALESCE(ph$p.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(ph$p.hits, 0) * 1000 AS BIGINT) AS recall_bp,
         |  CAST(COALESCE(pc$p.candidates, 0) AS BIGINT) AS candidates
         |FROM q LEFT JOIN ph$p ON ph$p.query_id = q.query_id
         |LEFT JOIN pc$p ON pc$p.query_id = q.query_id""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""$ivfTrainAssignCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
       |  WHERE vec_id < 3),
       |qs AS (SELECT q.query_id, c.cell,
       |    ${cosineOf("q.qv", "c.cv")} AS csim
       |  FROM q, c$IvfIters c),
       |qr AS MATERIALIZED (SELECT query_id, cell, row_number() OVER (
       |    PARTITION BY query_id ORDER BY csim DESC, cell ASC) AS crk
       |  FROM qs),
       |csz AS MATERIALIZED (SELECT cell, CAST(COUNT(*) AS BIGINT) AS sz
       |  FROM asg GROUP BY cell),
       |sc AS MATERIALIZED (SELECT qr.query_id, qr.crk, a.vec_id,
       |    ${cosineOf("ce.embedding", "qe.embedding")} AS sim
       |  FROM qr JOIN asg a USING (cell)
       |  JOIN e ce ON ce.vec_id = a.vec_id
       |  JOIN e qe ON qe.vec_id = qr.query_id
       |  WHERE a.vec_id <> qr.query_id),
       |bf AS MATERIALIZED (SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id, row_number() OVER (
       |      PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
       |    FROM sc) WHERE rk <= 10),
       |$blocks
       |$legs
       |ORDER BY probe, query_id""".stripMargin
  }

  /** The `stats_embedding_drift` oracle: trainer replay on snapshot A
    * (vec_id below the computed split), assignment of BOTH snapshots to
    * the shared cells, per-cell population counts, cross-multiplied
    * integer share shift.
    */
  private def embeddingDriftSql: String = {
    val ctes = ivfTrainAssignCtes(
      "\nsp AS (SELECT (MAX(vec_id) + 1) // 2 AS v FROM e),",
      "WHERE vec_id < (SELECT v FROM sp)")
    s"""$ctes,
       |counts AS (
       |  SELECT cell,
       |    CAST(SUM(CASE WHEN vec_id < (SELECT v FROM sp) THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
       |    CAST(SUM(CASE WHEN vec_id >= (SELECT v FROM sp) THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
       |  FROM asg GROUP BY cell),
       |tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS ta,
       |               CAST(SUM(cnt_b) AS BIGINT) AS tb FROM counts)
       |SELECT cell, cnt_a, cnt_b,
       |  CAST(abs(cnt_a * tot.tb - cnt_b * tot.ta) AS BIGINT) AS xshift
       |FROM counts, tot
       |ORDER BY xshift DESC, cell""".stripMargin
  }

  /** The `curate_diversity_sample` oracle: trainer + assignment replay,
    * then rank-within-cell by prototypicality (csim to the assigned
    * centroid) and take the first `DiversityK` rows of the
    * (crank, cell) round-robin order.
    */
  private def diversityOracleSql: String = {
    import graft.queries.Curation.DiversityK
    s"""$ivfTrainAssignCtes,
       |cr AS (
       |  SELECT vec_id, cell, csim,
       |    CAST(row_number() OVER (
       |      PARTITION BY cell ORDER BY csim DESC, vec_id ASC) AS INT) AS crank
       |  FROM asg)
       |SELECT vec_id, cell, crank, csim FROM cr
       |ORDER BY crank, cell LIMIT $DiversityK""".stripMargin
  }

  /** DuckDB replay of the sketch-based profiler (`stats_profile_sketch`):
    * per profiled column, the same portable integer projection, the same
    * 30-bit two-round hash to (bucket, rho), the raw-HLL power sum with
    * algebraic completion of absent buckets, and the exact
    * nulls/min/max. One block per column, UNION ALL'd.
    */
  private def profileSketchSql: String = {
    def block(name: String, iv: String, num: String): String =
      s"""(WITH v AS (SELECT $iv AS iv, $num AS num FROM lineitem),
         |h AS (SELECT iv, num,
         |        ((iv % 1073741789) * 2654435761) % 1073741789 AS m1 FROM v),
         |g AS (SELECT iv, num,
         |        (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS g FROM h),
         |r AS (SELECT num, g % 256 AS bucket,
         |        CASE WHEN ((xor(g, g >> 11) * 2654435761) % 1073741789) = 0
         |             THEN 31
         |             ELSE 31 - length(bin(
         |               (xor(g, g >> 11) * 2654435761) % 1073741789)) END AS rho
         |      FROM g),
         |mx AS (SELECT bucket, MAX(rho) AS m FROM r
         |       WHERE bucket IS NOT NULL GROUP BY bucket),
         |agg AS (SELECT
         |    CAST(SUM(CAST(1 AS BIGINT) << CAST(31 - m AS INT)) AS BIGINT) AS sp,
         |    COUNT(*) AS nb FROM mx),
         |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         |    MIN(num) AS min_num, MAX(num) AS max_num FROM v)
         |SELECT '$name' AS col_name, base.n_rows, base.n_null,
         |  0.7182725932::DOUBLE * 65536 * 2147483648 /
         |    CAST(COALESCE(agg.sp, 0) +
         |         (256 - COALESCE(agg.nb, 0)) * 2147483648 AS DOUBLE)
         |    AS est_distinct,
         |  base.min_num, base.max_num
         |FROM base, agg)""".stripMargin
    def d2(c: String) = s"CAST(floor($c * 100.0 + 0.5) AS BIGINT)"
    def strTok(c: String) =
      s"length($c) * 31 + ascii($c) * 7 + ascii(reverse($c)) * 13"
    val blocks = Seq(
      block("l_orderkey", "l_orderkey", "CAST(l_orderkey AS DOUBLE)"),
      block("l_quantity", d2("l_quantity"), "l_quantity"),
      block("l_extendedprice", d2("l_extendedprice"), "l_extendedprice"),
      block("l_discount", d2("l_discount"), "l_discount"),
      block("l_shipdate", "epoch_us(l_shipdate)",
        "CAST(epoch_us(l_shipdate) AS DOUBLE)"),
      block("l_returnflag", strTok("l_returnflag"), "CAST(NULL AS DOUBLE)"),
      block("l_linestatus", strTok("l_linestatus"), "CAST(NULL AS DOUBLE)"))
    s"""SELECT * FROM (
       |${blocks.mkString("\nUNION ALL\n")}
       |) ORDER BY col_name""".stripMargin
  }

  private val lakeCtes =
    """WITH src AS (
      |  SELECT *, CAST(epoch(l_shipdate) AS BIGINT) AS created_ts FROM lineitem
      |), b1 AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY l_orderkey, l_linenumber
      |      ORDER BY l_shipdate DESC, l_partkey DESC, l_suppkey DESC,
      |               l_quantity DESC, l_extendedprice DESC) AS rn
      |    FROM src) t WHERE rn = 1
      |), b2 AS (
      |  SELECT l_orderkey, l_linenumber, l_quantity + 1000 AS l_quantity,
      |         l_returnflag, created_ts + 1 AS created_ts
      |  FROM b1 WHERE l_orderkey < 500
      |)""".stripMargin

  /** The BM25 batch-build oracle — shared verbatim by `text_bm25_topk`
    * and `text_bm25_incr` (the incremental impact index converges to
    * the batch index exactly: per-term top-64 merge).
    */
  private val bm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tk AS (SELECT doc_id, token FROM tok WHERE len(token) > 0),
      |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tk GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |       FROM tk GROUP BY 1),
      |cs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |              CAST(SUM(dl) AS BIGINT) AS l FROM dl),
      |dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      |          FROM tf GROUP BY 1),
      |qt AS (SELECT DISTINCT doc_id AS query_id, token
      |       FROM tk WHERE doc_id < 3),
      |imp AS (SELECT doc_id, token, tf FROM (
      |    SELECT doc_id, token, tf,
      |      row_number() OVER (PARTITION BY token
      |        ORDER BY tf DESC, doc_id ASC) AS irk
      |    FROM tf) WHERE irk <= 64),
      |cand AS (
      |  SELECT q.query_id, imp.doc_id, imp.tf, dfreq.df, dl.dl, cs.n, cs.l
      |  FROM imp JOIN qt q USING (token)
      |           JOIN dfreq USING (token)
      |           JOIN dl ON imp.doc_id = dl.doc_id
      |           CROSS JOIN cs
      |  WHERE imp.doc_id <> q.query_id),
      |sc AS (SELECT query_id, doc_id,
      |    CAST(SUM(
      |      (((2 * n + 2) * 1000) // (2 * df + 1)) *
      |      CAST((44000000::HUGEINT * l * tf) //
      |        (20::HUGEINT * l * tf + 6 * l + 18 * dl * n) AS BIGINT))
      |      AS BIGINT) AS score_u,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM cand GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score_u, n_terms,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score_u DESC, doc_id ASC) AS INT) AS rk
      |  FROM sc)
      |SELECT query_id, doc_id, score_u, n_terms, rk
      |FROM r WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  def oracleSql: Map[String, String] = {
    val base = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "text_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bgl AS (
        |  SELECT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 1),
        |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg
        |  FROM t WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM bgl),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*) AS bt FROM bg),
        |scored AS (
        |  SELECT bg.doc_id,
        |    CAST(length(bin(tot.bt)) - length(bin(c2.c2)) AS BIGINT) AS bits
        |  FROM bg JOIN c2 ON bg.w1 = c2.w1 AND bg.w2 = c2.w2
        |          CROSS JOIN tot),
        |perdoc AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(bits) AS BIGINT) AS lm_bits
        |  FROM scored GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(p.n_bigrams, 0) AS n_bigrams,
        |  COALESCE(p.lm_bits, 0) AS lm_bits,
        |  CASE WHEN p.n_bigrams IS NULL THEN NULL
        |       ELSE CAST((p.lm_bits * 16) // p.n_bigrams AS BIGINT)
        |  END AS bits_per_bigram_q4
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "mm_shard_manifest" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(512 + octet_length(encode(COALESCE(text, ''))) AS BIGINT)
        |      AS b
        |  FROM documents),
        |c AS (SELECT doc_id, b,
        |    COALESCE(SUM(b) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT CAST(cum // 32768 AS BIGINT) AS shard_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(b) AS BIGINT) AS shard_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "text_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0))
        |      AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN CAST(
        |      20683 - (1015 * n_words) // (10 * n_sentences)
        |            - (8460 * n_syllables) // n_words AS BIGINT)
        |    ELSE NULL END AS flesch_x100
        |FROM b ORDER BY doc_id""".stripMargin,
    "text_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w FROM t) WHERE len(w) > 0 GROUP BY w),
        |bgl AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS bg
        |  FROM t WHERE len(t) >= 2),
        |b AS (SELECT bg.w1 AS w1, bg.w2 AS w2,
        |    CAST(COUNT(*) AS BIGINT) AS pair_count
        |  FROM bgl WHERE len(bg.w1) > 0 AND len(bg.w2) > 0 GROUP BY 1, 2),
        |tot AS (SELECT CAST((SELECT SUM(c1) FROM u) AS BIGINT) AS ut,
        |               CAST((SELECT SUM(pair_count) FROM b) AS BIGINT) AS bt)
        |SELECT b.w1, b.w2, b.pair_count,
        |  (CAST(b.pair_count AS DOUBLE) * tot.ut * tot.ut) /
        |  (CAST(tot.bt AS DOUBLE) * u1.c1 * u2.c1) AS pmi_ratio
        |FROM b CROSS JOIN tot
        |JOIN u u1 ON u1.w = b.w1 JOIN u u2 ON u2.w = b.w2
        |WHERE b.pair_count >= 5
        |ORDER BY pmi_ratio DESC, b.w1, b.w2 LIMIT 50""".stripMargin,
    "stats_chi2_terms" ->
      """WITH inc AS (SELECT DISTINCT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) WHERE len(w) > 0),
        |nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
        |  FROM documents GROUP BY lang),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |dft AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df_t
        |  FROM inc GROUP BY w),
        |dftl AS (SELECT w, lang, CAST(COUNT(*) AS BIGINT) AS df_tl
        |  FROM inc GROUP BY w, lang),
        |x AS (SELECT d.lang, d.w, d.df_tl, t.df_t, nl.n_l, nn.n,
        |    t.df_t - d.df_tl AS b
        |  FROM dftl d JOIN dft t ON t.w = d.w
        |  JOIN nl ON nl.lang = d.lang CROSS JOIN nn
        |  WHERE t.df_t >= 10 AND t.df_t < nn.n),
        |sc AS (SELECT lang, w AS term, df_tl, df_t,
        |    (CAST(df_tl * (n - n_l - b) - b * (n_l - df_tl) AS DOUBLE)
        |      * (df_tl * (n - n_l - b) - b * (n_l - df_tl)) * n) /
        |    (CAST(df_t AS DOUBLE) * (n - df_t) * n_l * (n - n_l)) AS chi2
        |  FROM x),
        |r AS (SELECT lang, term, df_tl, df_t, chi2,
        |  CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY chi2 DESC, term ASC) AS INT) AS rk
        |  FROM sc)
        |SELECT lang, term, df_tl, df_t, chi2, rk FROM r
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin,
    "q2_dim_join" ->
      """SELECT COALESCE(p_brand, 'NA') AS brand,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt
        |FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY brand""".stripMargin,
    "q3_additive_merge" ->
      """WITH cur AS (
        |  SELECT l_returnflag, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS cur_sum
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1),
        |inc AS (
        |  SELECT l_returnflag, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS inc_sum
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' GROUP BY 1)
        |SELECT inc.l_returnflag,
        |  CAST(inc.inc_sum + COALESCE(cur.cur_sum, 0) AS DOUBLE) AS total_qty
        |FROM inc LEFT JOIN cur USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "q4_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        |  AND l_shipdate < TIMESTAMP '1997-09-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin,
    "q5_distinct" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",
    "q6_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q7_star_join" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q8_window_dedup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
        |FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY l_shipdate DESC, l_partkey DESC, l_suppkey DESC,
        |             l_quantity DESC, l_extendedprice DESC) AS rn
        |  FROM lineitem) t
        |WHERE rn = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q9_from_json" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q10_date_buckets" ->
      """SELECT strftime(ts, '%Y%m%d') AS logday,
        |  lpad(CAST(EXTRACT(hour FROM ts) AS VARCHAR), 2, '0') ||
        |  lpad(CAST((EXTRACT(minute FROM ts) // 10) * 10 AS VARCHAR), 2, '0') AS hm,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY logday, hm""".stripMargin,
    "q11_pk_filter" ->
      """SELECT COUNT(*) AS cnt FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL""".stripMargin,
    "q12_cast_agg" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_semi_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "q14_set_ops" ->
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |   UNION
        |   SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01')
        |  EXCEPT
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |) t ORDER BY o_custkey""".stripMargin,
    "q15_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "q16_percentiles" ->
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q17_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "q18_above_avg" ->
      """WITH c AS (
        |  SELECT o_custkey, COUNT(*) AS cnt,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s
        |  FROM orders GROUP BY 1)
        |SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
        |FROM orders o JOIN c USING (o_custkey)
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * c.cnt > c.s
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q19_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL THEN 1
        |       WHEN us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id, us,
        |  CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS sid
        |  FROM m)
        |SELECT user_id, sid, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, sid""".stripMargin,
    "q31_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(us) AS c_us FROM e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(us) AS p_us FROM e
        |  JOIN c ON c.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id),
        |n AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n1,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n2,
        |             (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n3)
        |SELECT CAST(stage AS INT) AS stage, step, users,
        |  CAST((users * 10000) // nullif(n1, 0) AS BIGINT) AS conv_bp
        |FROM (
        |  SELECT 1 AS stage, 'view' AS step, n1 AS users, n1 FROM n
        |  UNION ALL SELECT 2, 'view>click', n2, n1 FROM n
        |  UNION ALL SELECT 3, 'view>click>purchase', n3, n1 FROM n)
        |ORDER BY stage""".stripMargin,
    "q32_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
        |SELECT strftime(f.cohort, '%Y%m%d') AS cohort_day,
        |  CAST(date_diff('day', f.cohort, e.d) AS INT) AS day_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS users
        |FROM e JOIN f ON f.user_id = e.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q40_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts) AS us FROM events),
        |t AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY us ASC, event_id ASC) AS to_type
        |  FROM e),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST((n * 10000) // SUM(n) OVER (PARTITION BY from_type)
        |    AS BIGINT) AS share_bp
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "stats_benford" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
        |    AS BIGINT) AS price_c FROM lineitem),
        |d AS (SELECT CAST(substr(CAST(price_c AS VARCHAR), 1, 1)
        |    AS INT) AS digit FROM v WHERE price_c > 0),
        |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
        |  WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
        |b AS (SELECT digit, n,
        |    CAST((n * 10000) // SUM(n) OVER () AS BIGINT) AS share_bp,
        |    CAST(CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760
        |      WHEN 3 THEN 1249 WHEN 4 THEN 969 WHEN 5 THEN 791
        |      WHEN 6 THEN 669 WHEN 7 THEN 579 WHEN 8 THEN 511
        |      ELSE 457 END AS BIGINT) AS benford_bp
        |  FROM c)
        |SELECT digit, n, share_bp, benford_bp,
        |  abs(share_bp - benford_bp) AS dev_bp
        |FROM b ORDER BY digit""".stripMargin,
    "stats_moments" ->
      """WITH p AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
        |    CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS disc_bp
        |  FROM lineitem),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(qty AS HUGEINT)) AS sx1, SUM(CAST(price_c AS HUGEINT)) AS sy1,
        |    SUM(CAST(qty AS HUGEINT) * qty) AS sxx1,
        |    SUM(CAST(price_c AS HUGEINT) * price_c) AS syy1,
        |    SUM(CAST(qty AS HUGEINT) * price_c) AS sxy1,
        |    SUM(CAST(disc_bp AS HUGEINT)) AS sy2,
        |    SUM(CAST(disc_bp AS HUGEINT) * disc_bp) AS syy2,
        |    SUM(CAST(qty AS HUGEINT) * disc_bp) AS sxy2,
        |    SUM(CAST(price_c AS HUGEINT) * disc_bp) AS sxy3
        |  FROM p)
        |SELECT x_name, y_name, n,
        |  CAST(sx AS VARCHAR) AS sx, CAST(sy AS VARCHAR) AS sy,
        |  CAST(sxx AS VARCHAR) AS sxx,
        |  CAST(syy AS VARCHAR) AS syy,
        |  CAST(sxy AS VARCHAR) AS sxy,
        |  CAST(n * sxy - sx * sy AS VARCHAR) AS cov_num
        |FROM (
        |  SELECT 'qty' AS x_name, 'price_c' AS y_name, n,
        |    sx1 AS sx, sy1 AS sy, sxx1 AS sxx, syy1 AS syy, sxy1 AS sxy FROM m
        |  UNION ALL SELECT 'qty', 'disc_bp', n,
        |    sx1, sy2, sxx1, syy2, sxy2 FROM m
        |  UNION ALL SELECT 'price_c', 'disc_bp', n,
        |    sy1, sy2, syy1, syy2, sxy3 FROM m)
        |ORDER BY x_name, y_name""".stripMargin,
    "text_boilerplate" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, source,
        |    unnest(range(1, len(w) - 1)) AS pos,
        |    unnest(list_transform(range(1, len(w) - 1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM d WHERE len(w) >= 3),
        |nd AS (SELECT source, COUNT(*) AS nd FROM d GROUP BY source),
        |dfq AS (SELECT source, sh, COUNT(DISTINCT doc_id) AS df
        |  FROM sh GROUP BY 1, 2),
        |bp AS (SELECT dfq.source, dfq.sh FROM dfq JOIN nd USING (source)
        |  WHERE df >= 3 AND df * 100 >= nd.nd * 12),
        |cov AS (SELECT DISTINCT s.doc_id, s.pos + o.o AS cpos
        |  FROM sh s JOIN bp ON bp.source = s.source AND bp.sh = s.sh,
        |  (SELECT unnest([0, 1, 2]) AS o) o),
        |toks AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
        |    unnest(w) AS word FROM d),
        |kept AS (SELECT t.doc_id, t.pos, t.word FROM toks t
        |  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.cpos = t.pos
        |  WHERE c.doc_id IS NULL),
        |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(word, ' ' ORDER BY pos ASC)) AS clean_md5
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_tokens,
        |  CAST(len(d.w) - COALESCE(cl.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(cl.clean_md5, md5('')) AS clean_md5
        |FROM d LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin,
    // exact-histogram phases (whole-value: equal difficulties never
    // straddle a boundary) + position = hist-prefix + rank-among-equals
    "curate_curriculum" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    n_chars FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |    (n_chars * 100) // n_tokens AS diff_x100 FROM d),
        |h AS (SELECT diff_x100, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1),
        |c AS (SELECT diff_x100, cnt,
        |    CAST(COALESCE(SUM(cnt) OVER (ORDER BY diff_x100 ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before,
        |    CAST(SUM(cnt) OVER () AS BIGINT) AS total
        |  FROM h),
        |p AS (SELECT diff_x100, cum_before,
        |    CAST(1 + (cum_before * 5) // total AS INT) AS phase FROM c),
        |ps AS (SELECT phase, MIN(cum_before) AS phase_start
        |  FROM p GROUP BY 1),
        |m AS (SELECT p.diff_x100, p.phase, p.cum_before, ps.phase_start
        |  FROM p JOIN ps USING (phase)),
        |r AS (SELECT doc_id, n_tokens, diff_x100,
        |    CAST(row_number() OVER (PARTITION BY diff_x100
        |      ORDER BY doc_id ASC) AS INT) AS rn
        |  FROM s)
        |SELECT r.doc_id, r.n_tokens, r.diff_x100, m.phase,
        |  CAST(m.cum_before - m.phase_start + r.rn AS INT) AS pos_in_phase
        |FROM r JOIN m ON m.diff_x100 = r.diff_x100
        |ORDER BY r.doc_id""".stripMargin,
    "stats_rate_spike" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, hr, cnt,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY hr ASC
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
        |      AS base_hours,
        |    CAST(COALESCE(SUM(cnt) OVER (PARTITION BY event_type
        |      ORDER BY hr ASC
        |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS base_sum
        |  FROM h)
        |SELECT event_type, hr, cnt, base_hours, base_sum,
        |  CAST(CASE WHEN base_hours >= 6 AND cnt * base_hours > base_sum * 3
        |    THEN 1 ELSE 0 END AS INT) AS is_spike
        |FROM b ORDER BY event_type, hr""".stripMargin,
    "stats_join_size" ->
      """WITH a AS (SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_a
        |  FROM lineitem GROUP BY 1),
        |b AS (SELECT p_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt_b
        |  FROM part GROUP BY 1),
        |c AS (SELECT a.key, a.cnt_a, b.cnt_b, a.cnt_a * b.cnt_b AS contrib
        |  FROM a JOIN b ON b.key = a.key),
        |t AS (SELECT CAST(SUM(contrib) AS BIGINT) AS total_rows FROM c),
        |r AS (SELECT CAST(row_number() OVER (
        |      ORDER BY contrib DESC, key ASC) AS INT) AS rk,
        |    key, cnt_a, cnt_b, contrib, t.total_rows,
        |    CAST((contrib * 10000) // t.total_rows AS BIGINT) AS share_bp
        |  FROM c, t)
        |SELECT rk, key, cnt_a, cnt_b, contrib, total_rows, share_bp
        |FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "stats_join_size_sketch" ->
      """WITH ha AS (SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY 1),
        |hb AS (SELECT p_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM part GROUP BY 1),
        |cj AS (SELECT unnest(range(0, 5)) AS j),
        |sa AS (SELECT j, hv % 256 AS b,
        |    CAST(SUM(((hv // 256) % 2 * 2 - 1) * cnt) AS BIGINT) AS va
        |  FROM (SELECT cj.j, ha.cnt,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, 16),
        |          i -> CAST(strpos('0123456789abcdef',
        |            substr(md5(cj.j || ':' || ha.k), i, 1)) - 1 AS BIGINT))),
        |        (a, x) -> a * 16 + x) AS hv
        |    FROM ha, cj) GROUP BY 1, 2),
        |sb AS (SELECT j, hv % 256 AS b,
        |    CAST(SUM(((hv // 256) % 2 * 2 - 1) * cnt) AS BIGINT) AS vb
        |  FROM (SELECT cj.j, hb.cnt,
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, 16),
        |          i -> CAST(strpos('0123456789abcdef',
        |            substr(md5(cj.j || ':' || hb.k), i, 1)) - 1 AS BIGINT))),
        |        (a, x) -> a * 16 + x) AS hv
        |    FROM hb, cj) GROUP BY 1, 2),
        |e AS (SELECT sa.j, CAST(SUM(sa.va * sb.vb) AS BIGINT) AS est
        |  FROM sa JOIN sb ON sb.j = sa.j AND sb.b = sa.b GROUP BY sa.j),
        |m AS (SELECT est AS est_rows FROM (
        |    SELECT est, row_number() OVER (ORDER BY est ASC, j ASC) AS rn
        |    FROM e) WHERE rn = 3),
        |x AS (SELECT CAST(SUM(ha.cnt * hb.cnt) AS BIGINT) AS exact_rows
        |  FROM ha JOIN hb ON hb.k = ha.k)
        |SELECT m.est_rows, x.exact_rows,
        |  CAST((abs(m.est_rows - x.exact_rows) * 10000) // x.exact_rows
        |    AS BIGINT) AS err_bp
        |FROM m, x""".stripMargin,
    "q41_sliding_distinct" ->
      """WITH dd AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |mx AS (SELECT MAX(d) AS mx FROM dd),
        |fan AS (SELECT user_id, d + CAST(o.o AS INTEGER) AS day
        |  FROM dd, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o) o),
        |u7 AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS u7
        |  FROM fan, mx WHERE day <= mx.mx GROUP BY day),
        |u1 AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS u1
        |  FROM dd GROUP BY d)
        |SELECT strftime(u7.day, '%Y%m%d') AS day,
        |  COALESCE(u1.u1, 0) AS u1, u7.u7
        |FROM u7 LEFT JOIN u1 ON u1.day = u7.day
        |ORDER BY day""".stripMargin,
    "stats_mad_outliers" ->
      """WITH v AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM v),
        |g1 AS (SELECT cents, COUNT(*) AS n FROM v GROUP BY cents),
        |c1 AS (SELECT cents, SUM(n) OVER (ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g1),
        |med AS (SELECT MIN(cents) AS med FROM c1, t
        |  WHERE cum >= (t.t + 1) // 2),
        |dv AS (SELECT v.o_orderkey, v.cents,
        |    abs(v.cents - med.med) AS dev, med.med FROM v, med),
        |g2 AS (SELECT dev, COUNT(*) AS n FROM dv GROUP BY dev),
        |c2 AS (SELECT dev, SUM(n) OVER (ORDER BY dev ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM g2),
        |mad AS (SELECT MIN(dev) AS mad FROM c2, t
        |  WHERE cum >= (t.t + 1) // 2),
        |r AS (SELECT CAST(row_number() OVER (
        |      ORDER BY dev DESC, o_orderkey ASC) AS INT) AS rk,
        |    o_orderkey, cents, dev, med, mad.mad,
        |    CAST(CASE WHEN dev > mad.mad * 3 THEN 1 ELSE 0 END AS INT)
        |      AS is_outlier
        |  FROM dv, mad)
        |SELECT rk, o_orderkey, cents, dev, med, mad, is_outlier
        |FROM r WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "text_nb_classify" ->
      s"""$nbScoreCtes,
         |r AS (SELECT doc_id, lang, cand, bits_q4,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY bits_q4 ASC, cand ASC) AS rn
         |  FROM fin)
         |SELECT doc_id, lang, cand AS pred, bits_q4,
         |  CAST(CASE WHEN cand = lang THEN 1 ELSE 0 END AS INT) AS correct
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "curate_uncertainty" ->
      s"""$nbScoreCtes,
         |r AS (SELECT doc_id, lang, cand, bits_q4,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY bits_q4 ASC, cand ASC) AS rn
         |  FROM fin),
         |best AS (SELECT doc_id, lang, cand AS pred, bits_q4 AS best_q4
         |  FROM r WHERE rn = 1),
         |sec AS (SELECT doc_id, cand AS runner_up, bits_q4 AS second_q4
         |  FROM r WHERE rn = 2),
         |m AS (SELECT best.doc_id, best.lang, best.pred, sec.runner_up,
         |    best.best_q4, sec.second_q4,
         |    sec.second_q4 - best.best_q4 AS margin_q4
         |  FROM best JOIN sec ON sec.doc_id = best.doc_id),
         |rk AS (SELECT CAST(row_number() OVER (
         |      ORDER BY margin_q4 ASC, doc_id ASC) AS INT) AS rk, *
         |  FROM m)
         |SELECT rk, doc_id, lang, pred, runner_up, best_q4, second_q4,
         |  margin_q4
         |FROM rk WHERE rk <= 50 ORDER BY rk""".stripMargin,
    "text_rake_keyphrases" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |toks AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
        |    unnest(w) AS wrd FROM d),
        |f AS (SELECT doc_id, pos, wrd,
        |    CASE WHEN wrd IN ('a', 'the') THEN 1 ELSE 0 END AS stop
        |  FROM toks),
        |g AS (SELECT doc_id, pos, wrd, stop,
        |    SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM f),
        |nf AS (SELECT doc_id, grp, pos, wrd FROM g WHERE stop = 0),
        |phr AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
        |    string_agg(wrd, ' ' ORDER BY pos ASC) AS phrase
        |  FROM nf GROUP BY doc_id, grp HAVING COUNT(*) <= 4),
        |pw AS (SELECT nf.doc_id, nf.grp, nf.wrd, phr.len
        |  FROM nf JOIN phr USING (doc_id, grp)),
        |wsc AS (SELECT doc_id, wrd,
        |    (CAST(SUM(len) AS BIGINT) * 16) //
        |      CAST(COUNT(*) AS BIGINT) AS wscore_q4
        |  FROM pw GROUP BY doc_id, wrd),
        |ps AS (SELECT pw.doc_id, pw.grp,
        |    CAST(SUM(wsc.wscore_q4) AS BIGINT) AS score_q4
        |  FROM pw JOIN wsc ON wsc.doc_id = pw.doc_id AND wsc.wrd = pw.wrd
        |  GROUP BY pw.doc_id, pw.grp),
        |r AS (SELECT ps.doc_id, phr.phrase, phr.len, ps.score_q4,
        |    CAST(row_number() OVER (PARTITION BY ps.doc_id
        |      ORDER BY ps.score_q4 DESC, phr.phrase ASC) AS INT) AS rk
        |  FROM ps JOIN phr ON phr.doc_id = ps.doc_id AND phr.grp = ps.grp)
        |SELECT doc_id, rk, phrase, len, score_q4 FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "q33_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY st, pri""".stripMargin,
    "q35_above_own_avg" ->
      """WITH ca AS (SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        |    COUNT(*) AS n FROM orders GROUP BY 1)
        |SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, ca.n AS n_orders
        |FROM orders o JOIN ca ON ca.o_custkey = o.o_custkey
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * ca.n > ca.s
        |ORDER BY o_orderkey""".stripMargin,
    "q36_histogram" ->
      """WITH b AS (SELECT o_totalprice,
        |    CAST(least(CAST(floor(o_totalprice * 100) AS BIGINT) // 2500000,
        |               19) AS INT) AS bucket
        |  FROM orders)
        |SELECT bucket, CAST(bucket AS BIGINT) * 25000 AS lo,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q39_division" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 2000
        |GROUP BY o_custkey
        |HAVING COUNT(DISTINCT year(o_orderdate)) = 6
        |ORDER BY o_custkey""".stripMargin,
    "text_novelty" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
        |  WHERE len(words) >= 3),
        |ex AS (SELECT doc_id, unnest(sh) AS ng FROM docs),
        |f AS (SELECT ng, MIN(doc_id) AS fd FROM ex GROUP BY ng)
        |SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS novel,
        |  CAST((SUM(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) * 10000)
        |    // COUNT(*) AS BIGINT) AS novelty_bp
        |FROM ex e JOIN f ON f.ng = e.ng
        |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin,
    "mm_phash_pairs" ->
      """WITH h AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(text), i, 1)) - 1 AS BIGINT))),
        |      (a, x) -> a * 16 + x) AS ph
        |  FROM documents),
        |bands AS (SELECT doc_id, ph, b, (ph >> (b * 15)) & 32767 AS bv
        |  FROM h, range(4) t(b)),
        |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    x.ph AS pa, y.ph AS pb
        |  FROM bands x JOIN bands y
        |  ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hd,
        |  CAST(CASE WHEN bit_count(xor(pa, pb)) <= 6 THEN 1 ELSE 0 END
        |    AS INT) AS is_dup
        |FROM cand ORDER BY doc_a, doc_b""".stripMargin,
    "q38_range_frame" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id, us,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS trail_cnt,
        |  CAST(SUM(cents) OVER w AS BIGINT) AS trail_cents
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "curate_rejection_sample" ->
      """SELECT doc_id, n_chars,
        |  least(9999, 2000000 // n_chars) AS w_bp
        |FROM documents
        |WHERE n_chars > 0
        |  AND (doc_id % 1073741789) * 2654435761 % 1073741789 % 10000
        |      < least(9999, 2000000 // n_chars)
        |ORDER BY doc_id""".stripMargin,
    "stats_checksum" ->
      """WITH h AS (SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 16),
        |        i -> CAST(strpos('0123456789abcdef',
        |               substr(md5(text), i, 1)) - 1 AS BIGINT))),
        |      (a, x) -> a * 16 + x) AS h
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_h,
        |  CAST(MIN(h) AS BIGINT) AS min_h, CAST(MAX(h) AS BIGINT) AS max_h
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "stats_key_skew" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |             CAST(COUNT(*) AS BIGINT) AS n_keys FROM c),
        |r AS (SELECT user_id, cnt, CAST(row_number() OVER (
        |        ORDER BY cnt DESC, user_id ASC) AS INT) AS rk FROM c)
        |SELECT rk, user_id, cnt, cnt * 10000 // total AS share_bp,
        |  CAST(cnt * n_keys > total * 2 AS INT) AS hot
        |FROM r, t WHERE rk <= 10 ORDER BY rk""".stripMargin,
    "q37_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed
        |  FROM events),
        |isl AS (SELECT user_id,
        |    ed - row_number() OVER (PARTITION BY user_id ORDER BY ed) AS grp
        |  FROM days),
        |runs AS (SELECT user_id, grp, COUNT(*) AS len
        |  FROM isl GROUP BY user_id, grp)
        |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q34_interval_overlap" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events),
        |b AS (SELECT event_type, s_us AS t, 1 AS delta FROM e
        |  UNION ALL SELECT event_type, e_us, -1 FROM e),
        |r AS (SELECT event_type, SUM(delta) OVER (
        |    PARTITION BY event_type ORDER BY t, delta DESC
        |    ROWS UNBOUNDED PRECEDING) AS running FROM b)
        |SELECT event_type, CAST(MAX(running) AS BIGINT) AS max_concurrent,
        |  CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q20_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS "P"
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q24_explode" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE len(token) > 0
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 25""".stripMargin,
    "q25_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'qty' AS measure, qty AS val FROM w
        |UNION ALL
        |SELECT l_returnflag, 'price' AS measure, price AS val FROM w
        |UNION ALL
        |SELECT l_returnflag, 'disc' AS measure, disc AS val FROM w
        |ORDER BY l_returnflag, measure""".stripMargin,
    "q26_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust
        |           FROM customer WHERE c_acctbal > 7500 GROUP BY 1),
        |s AS (SELECT s_nationkey AS snk, COUNT(*) AS n_supp
        |      FROM supplier WHERE s_acctbal < 500 GROUP BY 1)
        |SELECT COALESCE(nk, snk) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON nk = snk
        |ORDER BY nationkey""".stripMargin,
    "q27_group_topk" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,
    // salting is semantically transparent — the oracle replays the PLAIN
    // aggregation / join the salted plans must equal
    "q28_skew_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q29_skew_join" ->
      """WITH dim AS (SELECT DISTINCT event_type,
        |    CAST(length(event_type) AS INT) AS type_len FROM events)
        |SELECT e.event_type, d.type_len, COUNT(*) AS n_events,
        |  CAST(SUM(e.user_id) AS BIGINT) AS sum_users
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type, d.type_len
        |ORDER BY e.event_type""".stripMargin,
    "q30_tumbling_window" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin,
    "stats_profile" ->
      """SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  COUNT(DISTINCT l_orderkey) AS n_distinct,
        |  CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
        |  CAST(MAX(l_orderkey) AS DOUBLE) AS max_num
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_quantity', COUNT(*),
        |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_quantity),
        |  CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_extendedprice', COUNT(*),
        |  CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_extendedprice),
        |  CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_discount', COUNT(*),
        |  CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_discount),
        |  CAST(MIN(l_discount) AS DOUBLE), CAST(MAX(l_discount) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', COUNT(*),
        |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_shipdate),
        |  CAST(MIN(epoch_us(l_shipdate)) AS DOUBLE),
        |  CAST(MAX(epoch_us(l_shipdate)) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', COUNT(*),
        |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_returnflag),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', COUNT(*),
        |  CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  COUNT(DISTINCT l_linestatus),
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin,
    "q23_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,
    "q21_asof_join" ->
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us,
        |  epoch_us(c.ts) AS click_us,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q22_range_join" ->
      """WITH e AS (SELECT epoch_us(ts) AS us FROM events),
        |err AS (SELECT event_id, epoch_us(ts) AS lo,
        |               epoch_us(ts) + 300000000 AS hi
        |        FROM events WHERE event_type = 'error')
        |SELECT err.event_id, COUNT(*) AS n_events
        |FROM err JOIN e ON e.us >= err.lo AND e.us < err.hi
        |GROUP BY err.event_id
        |ORDER BY err.event_id""".stripMargin,
    "lake_merge_snapshot" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1 WHERE l_orderkey >= 500
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts FROM b2
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_join_incremental" ->
      s"""$lakeCtes,
         |a AS (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
         |    FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL
         |  SELECT b2.l_orderkey, b2.l_linenumber, b1.l_partkey,
         |    b2.l_quantity
         |  FROM b2 JOIN b1 ON b1.l_orderkey = b2.l_orderkey
         |    AND b1.l_linenumber = b2.l_linenumber),
         |bfin AS (SELECT p_partkey,
         |    CASE WHEN p_partkey < 100 THEN p_brand || '_X'
         |      ELSE p_brand END AS p_brand
         |  FROM part)
         |SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.l_quantity,
         |  bfin.p_brand, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM a JOIN bfin ON bfin.p_partkey = a.l_partkey
         |GROUP BY a.l_orderkey, a.l_linenumber, a.l_partkey,
         |  a.l_quantity, bfin.p_brand
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_meta_agg" ->
      s"""$lakeCtes, merged AS (
         |  SELECT l_orderkey, created_ts FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL SELECT l_orderkey, created_ts FROM b2)
         |SELECT COUNT(*) AS n_rows,
         |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key,
         |  MIN(created_ts) AS min_ts, MAX(created_ts) AS max_ts
         |FROM merged""".stripMargin,
    "lake_meta_agg_grouped" ->
      s"""$lakeCtes, merged AS (
         |  SELECT l_returnflag, l_orderkey FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL SELECT l_returnflag, l_orderkey FROM b2)
         |SELECT l_returnflag, COUNT(*) AS n_rows,
         |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
         |FROM merged GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,
    "lake_mor_snapshot" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1 WHERE l_orderkey >= 500
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts FROM b2
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_merge_into" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity + 2000 AS l_quantity,
         |       l_returnflag, created_ts + 2 AS created_ts
         |FROM b1 WHERE l_orderkey < 300
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1 WHERE l_orderkey >= 400
         |UNION ALL
         |SELECT l_orderkey, CAST(l_linenumber + 100 AS INTEGER) AS l_linenumber,
         |       l_quantity + 5000 AS l_quantity, l_returnflag,
         |       created_ts + 3 AS created_ts
         |FROM b1 WHERE l_orderkey >= 400 AND l_orderkey < 450
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_incremental" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b2 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_changes" ->
      s"""$lakeCtes, upd AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts
         |  FROM b1 WHERE l_orderkey < 300
         |)
         |SELECT * FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'update_preimage' AS _change_type FROM upd
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity + 1000, l_returnflag,
         |         created_ts + 1, 'update_postimage' FROM upd
         |  UNION ALL
         |  SELECT l_orderkey, CAST(l_linenumber + 100 AS INTEGER),
         |         l_quantity + 5000, l_returnflag, created_ts + 3, 'insert'
         |  FROM b1 WHERE l_orderkey BETWEEN 400 AND 449
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'delete' FROM b1
         |  WHERE l_orderkey BETWEEN 300 AND 399
         |) ORDER BY l_orderkey, l_linenumber, _change_type""".stripMargin,
    // the full-history feed's per-commit events from the shared CTEs:
    // ord 1 = every base row as insert, ord 2 = postimages of keys <300
    // and the inserted 400-449/+100 rows, ord 3 = commit-attributed
    // deletes of 300-399 carrying their before-image
    "lake_history_feed" ->
      s"""$lakeCtes
         |SELECT * FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'insert' AS _change_type,
         |         CAST(1 AS BIGINT) AS ord FROM b1
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity + 1000, l_returnflag,
         |         created_ts + 1, 'update_postimage', CAST(2 AS BIGINT)
         |  FROM b1 WHERE l_orderkey < 300
         |  UNION ALL
         |  SELECT l_orderkey, CAST(l_linenumber + 100 AS INTEGER),
         |         l_quantity + 5000, l_returnflag, created_ts + 3, 'insert',
         |         CAST(2 AS BIGINT)
         |  FROM b1 WHERE l_orderkey BETWEEN 400 AND 449
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'delete', CAST(3 AS BIGINT) FROM b1
         |  WHERE l_orderkey BETWEEN 300 AND 399
         |) ORDER BY ord, l_orderkey, l_linenumber, _change_type""".stripMargin,
    // the per-key audit lookup: the history-feed events of exactly the
    // probed order-keys (42/142 updated, 342 deleted, 442 original +
    // insert-extended rows)
    "lake_key_history" ->
      s"""$lakeCtes, pk AS (
         |  SELECT * FROM b1 WHERE l_orderkey IN (42, 142, 342, 442))
         |SELECT * FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'insert' AS _change_type,
         |         CAST(1 AS BIGINT) AS ord FROM pk
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity + 1000, l_returnflag,
         |         created_ts + 1, 'update_postimage', CAST(2 AS BIGINT)
         |  FROM pk WHERE l_orderkey < 300
         |  UNION ALL
         |  SELECT l_orderkey, CAST(l_linenumber + 100 AS INTEGER),
         |         l_quantity + 5000, l_returnflag, created_ts + 3, 'insert',
         |         CAST(2 AS BIGINT)
         |  FROM pk WHERE l_orderkey BETWEEN 400 AND 449
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts, 'delete', CAST(3 AS BIGINT) FROM pk
         |  WHERE l_orderkey BETWEEN 300 AND 399
         |) ORDER BY ord, l_orderkey, l_linenumber, _change_type""".stripMargin,
    // final-state rollup from the shared CTEs — the IVM path must land
    // exactly here (keys <300 updated +1000, 300-399 deleted, new
    // 400-449/+100 linenumber rows inserted at +5000, rest untouched)
    "lake_rollup_incremental" ->
      s"""$lakeCtes
         |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  CAST(SUM(CAST(q AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
         |FROM (
         |  SELECT l_returnflag, l_quantity + 1000 AS q FROM b1
         |  WHERE l_orderkey < 300
         |  UNION ALL
         |  SELECT l_returnflag, l_quantity AS q FROM b1
         |  WHERE l_orderkey >= 400
         |  UNION ALL
         |  SELECT l_returnflag, l_quantity + 5000 AS q FROM b1
         |  WHERE l_orderkey BETWEEN 400 AND 449
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SCD2 chain of the 3-commit change fixture: c1 opens v1 for
    // every key; c2 closes v1 of keys <300 (opening v2) and opens v1 of
    // the inserted 400-449/+100 rows; c3 closes keys 300-399 with no
    // successor. valid_* are commit ordinals.
    "lake_scd2" ->
      s"""$lakeCtes
         |SELECT *, valid_to IS NULL AS is_current FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |    created_ts, CAST(1 AS BIGINT) AS valid_from,
         |    CASE WHEN l_orderkey < 300 THEN CAST(2 AS BIGINT)
         |         WHEN l_orderkey BETWEEN 300 AND 399 THEN CAST(3 AS BIGINT)
         |         ELSE CAST(NULL AS BIGINT) END AS valid_to
         |  FROM b1
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity + 1000, l_returnflag,
         |    created_ts + 1, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM b1 WHERE l_orderkey < 300
         |  UNION ALL
         |  SELECT l_orderkey, CAST(l_linenumber + 100 AS INTEGER),
         |    l_quantity + 5000, l_returnflag, created_ts + 3,
         |    CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
         |  FROM b1 WHERE l_orderkey BETWEEN 400 AND 449
         |) ORDER BY l_orderkey, l_linenumber, valid_from""".stripMargin,
    // point-in-time: ord 1 = original; ord ≥ 2 on keys <300 = the +1000
    // rewrite; ord 3 on keys 300-399 = NULL (deleted); everything else
    // keeps its original quantity
    "lake_scd2_pit" ->
      s"""$lakeCtes,
         |ords AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS as_of_ord)
         |SELECT b.l_orderkey, b.l_linenumber, o.as_of_ord,
         |  CASE WHEN o.as_of_ord >= 2 AND b.l_orderkey < 300
         |         THEN b.l_quantity + 1000
         |       WHEN o.as_of_ord = 3 AND b.l_orderkey BETWEEN 300 AND 399
         |         THEN NULL
         |       ELSE b.l_quantity END AS qty_asof
         |FROM b1 b CROSS JOIN ords o
         |ORDER BY b.l_orderkey, b.l_linenumber, o.as_of_ord""".stripMargin,
    // final-state distinct/min/max from the shared CTEs — the aux-state
    // maintenance must land exactly here (same reconstructed final
    // state as the rollup oracle, non-self-maintainable aggregates)
    "lake_distinct_incremental" ->
      s"""$lakeCtes
         |SELECT l_returnflag,
         |  CAST(COUNT(DISTINCT q) AS BIGINT) AS n_distinct,
         |  MIN(q) AS min_q, MAX(q) AS max_q
         |FROM (
         |  SELECT l_returnflag, l_quantity + 1000 AS q FROM b1
         |  WHERE l_orderkey < 300
         |  UNION ALL
         |  SELECT l_returnflag, l_quantity AS q FROM b1
         |  WHERE l_orderkey >= 400
         |  UNION ALL
         |  SELECT l_returnflag, l_quantity + 5000 AS q FROM b1
         |  WHERE l_orderkey BETWEEN 400 AND 449
         |) GROUP BY 1 ORDER BY 1""".stripMargin,
    "lake_delete" ->
      s"""$lakeCtes
         |SELECT l_returnflag, COUNT(*) AS cnt,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM b1 WHERE NOT (l_orderkey BETWEEN 100 AND 199)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "lake_time_travel" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // point lookup: key 42 < 500, so every merged row comes from b2
    "lake_point_lookup" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b2 WHERE l_orderkey = 42
         |ORDER BY l_linenumber""".stripMargin,
    // post-merge main == b1 with the branch's b2 rewrites applied and
    // its deleted key range gone (branch edits land exactly once)
    "lake_branch_merge" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts
         |  FROM b1 WHERE l_orderkey >= 500
         |    AND NOT (l_orderkey BETWEEN 600 AND 699)
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts FROM b2
         |) ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // secondary-index lookup == merged final state filtered to the
    // probed values (the index only changes the READ SET, never rows)
    "lake_secondary_index" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts
         |  FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts FROM b2
         |) WHERE l_quantity IN (25, 1025)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // refreshed-index lookup: same merged final state, refresh probes
    "lake_secondary_refresh" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM (
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts
         |  FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |         created_ts FROM b2
         |) WHERE l_quantity IN (26, 1026)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // post-restore snapshot == the merged b1 ⊕ b2 state: the rolled-back
    // delete commit must leave no trace (rows or tombstones)
    "lake_restore" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1 WHERE l_orderkey >= 500
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts FROM b2
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // evolved-schema snapshot: l_tier exists only on the commit-2 keys;
    // every untouched key reads it as NULL from pre-evolution base files
    "lake_schema_evolution" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts,
         |  CAST(NULL AS INT) AS l_tier
         |FROM b1 WHERE l_orderkey >= 500
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts,
         |  CAST(CAST(l_quantity AS BIGINT) % 5 AS INT) AS l_tier
         |FROM b2
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_read_optimized" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_zonemap_filter" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b1 WHERE l_orderkey >= 500 AND l_quantity > 1000
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, created_ts
         |FROM b2 WHERE l_quantity > 1000
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "lake_zorder_filter" ->
      s"""$lakeCtes, m AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    l_quantity, l_returnflag, created_ts
         |  FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    l_quantity + 1000, l_returnflag, created_ts + 1
         |  FROM b1 WHERE l_orderkey < 500)
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |  created_ts, l_partkey, l_suppkey
         |FROM m WHERE l_partkey <= 200 AND l_suppkey <= 20
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the bucket layout is invisible to content: the oracle joins the
    // two generations on the key over plain parquet
    "lake_bucket_join" ->
      s"""$lakeCtes
         |SELECT b1.l_orderkey, b1.l_linenumber,
         |  b1.l_quantity AS qty_a, b1.created_ts AS ts_a,
         |  b2.l_quantity AS qty_b, b2.created_ts AS ts_b
         |FROM b1 JOIN b2 USING (l_orderkey, l_linenumber)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the group cut hides table A's post-cut mutation commit, so the
    // oracle replays the PRE-mutation b1⋈b2 join — a leak of the +5000
    // generation would hash-fail
    "lake_group_asof" ->
      s"""$lakeCtes
         |SELECT b1.l_orderkey, b1.l_linenumber,
         |  b1.l_quantity AS qty_a, b1.created_ts AS ts_a,
         |  b2.l_quantity AS qty_b, b2.created_ts AS ts_b
         |FROM b1 JOIN b2 USING (l_orderkey, l_linenumber)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // the committed txn slice (keys < 200, +7000/+8000 over the b1/b2
    // bases at precombine +3) appears on BOTH sides; the crashed
    // in-doubt +9999 prepare (keys < 400, A only) on NEITHER — any torn
    // visibility breaks the hash
    "lake_txn_group" ->
      s"""$lakeCtes
         |SELECT l_orderkey, l_linenumber, a.qty AS qty_a, a.ts AS ts_a,
         |  b.qty AS qty_b, b.ts AS ts_b
         |FROM
         | (SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey < 200
         |      THEN l_quantity + 7000 ELSE l_quantity END AS qty,
         |    CASE WHEN l_orderkey < 200
         |      THEN created_ts + 3 ELSE created_ts END AS ts
         |  FROM b1) a
         | JOIN
         | (SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey < 200
         |      THEN l_quantity + 7000 ELSE l_quantity END AS qty,
         |    CASE WHEN l_orderkey < 200
         |      THEN created_ts + 2 ELSE created_ts END AS ts
         |  FROM b2) b
         | USING (l_orderkey, l_linenumber)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // string-dimension z-order is layout-only: the oracle replays the
    // two-generation merge + mixed string/numeric box filter on the
    // plain part parquet
    "lake_zorder_string" ->
      """SELECT p_partkey, p_name, p_size,
        |  CASE WHEN p_partkey < 50
        |    THEN p_retailprice + 100 ELSE p_retailprice END AS p_retailprice
        |FROM part
        |WHERE p_name >= 'l' AND p_name < 's' AND p_size <= 25
        |ORDER BY p_partkey""".stripMargin,

    // hidden partitioning: the oracle replays the two-generation merge
    // (second generation moves low keys one day forward) AND recomputes
    // the derived day string with independent UTC epoch arithmetic
    "lake_hidden_partition" ->
      s"""$lakeCtes, m AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey < 200
         |      THEN l_quantity + 5000 ELSE l_quantity END AS l_quantity,
         |    CASE WHEN l_orderkey < 200
         |      THEN created_ts * 1000 + CAST(31 AS BIGINT) * 86400000
         |      ELSE created_ts * 1000 END AS ets
         |  FROM b1)
         |SELECT l_orderkey, l_linenumber, l_quantity, ets,
         |  strftime(DATE '1970-01-01' +
         |    CAST(ets // 86400000 AS INTEGER), '%Y-%m') AS ts_months
         |FROM m
         |WHERE ets >= 757382400000 AND ets < 820454400000
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // partition retention: the oracle replays the two-generation merge
    // once, then emits the post-expire snapshot (months >= cutoff only)
    // and the pre-expire time travel (every month) over the SAME slice
    // straddling the cutoff — a retention leak on either side hash-fails
    "lake_partition_expire" ->
      s"""$lakeCtes, m AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey < 200
         |      THEN l_quantity + 5000 ELSE l_quantity END AS l_quantity,
         |    CASE WHEN l_orderkey < 200
         |      THEN created_ts * 1000 + CAST(31 AS BIGINT) * 86400000
         |      ELSE created_ts * 1000 END AS ets
         |  FROM b1),
         |f AS (
         |  SELECT l_orderkey, l_linenumber, l_quantity, ets,
         |    strftime(DATE '1970-01-01' +
         |      CAST(ets // 86400000 AS INTEGER), '%Y-%m') AS ts_months
         |  FROM m
         |  WHERE ets >= 820454400000 AND ets < 883612800000)
         |SELECT 'post_expire' AS view, * FROM f WHERE ts_months >= '1997-01'
         |UNION ALL
         |SELECT 'time_travel' AS view, * FROM f
         |ORDER BY view, l_orderkey, l_linenumber""".stripMargin,

    // hilbert clustering is a layout-only service: the oracle replays
    // the same merge + box filter the z-order gate replays
    "lake_hilbert_filter" ->
      s"""$lakeCtes, m AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    l_quantity, l_returnflag, created_ts
         |  FROM b1 WHERE l_orderkey >= 500
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    l_quantity + 1000, l_returnflag, created_ts + 1
         |  FROM b1 WHERE l_orderkey < 500)
         |SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
         |  created_ts, l_partkey, l_suppkey
         |FROM m WHERE l_partkey <= 200 AND l_suppkey <= 20
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "text_stats" ->
      """SELECT lang, COUNT(*) AS docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS sum_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "text_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
        |FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
        |ORDER BY keep_id""".stripMargin,
    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens_norm,
        |  md5(norm) AS sig,
        |  CAST(norm <> text AS INT) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    "text_chunks" -> (chunksCtes + " ORDER BY doc_id, chunk_id"),
    "text_bpe_merges" -> bpeOracleSql(),
    "text_bpe_tokenize" -> bpeTokenizeSql(),
    "text_chunk_dedup" ->
      s"""SELECT chunk_md5, COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc
         |FROM ($chunksCtes) ch
         |GROUP BY chunk_md5 HAVING COUNT(*) > 1
         |ORDER BY chunk_md5""".stripMargin,
    "text_common_ngrams" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
        |  WHERE len(words) >= 3)
        |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(sh) AS ngram FROM docs)
        |GROUP BY ngram ORDER BY df DESC, ngram LIMIT 20""".stripMargin,
    "stats_corpus_drift" ->
      """WITH tok AS (
        |  SELECT CASE WHEN doc_id >= (SELECT (MAX(doc_id)+1)//2
        |                              FROM documents) THEN 1 ELSE 0 END AS half,
        |         unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |counts AS (
        |  SELECT token,
        |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM tok WHERE len(token) > 0 GROUP BY token),
        |totals AS (
        |  SELECT CAST(SUM(cnt_a) AS BIGINT) AS total_a,
        |         CAST(SUM(cnt_b) AS BIGINT) AS total_b FROM counts)
        |SELECT token, cnt_a, cnt_b,
        |  CAST(abs(cnt_a * total_b - cnt_b * total_a) AS BIGINT) AS xshift
        |FROM counts CROSS JOIN totals
        |ORDER BY xshift DESC, token LIMIT 20""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(floor(n_chars * 100 / len(string_split(text, ' '))) AS BIGINT) AS mean_wlen_x100,
        |  CAST(len(string_split(text, ' ')) < 5 AS INT) AS too_short
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH h AS (SELECT lang,
        |  len(list_filter(string_split(text,' '), w -> w IN ('column','sort','window'))) AS h_en,
        |  len(list_filter(string_split(text,' '), w -> w IN ('order','query','customer'))) AS h_fr,
        |  len(list_filter(string_split(text,' '), w -> w IN ('part','hash','line'))) AS h_es,
        |  len(list_filter(string_split(text,' '), w -> w IN ('small','data','scan'))) AS h_de,
        |  len(list_filter(string_split(text,' '), w -> w IN ('group','merge','vector'))) AS h_zh
        |  FROM documents),
        |p AS (SELECT lang,
        |  CASE WHEN h_en >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'en'
        |       WHEN h_fr >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'fr'
        |       WHEN h_es >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'es'
        |       WHEN h_de >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'de'
        |       ELSE 'zh' END AS predicted FROM h)
        |SELECT lang, predicted, COUNT(*) AS cnt FROM p
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        w -> CAST(length(w)*31 + ascii(w)*7 + ascii(reverse(w))*13 AS BIGINT))),
        |    (a, x) -> (a * 257 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  substr(md5(text), 1, 8) AS sig
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |spans0 AS (SELECT doc_id, ws,
        |             unnest(generate_series(1, len(ws) - 9)) AS i FROM t),
        |spans AS (
        |  SELECT DISTINCT doc_id,
        |    reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_slice(ws, i, i + 9),
        |        w -> CAST(length(w)*31 + ascii(w)*7 + ascii(reverse(w))*13
        |               AS BIGINT))),
        |      (a, x) -> (a * 257 + x) % 1000000007) AS h
        |  FROM spans0),
        |shared AS (SELECT h, count(*) AS docs FROM spans GROUP BY h)
        |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN sh.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_spans,
        |  CAST(SUM(CASE WHEN sh.docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM spans s JOIN shared sh USING (h)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "text_dup_spans_incr" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |spans0 AS (SELECT doc_id, ws,
        |             unnest(generate_series(1, len(ws) - 9)) AS i FROM t),
        |spans AS (
        |  SELECT DISTINCT doc_id,
        |    reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_slice(ws, i, i + 9),
        |        w -> CAST(length(w)*31 + ascii(w)*7 + ascii(reverse(w))*13
        |               AS BIGINT))),
        |      (a, x) -> (a * 257 + x) % 1000000007) AS h
        |  FROM spans0),
        |corpus AS (SELECT DISTINCT h FROM spans
        |           WHERE doc_id < (SELECT (MAX(doc_id)+1)*8//10
        |                           FROM documents)),
        |inc AS (SELECT * FROM spans
        |        WHERE doc_id >= (SELECT (MAX(doc_id)+1)*8//10
        |                         FROM documents))
        |SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_spans,
        |  CAST(SUM(CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_frac
        |FROM inc i LEFT JOIN corpus c ON i.h = c.h
        |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin,
    "stats_hll_distinct" ->
      """WITH h0 AS (
        |  SELECT ((l_orderkey % 1073741789) * 2654435761) % 1073741789 AS m1
        |  FROM lineitem),
        |h1 AS (SELECT (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS g
        |       FROM h0),
        |h2 AS (SELECT g % 256 AS bucket,
        |              (xor(g, g >> 11) * 2654435761) % 1073741789 AS g2
        |       FROM h1),
        |r AS (SELECT bucket,
        |             CASE WHEN g2 = 0 THEN 31
        |                  ELSE 31 - length(bin(g2)) END AS rho
        |      FROM h2),
        |mx AS (SELECT bucket, MAX(rho) AS m FROM r GROUP BY bucket),
        |full_b AS (
        |  SELECT b.bucket, COALESCE(mx.m, 0) AS m
        |  FROM (SELECT unnest(generate_series(0, 255)) AS bucket) b
        |  LEFT JOIN mx ON b.bucket = mx.bucket),
        |agg AS (
        |  SELECT CAST(SUM(CAST(1 AS BIGINT) << CAST(31 - m AS INT)) AS BIGINT)
        |           AS sum_pow,
        |         CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS zero_buckets
        |  FROM full_b)
        |SELECT CAST(256 AS BIGINT) AS n_buckets, sum_pow, zero_buckets,
        |  0.7182725932::DOUBLE * 65536 * 2147483648 / CAST(sum_pow AS DOUBLE)
        |    AS est_distinct
        |FROM agg""".stripMargin,
    "stats_hll_overlap" ->
      """WITH h0 AS (
        |  SELECT CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS part,
        |         ((o_custkey % 1073741789) * 2654435761) % 1073741789 AS m1
        |  FROM orders),
        |h1 AS (SELECT part,
        |              (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS g
        |       FROM h0),
        |h2 AS (SELECT part, g % 256 AS bucket,
        |              (xor(g, g >> 11) * 2654435761) % 1073741789 AS g2
        |       FROM h1),
        |r AS (SELECT part, bucket,
        |             CASE WHEN g2 = 0 THEN 31
        |                  ELSE 31 - length(bin(g2)) END AS rho
        |      FROM h2),
        |r2 AS (SELECT part, bucket, rho FROM r
        |       UNION ALL SELECT 2 AS part, bucket, rho FROM r),
        |mx AS (SELECT part, bucket, MAX(rho) AS m
        |       FROM r2 GROUP BY part, bucket),
        |full_b AS (
        |  SELECT p.part, b.bucket, COALESCE(mx.m, 0) AS m
        |  FROM (SELECT unnest(generate_series(0, 2)) AS part) p
        |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket) b
        |  LEFT JOIN mx ON p.part = mx.part AND b.bucket = mx.bucket),
        |ests AS (
        |  SELECT part,
        |    0.7182725932::DOUBLE * 65536 * 2147483648
        |      / CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(31 - m AS INT))
        |               AS BIGINT) AS DOUBLE) AS est
        |  FROM full_b GROUP BY part)
        |SELECT (SELECT est FROM ests WHERE part = 0) AS est_a,
        |       (SELECT est FROM ests WHERE part = 1) AS est_b,
        |       (SELECT est FROM ests WHERE part = 2) AS est_union,
        |       (SELECT est FROM ests WHERE part = 0)
        |         + (SELECT est FROM ests WHERE part = 1)
        |         - (SELECT est FROM ests WHERE part = 2) AS est_intersect""".stripMargin,
    // KMV: bottom-256 distinct-hash sketches per side, union sample with
    // exact membership, estimates as single IEEE divisions of exact ints
    "stats_kmv_setops" ->
      """WITH ha AS (
        |  SELECT DISTINCT (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS h
        |  FROM (SELECT ((o_custkey % 1073741789) * 2654435761)
        |                 % 1073741789 AS m1
        |        FROM orders WHERE year(o_orderdate) < 1998)),
        |ka AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |hb AS (
        |  SELECT DISTINCT (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS h
        |  FROM (SELECT ((o_custkey % 1073741789) * 2654435761)
        |                 % 1073741789 AS m1
        |        FROM orders WHERE year(o_orderdate) >= 1998)),
        |kb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |uq AS (SELECT DISTINCT h FROM
        |        (SELECT h FROM ka UNION ALL SELECT h FROM kb)
        |       ORDER BY h LIMIT 256),
        |mem AS (SELECT u.h, ka.h IS NOT NULL AS in_a, kb.h IS NOT NULL AS in_b
        |  FROM uq u LEFT JOIN ka ON ka.h = u.h LEFT JOIN kb ON kb.h = u.h),
        |c AS (SELECT MAX(h) AS theta, CAST(COUNT(*) AS BIGINT) AS n_union,
        |  CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_both,
        |  CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a_only,
        |  CAST(SUM(CASE WHEN NOT in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b_only
        |  FROM mem),
        |e AS (SELECT *, CASE WHEN n_union < 256 THEN CAST(n_union AS DOUBLE)
        |    ELSE CAST(n_union - 1 AS DOUBLE)
        |      * CAST(1073741789 AS DOUBLE) / CAST(theta AS DOUBLE) END
        |    AS est_union
        |  FROM c)
        |SELECT theta, n_union, n_both, n_a_only, n_b_only, est_union,
        |  CAST(n_both AS DOUBLE) * est_union / CAST(n_union AS DOUBLE)
        |    AS est_intersect,
        |  CAST(n_a_only AS DOUBLE) * est_union / CAST(n_union AS DOUBLE)
        |    AS est_a_only,
        |  CAST(n_b_only AS DOUBLE) * est_union / CAST(n_union AS DOUBLE)
        |    AS est_b_only
        |FROM e""".stripMargin,
    "stats_hll_groups" ->
      """WITH h0 AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |         ((o_custkey % 1073741789) * 2654435761) % 1073741789 AS m1
        |  FROM orders),
        |h1 AS (SELECT order_year,
        |              (xor(m1, m1 >> 13) * 2246822519) % 1073741789 AS g
        |       FROM h0),
        |h2 AS (SELECT order_year, g % 256 AS bucket,
        |              (xor(g, g >> 11) * 2654435761) % 1073741789 AS g2
        |       FROM h1),
        |r AS (SELECT order_year, bucket,
        |             CASE WHEN g2 = 0 THEN 31
        |                  ELSE 31 - length(bin(g2)) END AS rho
        |      FROM h2),
        |mx AS (SELECT order_year, bucket, MAX(rho) AS m
        |       FROM r GROUP BY order_year, bucket),
        |full_b AS (
        |  SELECT y.order_year, b.bucket, COALESCE(mx.m, 0) AS m
        |  FROM (SELECT DISTINCT order_year FROM mx) y
        |  CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket) b
        |  LEFT JOIN mx ON y.order_year = mx.order_year
        |             AND b.bucket = mx.bucket)
        |SELECT order_year,
        |  CAST(SUM(CAST(1 AS BIGINT) << CAST(31 - m AS INT)) AS BIGINT)
        |    AS sum_pow,
        |  CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_buckets,
        |  0.7182725932::DOUBLE * 65536 * 2147483648
        |    / CAST(CAST(SUM(CAST(1 AS BIGINT) << CAST(31 - m AS INT))
        |             AS BIGINT) AS DOUBLE) AS est_distinct
        |FROM full_b GROUP BY order_year ORDER BY order_year""".stripMargin,
    // bit-for-bit replay of the all-integer HDR histogram: bit-length +
    // shift bucketing, cumulative-count rank extraction — no FP anywhere
    "stats_hdr_quantiles" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |b AS (SELECT v, length(bin(v)) AS bl FROM v),
        |k AS (SELECT
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE CAST(bl - 6 AS BIGINT) * 16
        |                  + ((v >> (bl - 5)) - 16) + 32 END AS idx,
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE (v >> (bl - 5)) << (bl - 5) END AS lo
        |      FROM b),
        |hist AS (SELECT idx, lo, CAST(count(*) AS BIGINT) AS cnt
        |         FROM k GROUP BY idx, lo),
        |c AS (SELECT lo, CAST(SUM(cnt) OVER (ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS cum
        |      FROM hist),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |             CAST(COUNT(*) AS BIGINT) AS n_buckets FROM hist)
        |SELECT MAX(n) AS n_rows, MAX(n_buckets) AS n_buckets,
        |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN lo END) AS p50_cents,
        |  MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN lo END) AS p90_cents,
        |  MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN lo END) AS p99_cents
        |FROM c CROSS JOIN t""".stripMargin,
    "stats_hdr_groups" ->
      """WITH v AS (
        |  SELECT o_orderpriority,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |b AS (SELECT o_orderpriority, v, length(bin(v)) AS bl FROM v),
        |k AS (SELECT o_orderpriority,
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE CAST(bl - 6 AS BIGINT) * 16
        |                  + ((v >> (bl - 5)) - 16) + 32 END AS idx,
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE (v >> (bl - 5)) << (bl - 5) END AS lo
        |      FROM b),
        |hist AS (SELECT o_orderpriority, idx, lo,
        |           CAST(count(*) AS BIGINT) AS cnt
        |         FROM k GROUP BY o_orderpriority, idx, lo),
        |c AS (SELECT o_orderpriority, lo,
        |        CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority
        |          ORDER BY idx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY o_orderpriority)
        |          AS BIGINT) AS n
        |      FROM hist)
        |SELECT o_orderpriority, MAX(n) AS n_rows,
        |  MIN(CASE WHEN cum >= (n + 1) // 2 THEN lo END) AS p50_cents,
        |  MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN lo END) AS p90_cents,
        |  MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN lo END) AS p99_cents
        |FROM c GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "stats_cm_topk" ->
      """WITH h AS (
        |  SELECT user_id,
        |         (xor(((user_id % 1073741789) * 2654435761) % 1073741789,
        |              (((user_id % 1073741789) * 2654435761) % 1073741789) >> 13)
        |          * 2246822519) % 1073741789 AS g
        |  FROM events),
        |cells AS (
        |  SELECT j, (g * m) % 1073741789 % 512 AS bucket
        |  FROM h CROSS JOIN (VALUES (0, 2246822519), (1, 3266489917),
        |                            (2, 668265263), (3, 374761393)) AS t(j, m)),
        |sketch AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
        |           FROM cells GROUP BY j, bucket),
        |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        |        FROM events GROUP BY user_id
        |        ORDER BY exact_cnt DESC, user_id LIMIT 10),
        |probes AS (
        |  SELECT top.user_id, top.exact_cnt, t.j,
        |         (h2.g * t.m) % 1073741789 % 512 AS bucket
        |  FROM top
        |  JOIN (SELECT DISTINCT user_id, g FROM h) h2 USING (user_id)
        |  CROSS JOIN (VALUES (0, 2246822519), (1, 3266489917),
        |                     (2, 668265263), (3, 374761393)) AS t(j, m))
        |SELECT p.user_id, p.exact_cnt, CAST(MIN(s.cnt) AS BIGINT) AS cm_est
        |FROM probes p JOIN sketch s ON p.j = s.j AND p.bucket = s.bucket
        |GROUP BY p.user_id, p.exact_cnt
        |ORDER BY p.exact_cnt DESC, p.user_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH v AS (
        |  SELECT doc_id AS media_id,
        |         CAST(24 + doc_id % 240 AS BIGINT) AS n_frames,
        |         CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 30 END AS BIGINT) AS fps,
        |         CAST(4096 + (doc_id % 5) * 1024 AS BIGINT) AS frame_bytes
        |  FROM documents WHERE doc_id % 3 = 0),
        |f AS (SELECT DISTINCT media_id, fps, frame_bytes,
        |        (i * n_frames) // 8 AS frame_no
        |      FROM v CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i))
        |SELECT media_id, frame_no,
        |       (frame_no * 1000) // fps AS ts_ms,
        |       frame_no * frame_bytes AS byte_offset,
        |       frame_bytes AS byte_len
        |FROM f ORDER BY media_id, frame_no""".stripMargin,
    "mm_resize" ->
      """WITH g AS (
        |  SELECT doc_id AS media_id,
        |         CAST(64 + (doc_id % 13) * 160 AS BIGINT) AS w,
        |         CAST(48 + (doc_id % 7) * 120 AS BIGINT) AS h
        |  FROM documents)
        |SELECT media_id, w, h,
        |  CASE WHEN GREATEST(w, h) <= 224 THEN w
        |       ELSE GREATEST(1, (w * 224) // GREATEST(w, h)) END AS out_w,
        |  CASE WHEN GREATEST(w, h) <= 224 THEN h
        |       ELSE GREATEST(1, (h * 224) // GREATEST(w, h)) END AS out_h
        |FROM g ORDER BY media_id""".stripMargin,
    "text_curate" -> (jaccardPairsCtes +
      """,
        |q AS (SELECT doc_id, text,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |k AS (SELECT md5(text) AS h, MIN(doc_id) AS keep FROM q GROUP BY 1),
        |e AS (SELECT q.doc_id, q.text, q.n_tokens
        |      FROM q JOIN k ON md5(q.text) = k.h AND q.doc_id = k.keep),
        |d AS (SELECT DISTINCT id_b FROM pairs),
        |surv AS (SELECT e.* FROM e LEFT JOIN d ON e.doc_id = d.id_b
        |         WHERE d.id_b IS NULL),
        |hits AS (SELECT doc_id, n_tokens,
        |  len(list_filter(string_split(text,' '), w -> w IN ('column','sort','window'))) AS h_en,
        |  len(list_filter(string_split(text,' '), w -> w IN ('order','query','customer'))) AS h_fr,
        |  len(list_filter(string_split(text,' '), w -> w IN ('part','hash','line'))) AS h_es,
        |  len(list_filter(string_split(text,' '), w -> w IN ('small','data','scan'))) AS h_de,
        |  len(list_filter(string_split(text,' '), w -> w IN ('group','merge','vector'))) AS h_zh
        |  FROM surv)
        |SELECT doc_id,
        |  CASE WHEN h_en >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'en'
        |       WHEN h_fr >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'fr'
        |       WHEN h_es >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'es'
        |       WHEN h_de >= greatest(h_en,h_fr,h_es,h_de,h_zh) THEN 'de'
        |       ELSE 'zh' END AS predicted,
        |  n_tokens
        |FROM hits ORDER BY doc_id""".stripMargin),
    "dedup_jaccard_pairs" -> jaccardPairsSql,
    "dedup_containment_pairs" -> containmentPairsSql,
    // same shingle CTE, shingles in > 3 docs dropped from every set
    // BEFORE similarity; Jaccard exact over the capped sets
    "dedup_jaccard_dfcap" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
        |  WHERE len(words) >= 3),
        |ex0 AS (SELECT doc_id, unnest(sh) AS s FROM docs),
        |dfreq AS (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY s),
        |keep AS (SELECT doc_id, s FROM ex0 JOIN dfreq USING (s)
        |         WHERE df <= 3),
        |sized AS (SELECT doc_id, COUNT(*) AS n FROM keep GROUP BY doc_id),
        |ex AS (SELECT k.doc_id, sized.n, k.s
        |       FROM keep k JOIN sized USING (doc_id)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    COUNT(*) / (a.n + b.n - COUNT(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |  HAVING COUNT(*) / (a.n + b.n - COUNT(*)) >= 0.8)
        |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "dedup_minhash_lsh" -> jaccardPairsSql,
    // incremental dedup = exactly the cross-split slice of the exact
    // pair set (corpus side below the 80%-of-id-range threshold, the
    // increment at or above it) — banding changes the WORK, not the
    // answer
    "dedup_incremental" -> (jaccardPairsCtes +
      """
        |SELECT id_a, id_b, jaccard FROM pairs
        |WHERE id_a < (SELECT (MAX(doc_id)+1)*8//10 FROM documents)
        |  AND id_b >= (SELECT (MAX(doc_id)+1)*8//10 FROM documents)
        |ORDER BY id_a, id_b""".stripMargin),
    "dedup_clusters" -> dedupClustersSql,
    "dedup_cluster_canonical" -> clusterCanonicalSql,
    "curate_split_leakfree" -> leakFreeSplitSql,
    // bit-for-bit replica of the engine's portable 60-bit simhash (same
    // probe hash, scramble constants, vote rule) — the oracle does the
    // naive all-pairs hamming join the banded engine plan avoids
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        |), hv AS (
        |  SELECT doc_id,
        |    CAST(length(t)*31 + ascii(t)*7 + ascii(reverse(t))*13
        |      + ascii(substr(t,2,1))*17 + ascii(substr(reverse(t),2,1))*19
        |      AS BIGINT) AS h
        |  FROM tok
        |), lanes AS (
        |  SELECT doc_id, (h * 2654435761) % 1073741789 AS g1,
        |                 (h * 2246822519) % 1073741789 AS g2 FROM hv
        |), votes AS (
        |  SELECT doc_id, bits.b,
        |    SUM(CASE WHEN (CASE WHEN bits.b < 30 THEN (g1 >> bits.b)
        |                        ELSE (g2 >> (bits.b - 30)) END) & 1 = 1
        |        THEN 1 ELSE -1 END) AS v
        |  FROM lanes CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bits
        |  GROUP BY doc_id, bits.b
        |), sk AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b)
        |             ELSE 0::BIGINT END) AS BIGINT) AS sh64
        |  FROM votes GROUP BY doc_id
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh64, b.sh64)) AS INT) AS hamming
        |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh64, b.sh64)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_cosine_pairs" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosineFold.format("a.embedding", "b.embedding")} /
         |  (sqrt(${cosineFold.format("a.embedding", "a.embedding")}) *
         |   sqrt(${cosineFold.format("b.embedding", "b.embedding")})) AS sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${cosineFold.format("a.embedding", "b.embedding")} /
         |  (sqrt(${cosineFold.format("a.embedding", "a.embedding")}) *
         |   sqrt(${cosineFold.format("b.embedding", "b.embedding")})) >= 0.45
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_semantic_incr" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |s AS (SELECT (MAX(vec_id)+1)*8//10 AS split FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosineFold.format("a.embedding", "b.embedding")} /
         |  (sqrt(${cosineFold.format("a.embedding", "a.embedding")}) *
         |   sqrt(${cosineFold.format("b.embedding", "b.embedding")})) AS sim
         |FROM e a, e b, s
         |WHERE a.vec_id < s.split AND b.vec_id >= s.split
         |  AND ${cosineFold.format("a.embedding", "b.embedding")} /
         |  (sqrt(${cosineFold.format("a.embedding", "a.embedding")}) *
         |   sqrt(${cosineFold.format("b.embedding", "b.embedding")})) >= 0.45
         |ORDER BY id_a, id_b""".stripMargin,
    // connected components over the cosine pair graph (the SemDeDup
    // cluster stage) — same recursive-CTE fixpoint as dedup_clusters
    "dedup_semantic_clusters" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM e a JOIN e b ON a.vec_id < b.vec_id
         |  WHERE ${cosineFold.format("a.embedding", "b.embedding")} /
         |    (sqrt(${cosineFold.format("a.embedding", "a.embedding")}) *
         |     sqrt(${cosineFold.format("b.embedding", "b.embedding")})) >= 0.45),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(vec_id, l) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT g.dst, r.l FROM reach r JOIN edges g ON g.src = r.vec_id),
         |labels AS (
         |  SELECT vec_id, MIN(l) AS cluster_id FROM reach GROUP BY vec_id),
         |sizes AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size
         |  FROM labels GROUP BY cluster_id)
         |SELECT l.vec_id, l.cluster_id, s.cluster_size,
         |       l.vec_id = l.cluster_id AS is_canonical
         |FROM labels l JOIN sizes s USING (cluster_id)
         |ORDER BY l.vec_id""".stripMargin,
    "text_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "curate_sample_hash" ->
      """SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1000'
        |ORDER BY doc_id""".stripMargin,
    "curate_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    (xor((doc_id % 1073741789) * 2654435761 % 1073741789,
        |         ((doc_id % 1073741789) * 2654435761 % 1073741789) >> 13)
        |       * 2246822519) % 1073741789 AS g
        |  FROM documents)
        |SELECT doc_id, CAST(g % 16 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY g % 16 ORDER BY g, doc_id)
        |    AS BIGINT) AS pos
        |FROM h ORDER BY shard, pos""".stripMargin,
    "curate_fim_split" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    (xor((doc_id % 1073741789) * 2654435761 % 1073741789,
        |         ((doc_id % 1073741789) * 2654435761 % 1073741789) >> 13)
        |       * 2246822519) % 1073741789 AS g2
        |  FROM documents),
        |h AS (
        |  SELECT *, (xor(g2, g2 >> 11) * 2654435761) % 1073741789 AS g3
        |  FROM d WHERE n >= 3),
        |b AS (
        |  SELECT doc_id, t, n, 1 + g2 % (n - 2) AS p_end, g3 FROM h),
        |b2 AS (
        |  SELECT doc_id, t, n, p_end,
        |    p_end + 1 + g3 % (n - p_end - 1) AS m_end FROM b)
        |SELECT doc_id, n AS n_tokens, p_end, m_end,
        |  md5(array_to_string(t[1:p_end], ' ')) AS prefix_md5,
        |  md5(array_to_string(t[p_end + 1:m_end], ' ')) AS middle_md5,
        |  md5(array_to_string(t[m_end + 1:n], ' ')) AS suffix_md5
        |FROM b2 ORDER BY doc_id""".stripMargin,
    "curate_sample_stratified" ->
      """SELECT doc_id, lang, rk FROM (
        |  SELECT doc_id, lang, CAST(row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
        |  FROM documents) t
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "curate_token_budget" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    floor(n_chars * 100 / len(string_split(text, ' '))) AS q
        |  FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |  CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY q DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 5000 ORDER BY lang, cum_tokens""".stripMargin,
    "curate_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
        |  WHERE len(words) >= 3
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS s FROM docs WHERE doc_id % 97 = 0
        |), corp AS (
        |  SELECT doc_id, unnest(sh) AS s FROM docs WHERE doc_id % 97 <> 0)
        |SELECT corp.doc_id, COUNT(*) AS n_hits
        |FROM corp JOIN bench USING (s)
        |GROUP BY corp.doc_id ORDER BY doc_id""".stripMargin,
    "curate_bloom_decon" ->
      """WITH docs AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) t
        |  WHERE len(words) >= 3
        |), hashed AS (
        |  SELECT doc_id, s,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(s, ' '),
        |        w -> CAST(length(w)*31 + ascii(w)*7 + ascii(reverse(w))*13 AS BIGINT))),
        |      (a, x) -> (a * 257 + x) % 1000000007) AS h
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM docs)
        |), bpos AS (
        |  SELECT DISTINCT h * c % 1073741789 % 131072 AS pos
        |  FROM hashed, (SELECT unnest([2654435761, 2246822519, 3266489917]) AS c)
        |  WHERE doc_id % 97 = 0
        |), bench AS (
        |  SELECT DISTINCT s FROM (SELECT doc_id, unnest(sh) AS s FROM docs)
        |  WHERE doc_id % 97 = 0
        |), corp AS (SELECT doc_id, s, h FROM hashed WHERE doc_id % 97 <> 0
        |), bloomed AS (
        |  SELECT doc_id, COUNT(*) AS bloom_hits FROM corp
        |  WHERE h * 2654435761 % 1073741789 % 131072 IN (SELECT pos FROM bpos)
        |    AND h * 2246822519 % 1073741789 % 131072 IN (SELECT pos FROM bpos)
        |    AND h * 3266489917 % 1073741789 % 131072 IN (SELECT pos FROM bpos)
        |  GROUP BY doc_id
        |), ex AS (
        |  SELECT corp.doc_id, COUNT(*) AS exact_hits
        |  FROM corp JOIN bench USING (s) GROUP BY corp.doc_id)
        |SELECT b.doc_id, b.bloom_hits,
        |  COALESCE(ex.exact_hits, CAST(0 AS BIGINT)) AS exact_hits,
        |  b.bloom_hits - COALESCE(ex.exact_hits, CAST(0 AS BIGINT)) AS false_pos
        |FROM bloomed b LEFT JOIN ex ON b.doc_id = ex.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    "text_tfidf_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
        |       WHERE len(token) > 0 GROUP BY 1, 2),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT doc_id, token, tf, df,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf DESC, df ASC, token) AS INT) AS rk
        |  FROM tf JOIN dfreq USING (token))
        |SELECT doc_id, token, tf, df, rk FROM r WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,
    "text_bm25_topk" -> bm25Sql,
    // the incremental impact index converges to the batch index exactly
    // (per-term top-64 merge), so the oracle is the batch SQL verbatim
    "text_bm25_incr" -> bm25Sql,
    "emb_norms" ->
      s"""SELECT vec_id,
         |  sqrt(${cosineFold.format("embedding", "embedding")}) AS norm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "emb_quantize" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    CASE WHEN list_max(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE)))) > 0
        |      THEN 127.0 / list_max(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE))))
        |      ELSE 0.0 END AS scale,
        |    embedding
        |  FROM embeddings),
        |q AS (SELECT vec_id, scale,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, scale,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, v) -> a + v) AS qsum,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, v) -> a + abs(v)) AS qabs
        |FROM q ORDER BY vec_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (SELECT doc_id, CAST(len(words) - 2 AS BIGINT) AS n_sh,
        |        CAST(len(list_distinct(list_transform(range(1, len(words) - 1),
        |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS BIGINT) AS n_uniq
        |      FROM t WHERE len(words) >= 3)
        |SELECT doc_id, n_sh, n_uniq,
        |  CAST(floor((n_sh - n_uniq) * 10000 / n_sh) AS BIGINT) AS dup_bp
        |FROM g WHERE n_sh > 0 ORDER BY doc_id""".stripMargin,
    "curate_domain_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE lang WHEN 'en' THEN '8000' WHEN 'fr' THEN '4000'
        |            WHEN 'es' THEN '2000' WHEN 'de' THEN '1000'
        |            ELSE '0800' END
        |ORDER BY doc_id""".stripMargin,
    "curate_mix_temperature" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
         |w AS (SELECT lang, n_docs,
         |        CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_us FROM c),
         |t AS (SELECT CAST(SUM(w_us) AS BIGINT) AS wsum FROM w)
         |SELECT lang, n_docs, w_us,
         |  CAST((${graft.queries.Curation.MixBudget} * w_us) // t.wsum AS BIGINT) AS target_docs
         |FROM w, t ORDER BY lang""".stripMargin,
    // decile boundaries replayed from the same all-integer HDR histogram,
    // then a scalar-subquery bin assignment per doc
    "curate_quantile_bins" ->
      """WITH v0 AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS v
        |            FROM documents),
        |b AS (SELECT doc_id, v, length(bin(v)) AS bl FROM v0),
        |k AS (SELECT doc_id, v,
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE CAST(bl - 6 AS BIGINT) * 16
        |                  + ((v >> (bl - 5)) - 16) + 32 END AS idx,
        |        CASE WHEN bl <= 5 THEN v
        |             ELSE (v >> (bl - 5)) << (bl - 5) END AS lo
        |      FROM b),
        |hist AS (SELECT idx, lo, CAST(count(*) AS BIGINT) AS cnt
        |         FROM k GROUP BY idx, lo),
        |c AS (SELECT lo, CAST(SUM(cnt) OVER (ORDER BY idx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        AS cum
        |      FROM hist),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
        |bd AS (SELECT
        |  MIN(CASE WHEN cum >= (1 * n + 9) // 10 THEN lo END) AS b1,
        |  MIN(CASE WHEN cum >= (2 * n + 9) // 10 THEN lo END) AS b2,
        |  MIN(CASE WHEN cum >= (3 * n + 9) // 10 THEN lo END) AS b3,
        |  MIN(CASE WHEN cum >= (4 * n + 9) // 10 THEN lo END) AS b4,
        |  MIN(CASE WHEN cum >= (5 * n + 9) // 10 THEN lo END) AS b5,
        |  MIN(CASE WHEN cum >= (6 * n + 9) // 10 THEN lo END) AS b6,
        |  MIN(CASE WHEN cum >= (7 * n + 9) // 10 THEN lo END) AS b7,
        |  MIN(CASE WHEN cum >= (8 * n + 9) // 10 THEN lo END) AS b8,
        |  MIN(CASE WHEN cum >= (9 * n + 9) // 10 THEN lo END) AS b9
        |  FROM c CROSS JOIN t)
        |SELECT v0.doc_id, v0.v AS n_chars,
        |  CAST((CASE WHEN v >= b1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b2 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b3 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b4 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b5 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b6 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b7 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b8 THEN 1 ELSE 0 END)
        |     + (CASE WHEN v >= b9 THEN 1 ELSE 0 END) AS BIGINT) AS bin
        |FROM v0 CROSS JOIN bd ORDER BY doc_id""".stripMargin,
    // next-fit packing is a carry-dependent scan: the oracle walks each
    // domain with a recursive CTE over the doc_id order
    "curate_pack_sequences" ->
      """WITH RECURSIVE d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents
        |), pack AS (
        |  SELECT lang, doc_id, rn, n_tokens, n_tokens AS fill,
        |         CAST(0 AS BIGINT) AS seq_id
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.lang, d.doc_id, d.rn, d.n_tokens,
        |    CASE WHEN p.fill + d.n_tokens > 2048 THEN d.n_tokens
        |         ELSE p.fill + d.n_tokens END,
        |    CASE WHEN p.fill + d.n_tokens > 2048 THEN p.seq_id + 1
        |         ELSE p.seq_id END
        |  FROM d JOIN pack p ON d.lang = p.lang AND d.rn = p.rn + 1
        |)
        |SELECT lang, seq_id, COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |FROM pack GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_scrub_pii" ->
      """WITH aug AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com or +1 555 ' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
        |  FROM documents),
        |ne AS (SELECT doc_id, aug,
        |  regexp_replace(aug, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |                 '<EMAIL>', 'g') AS no_email
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(no_email,
        |    '\+?[0-9][0-9 -]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(no_email, '\+?[0-9][0-9 -]{6,}[0-9]',
        |      '<PHONE>', 'g')) AS sig
        |FROM ne ORDER BY doc_id""".stripMargin,
    "text_pii_report" ->
      """WITH aug AS (
        |  SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' reach user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 ' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS aug
        |  FROM documents),
        |ne AS (SELECT doc_id, source,
        |  CAST(len(regexp_extract_all(aug,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS BIGINT) AS ne,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(aug, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |                   '<EMAIL>', 'g'),
        |    '\+?[0-9][0-9 -]{6,}[0-9]')) AS BIGINT) AS np
        |  FROM aug),
        |g AS (SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ne > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
        |  CAST(SUM(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
        |  CAST(SUM(ne) AS BIGINT) AS n_emails,
        |  CAST(SUM(np) AS BIGINT) AS n_phones,
        |  CAST(SUM(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS docs_any
        |  FROM ne GROUP BY source)
        |SELECT source, n_docs, docs_email, docs_phone, n_emails, n_phones,
        |  docs_any, docs_any * 10000 // n_docs AS pii_docs_bp
        |FROM g ORDER BY source""".stripMargin,
    "text_winnowing" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |h0 AS (SELECT doc_id, ws,
        |         unnest(generate_series(1, len(ws) - 4)) AS i FROM t),
        |hs AS (
        |  SELECT doc_id, i,
        |    reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_slice(ws, i, i + 4),
        |        w -> CAST(length(w)*31 + ascii(w)*7 + ascii(reverse(w))*13
        |               AS BIGINT))),
        |      (a, x) -> (a * 257 + x) % 1000000007) AS h
        |  FROM h0),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
        |      FROM hs GROUP BY doc_id),
        |wmin AS (
        |  SELECT doc_id, i AS j,
        |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        |    COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM hs),
        |selpos AS (
        |  SELECT w.doc_id, w.j, MAX(h2.i) AS p
        |  FROM wmin w JOIN hs h2 ON h2.doc_id = w.doc_id
        |    AND h2.i BETWEEN w.j AND w.j + 3 AND h2.h = w.mh
        |  WHERE w.wn = 4 GROUP BY w.doc_id, w.j),
        |selected AS (SELECT DISTINCT doc_id, p FROM selpos),
        |fp AS (SELECT s.doc_id, h2.h FROM selected s
        |       JOIN hs h2 ON h2.doc_id = s.doc_id AND h2.i = s.p)
        |SELECT n.doc_id, n.n_spans, CAST(COUNT(*) AS BIGINT) AS n_fp,
        |  bit_xor(fp.h) AS fp_xor
        |FROM fp JOIN n USING (doc_id)
        |GROUP BY n.doc_id, n.n_spans ORDER BY n.doc_id""".stripMargin,
    "text_stopwords" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |k AS (SELECT doc_id, toks,
        |        list_filter(toks, w -> w NOT IN ('a', 'the')) AS kept FROM t)
        |SELECT doc_id,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
        |  md5(array_to_string(kept, ' ')) AS sig
        |FROM k ORDER BY doc_id""".stripMargin,
    "sim_topk_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    ${cosineFold.format("e.embedding", "q.qv")} /
         |    (sqrt(${cosineFold.format("e.embedding", "e.embedding")}) *
         |     sqrt(${cosineFold.format("q.qv", "q.qv")})) AS sim
         |  FROM e, q WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin,
    // matryoshka recall: per-dim prefix cosine (fold over range(1, d+1),
    // same sequential order as the sliced native expression), per-(dim,
    // query) top-10, hits vs the 64-dim truth
    "sim_matryoshka_recall" -> {
      def foldD(d: Int, a: String, b: String): String =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, ${d + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
      def cosD(d: Int, a: String, b: String): String =
        s"""${foldD(d, a, b)} /
           |    (sqrt(${foldD(d, a, a)}) * sqrt(${foldD(d, b, b)}))""".stripMargin
      val blocks = Seq(8, 16, 32, 64).map { d =>
        s"""  SELECT CAST($d AS BIGINT) AS dims, q.query_id, e.vec_id,
           |    ${cosD(d, "e.embedding", "q.qv")} AS sim
           |  FROM e, q WHERE e.vec_id <> q.query_id""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 3),
         |sc AS (
         |$blocks),
         |top10 AS (SELECT dims, query_id, vec_id FROM (
         |  SELECT dims, query_id, vec_id,
         |    row_number() OVER (PARTITION BY dims, query_id
         |                       ORDER BY sim DESC, vec_id ASC) AS rk
         |  FROM sc) WHERE rk <= 10),
         |truth AS (SELECT query_id, vec_id FROM top10 WHERE dims = 64),
         |h AS (SELECT t.dims, t.query_id, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM top10 t JOIN truth u
         |    ON u.query_id = t.query_id AND u.vec_id = t.vec_id
         |  GROUP BY t.dims, t.query_id)
         |SELECT dd.dims, qq.query_id,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(COALESCE(h.hits, 0) * 1000 AS BIGINT) AS recall_bp
         |FROM (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS dims) dd
         |CROSS JOIN (SELECT query_id FROM q) qq
         |LEFT JOIN h ON h.dims = dd.dims AND h.query_id = qq.query_id
         |ORDER BY dd.dims, qq.query_id""".stripMargin
    },
    // The LSH plane family is portable ANSI arithmetic (multiplicative
    // scramble over the linearized (plane, dim) index, exact /1e6
    // division), and both engines fold the plane dot sequentially, so
    // the bucket sign decisions — and hence the whole ANN result — are
    // bit-identical. 8 tables × 4 planes, bucket = big-endian sign bits.
    "sim_lsh_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |pl AS (SELECT t.tbl, p.p, t.tbl * 4 + p.p AS gp
         |       FROM range(8) t(tbl), range(4) p(p)),
         |dots AS (
         |  SELECT e.vec_id, pl.tbl, pl.p,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
         |      i -> CAST(e.embedding[i] AS DOUBLE) *
         |        ((((pl.gp * 64 + i) * 2654435761) % 1073741789) % 2000001
         |          - 1000000) / 1000000.0)),
         |      (a, x) -> a + x) AS d
         |  FROM e, pl),
         |buckets AS (
         |  SELECT vec_id, tbl,
         |    SUM((CASE WHEN d >= 0 THEN 1 ELSE 0 END) * (1 << (3 - p))) AS bucket
         |  FROM dots GROUP BY vec_id, tbl),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id
         |  FROM buckets b
         |  JOIN buckets q ON b.tbl = q.tbl AND b.bucket = q.bucket
         |  WHERE q.vec_id < 3 AND b.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.vec_id,
         |    ${cosineFold.format("ce.embedding", "qe.embedding")} /
         |    (sqrt(${cosineFold.format("ce.embedding", "ce.embedding")}) *
         |     sqrt(${cosineFold.format("qe.embedding", "qe.embedding")})) AS sim
         |  FROM cand c
         |  JOIN e ce ON ce.vec_id = c.vec_id
         |  JOIN e qe ON qe.vec_id = c.query_id),
         |r AS (SELECT query_id, vec_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin,
    // Quantized ANN: int8 codes (the emb_quantize recipe), exact integer
    // code dot/norms, quantized-cosine shortlist of 30, float re-score.
    // Every step is exact integer arithmetic or division of
    // exactly-representable values — bit-identical across engines.
    "sim_quant_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |s AS (SELECT vec_id, embedding,
         |  CASE WHEN list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE)))) > 0
         |    THEN 127.0 / list_max(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))))
         |    ELSE 0.0 END AS scale
         |  FROM e),
         |qz AS (SELECT vec_id, embedding,
         |  list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)) AS qv
         |  FROM s),
         |n AS (SELECT vec_id, embedding, qv,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(qv, v -> v * v)), (a, b) -> a + b) AS qnorm
         |  FROM qz),
         |qry AS (SELECT vec_id AS query_id, embedding AS qemb, qv AS qqv,
         |    qnorm AS qqnorm
         |  FROM n WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.query_id, n.vec_id, n.embedding, q.qemb,
         |    CASE WHEN n.qnorm = 0 OR q.qqnorm = 0 THEN -1.0
         |      ELSE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, 65), i -> n.qv[i] * q.qqv[i])),
         |        (a, b) -> a + b) AS DOUBLE)
         |        / (sqrt(CAST(n.qnorm AS DOUBLE)) *
         |           sqrt(CAST(q.qqnorm AS DOUBLE))) END AS qsim
         |  FROM n, qry q WHERE n.vec_id <> q.query_id),
         |cand AS (SELECT query_id, vec_id, embedding, qemb,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY qsim DESC, vec_id ASC) AS qrk
         |  FROM scored),
         |resc AS (SELECT query_id, vec_id,
         |  ${cosineFold.format("embedding", "qemb")} /
         |  (sqrt(${cosineFold.format("embedding", "embedding")}) *
         |   sqrt(${cosineFold.format("qemb", "qemb")})) AS sim
         |  FROM cand WHERE qrk <= 30),
         |r AS (SELECT query_id, vec_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
         |  FROM resc)
         |SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 10
         |ORDER BY query_id, rk""".stripMargin
    )
    // full-probe IVF ≡ brute force — same oracle, by construction;
    // probed IVF replays the bit-portable trainer + probe verbatim
    val recallEvalSql =
      s"""WITH bf AS (SELECT query_id, vec_id FROM (${base("sim_topk_bruteforce")})),
         |qs AS (SELECT DISTINCT query_id FROM bf),
         |iv AS (SELECT query_id, vec_id FROM ($ivfOracleSql)),
         |ls AS (SELECT query_id, vec_id FROM (${base("sim_lsh_topk")})),
         |ih AS (SELECT iv.query_id, CAST(COUNT(*) AS BIGINT) AS h
         |  FROM iv JOIN bf ON bf.query_id = iv.query_id AND bf.vec_id = iv.vec_id
         |  GROUP BY iv.query_id),
         |lh AS (SELECT ls.query_id, CAST(COUNT(*) AS BIGINT) AS h
         |  FROM ls JOIN bf ON bf.query_id = ls.query_id AND bf.vec_id = ls.vec_id
         |  GROUP BY ls.query_id)
         |SELECT method, query_id, hits, hits * 1000 AS recall_bp FROM (
         |  SELECT 'ivf' AS method, qs.query_id, CAST(COALESCE(ih.h, 0) AS BIGINT) AS hits
         |  FROM qs LEFT JOIN ih ON ih.query_id = qs.query_id
         |  UNION ALL
         |  SELECT 'lsh', qs.query_id, CAST(COALESCE(lh.h, 0) AS BIGINT)
         |  FROM qs LEFT JOIN lh ON lh.query_id = qs.query_id)
         |ORDER BY method, query_id""".stripMargin
    base + ("sim_ivf_full" -> base("sim_topk_bruteforce")) +
      ("sim_recall_eval" -> recallEvalSql) +
      ("sim_ivf_topk" -> ivfOracleSql) +
      ("sim_ivfpq_topk" -> ivfOracleSql) +
      ("sim_matryoshka_probe" -> matryoshkaProbeOracle) +
      ("sim_knn_graph" -> knnGraphOracleSql) +
      ("sim_knn_incr" -> knnIncrOracleSql) +
      ("sim_ivf_incr" -> ivfIncrOracleSql) +
      ("sim_ivf_delete" -> ivfDeleteOracleSql) +
      ("sim_ivf_stream" -> ivfStreamOracleSql) +
      ("sim_components" -> componentsOracleSql) +
      ("sim_filtered_topk" -> filteredTopKSql) +
      ("sim_probe_sweep" -> probeSweepSql()) +
      ("lake_vacuum" -> base("lake_merge_snapshot")) +
      ("curate_label_audit" -> labelAuditSql) +
      ("stats_embedding_outliers" -> embeddingOutliersSql) +
      ("curate_diversity_sample" -> diversityOracleSql) +
      ("curate_dsir" -> dsirOracleSql) +
      ("curate_centrality" -> centralityOracleSql()) +
      ("sim_hybrid_rrf" -> hybridRrfSql()) +
      ("text_entropy" -> entropyOracleSql) +
      ("sim_mmr" -> mmrOracleSql()) +
      ("stats_ks_drift" -> ksDriftSql()) +
      ("stats_gini" -> giniSql) +
      ("stats_heaps" -> heapsSql) +
      ("stats_triangles" -> trianglesSql) +
      ("sim_kmeans" -> kmeansStatsSql) +
      ("sim_range_search" -> ivfRangeOracleSql) +
      ("stats_embedding_drift" -> embeddingDriftSql) +
      ("stats_profile_sketch" -> profileSketchSql) +
      ("sim_pq_topk" -> base("sim_topk_bruteforce")) +
      ("sim_hard_negatives" ->
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 8),
           |scored AS (
           |  SELECT q.query_id, e.vec_id,
           |    ${cosineFold.format("e.embedding", "q.qv")} /
           |    (sqrt(${cosineFold.format("e.embedding", "e.embedding")}) *
           |     sqrt(${cosineFold.format("q.qv", "q.qv")})) AS sim
           |  FROM e, q WHERE e.vec_id <> q.query_id),
           |banded AS (SELECT * FROM scored WHERE sim >= 0.15 AND sim < 0.45),
           |r AS (SELECT query_id, vec_id, sim,
           |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rk
           |  FROM banded)
           |SELECT query_id, vec_id, sim, rk FROM r WHERE rk <= 3
           |ORDER BY query_id, rk""".stripMargin)
  }
}

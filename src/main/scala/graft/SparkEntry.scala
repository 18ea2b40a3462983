package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.{Relational, TaxiQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator (SURVEY.md §2 inventory:
  * Q1/Q2 = the reference's two programs; Q3-Q10 = the general-relational
  * surface; X-* = the LLM-pipeline extensions).
  * `oracleSql`: the DuckDB-equivalent SQL for EVERY query — including the
  * hash-family-internal ones: the simhash kernel AND the whole MinHash-LSH
  * pipeline are replayed bit-for-bit in SQL, so x4/x5/x17/x18/x25 raw
  * outputs are value-checked rather than rows-only.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q4JoinAgg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- reference parity (taxi fixtures; FIXTURES.md §A) ------------------
    "q1_trip_histogram" -> ((s, _) => TaxiQueries.q1(s, s"${TaxiQueries.FixtureDir}/trips.txt")),
    "q2_airport_trips" -> ((s, _) => TaxiQueries.q2Trips(s)),
    "q2_daily_revenue" -> ((s, _) => TaxiQueries.q2Daily(s)),
    "q2_total_revenue" -> ((s, _) => TaxiQueries.q2Total(s)),
    // -- general-relational surface (testdata parquet) ---------------------
    "q3_filter_agg" -> ((s, d) => Relational.q3FilterAgg(s, d)),
    "q4_join_agg" -> ((s, d) => Relational.q4JoinAgg(s, d)),
    "q5_topk_having" -> ((s, d) => Relational.q5TopK(s, d)),
    "q6_window_funcs" -> ((s, d) => Relational.q6Window(s, d)),
    "q7_set_ops" -> ((s, d) => Relational.q7SetOps(s, d)),
    "q8_sessionize" -> ((s, d) => Relational.q8Sessionize(s, d)),
    "q9_time_windows" -> ((s, d) => Relational.q9TimeWindows(s, d)),
    "q10_json_extract" -> ((s, d) => Relational.q10Json(s, d)),
    "q11_rollup" -> ((s, d) => Relational.q11Rollup(s, d)),
    "q12_outer_join" -> ((s, d) => Relational.q12OuterJoin(s, d)),
    "q13_anti_join" -> ((s, d) => Relational.q13AntiJoin(s, d)),
    "q14_distinct_agg" -> ((s, d) => Relational.q14DistinctAgg(s, d)),
    "q15_string_funcs" -> ((s, d) => Relational.q15StringFuncs(s, d)),
    "q16_date_funcs" -> ((s, d) => Relational.q16DateFuncs(s, d)),
    "q17_asof_join" -> ((s, d) => Relational.q17AsOfJoin(s, d)),
    "q18_range_join" -> ((s, d) => Relational.q18RangeJoin(s, d)),
    "q19_semi_join" -> ((s, d) => Relational.q19SemiJoin(s, d)),
    "q20_cube" -> ((s, d) => Relational.q20Cube(s, d)),
    "q21_pivot" -> ((s, d) => Relational.q21Pivot(s, d)),
    "q22_skew_join" -> ((s, d) => Relational.q22SkewJoin(s, d)),
    "q23_set_ops_all" -> ((s, d) => Relational.q23SetOpsAll(s, d)),
    "q24_session_window" -> ((s, d) => Relational.q24SessionWindow(s, d)),
    "q25_correlated_subquery" -> ((s, d) => Relational.q25CorrelatedSubquery(s, d)),
    "q26_window_frames" -> ((s, d) => Relational.q26WindowFrames(s, d)),
    // window distribution functions (ntile/percent_rank/cume_dist),
    // partitioned per nation so no global-sort funnel
    "q32_window_distribution" -> ((s, d) => Relational.q32WindowDistribution(s, d)),
    // arbitrary GROUPING SETS (incl. the empty set) + grouping() flags —
    // the surface ROLLUP/CUBE don't pin; pre-aggregated before expansion
    "q33_grouping_sets" -> ((s, d) => Relational.q33GroupingSets(s, d)),
    // RANGE-frame window aggregate (trailing 30 days per customer) —
    // q26 covers ROWS frames only; same-date orders are frame peers
    "q34_range_frame" -> ((s, d) => Relational.q34RangeFrame(s, d)),
    // recursive CTE (Spark 4 UnionLoop): binary-tree subtree aggregates,
    // frontier equi-join per step — the in-engine twin of x18/x56's
    // recursive oracles
    "q35_recursive_cte" -> ((s, d) => Relational.q35RecursiveCte(s, d)),
    // LATERAL correlated subquery with per-row ORDER BY/LIMIT — top-2
    // orders per customer, decorrelated to a ranked join
    "q36_lateral_topn" -> ((s, d) => Relational.q36LateralTopN(s, d)),
    // IGNORE NULLS window navigation: LOCF gap-fill over real JSON-payload
    // nulls + age of the carried observation
    "q37_locf_window" -> ((s, d) => Relational.q37LocfWindow(s, d)),
    // UNPIVOT/melt — the wide→long reshape (inverse of q21's pivot);
    // pure Expand, no new exchange
    "q38_unpivot" -> ((s, d) => Relational.q38Unpivot(s, d)),
    // nested to_json/from_json round-trip (array<struct> per order) —
    // the API-payload shape q10's scalar extraction doesn't pin
    "q39_json_roundtrip" -> ((s, d) => Relational.q39JsonRoundtrip(s, d)),
    // exact grouped percentile_disc (inverse CDF on actual data values) —
    // the value-exact counterpart of x15/x27's approximate quantiles
    "q40_percentiles" -> ((s, d) => Relational.q40Percentiles(s, d)),
    // Spark 4 VARIANT: parse_json once, typed try_variant_get reads —
    // the one-parse-many-reads replacement for q10's per-field re-parse
    "q41_variant" -> ((s, d) => Relational.q41Variant(s, d)),
    // null-safe equality (<=>) join over derived nullable keys on BOTH
    // sides — null matches null, next to the count a plain '=' would give
    "q42_nullsafe_join" -> ((s, d) => Relational.q42NullSafeJoin(s, d)),
    // ordered-set + argmax aggregates: listagg WITHIN GROUP, deterministic
    // mode, struct-keyed max_by/min_by (price ties break on orderkey)
    "q43_ordered_agg" -> ((s, d) => Relational.q43OrderedAgg(s, d)),
    // map-typed columns end-to-end: build/read/transform with map HOFs,
    // shipped as sorted entry arrays (the only hashable map contract)
    "q44_map_funcs" -> ((s, d) => Relational.q44MapFuncs(s, d)),
    // FILTER (WHERE) on count/sum/max, count_if, every/any — conditional
    // aggregation without the sum(CASE...) idiom; one combinable aggregate
    "q45_filtered_agg" -> ((s, d) => Relational.q45FilteredAgg(s, d)),
    // slope/intercept/corr from EXACT decimal sufficient statistics — the
    // partition-order-independent (reproducible) form of corr/regr_slope
    "q46_regression_stats" -> ((s, d) => Relational.q46RegressionStats(s, d)),
    // convert_timezone into NY/Tokyo + ISO weekday/week + last_day — the
    // reporting-calendar surface; JVM tzdata vs DuckDB ICU must agree
    "q47_timezone_calendar" -> ((s, d) => Relational.q47TimezoneCalendar(s, d)),
    // try_divide/try_multiply/try_cast/try_to_timestamp under ANSI: the
    // null-on-failure contract, every channel derived so it provably fires
    "q48_try_arithmetic" -> ((s, d) => Relational.q48TryArithmetic(s, d)),
    // NOT IN vs a NULL-bearing subquery: the three-valued-logic trap (0
    // rows) pinned beside the two correct forms, which must agree
    "q49_not_in_nulls" -> ((s, d) => Relational.q49NotInNulls(s, d)),
    // view->click->purchase funnel via chained prefix-min windows: one
    // shuffle, no self-joins; counts/rates/latencies all exact
    "q50_funnel" -> ((s, d) => Relational.q50Funnel(s, d)),
    // cohort retention matrix: first-active week x offset, exact integer
    // week arithmetic, one int/int rate division per row
    "q51_cohort_retention" -> ((s, d) => Relational.q51CohortRetention(s, d)),
    // q50 run continuously: per-user O(1) funnel FSM in
    // flatMapGroupsWithState emitting a changelog per completed stage
    "x73_stream_funnel" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingFunnel(s, d)),
    // q22's aggregation against the BUCKETED layout (co-located merge join,
    // zero join-side Exchange — LayoutSpec pins the plan); same oracle
    "q27_bucketed_join" -> ((s, d) => graft.sources.Bucketed.q27BucketedJoin(s, d)),
    // date-partitioned layout + runtime-derived day dimension: the fact
    // scan prunes via dynamic partition pruning (LayoutSpec pins the plan)
    "q28_dpp_join" -> ((s, d) => graft.sources.PartitionedLayout.q28DppJoin(s, d)),
    // runtime bloom filter from the selective orders side prunes the
    // lineitem shuffle (LayoutSpec pins the might_contain plan)
    "q29_bloom_join" -> ((s, d) => Relational.q29BloomJoin(s, d)),
    // CDC MERGE/upsert: last-writer-wins changelog apply with delete
    // tombstones, insert/update/keep provenance per key
    "q30_merge_upsert" -> ((s, d) => Relational.q30MergeUpsert(s, d)),
    // SCD2 history: every state with its validity interval; tombstones
    // close history without opening a version
    "q31_scd2_history" -> ((s, d) => Relational.q31Scd2(s, d)),
    // -- LLM-pipeline extensions ------------------------------------------
    "x1_dedup_exact" -> ((s, d) => Dedup.exactDupStats(Tables.load(s, d, "documents"))),
    "x2_dedup_normalized" -> ((s, d) => Dedup.normalizedDupGroups(Tables.load(s, d, "documents"))),
    "x3_dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"), 10, 0.6)),
    // asymmetric containment (overlap coefficient): catches a short doc
    // quoted wholesale inside a long one, which symmetric Jaccard
    // dilutes toward 0 — integer intersection counts, exact oracle
    "x55_ngram_containment" -> ((s, d) => Dedup.ngramContainmentPairs(Tables.load(s, d, "documents"), 5, 0.8)),
    // the RAW pair set, fully oracled: [[MinhashLshCte]] replays the
    // packed-shingle mix64 hash, the (a·h+b) mod p permutation minima,
    // banding, the maxBucket star-edge policy, and the exact-Jaccard
    // verification in DuckDB SQL, so every (doc_a, doc_b, jaccard) row is
    // value-checked against an independent recomputation
    "x4_dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLshPairs(Tables.load(s, d, "documents"))),
    "x5_dedup_simhash" -> ((s, d) => Dedup.simhash(Tables.load(s, d, "documents"))),
    "x6_embedding_neardup" -> ((s, d) => Similarity.nearDupPairs(Tables.load(s, d, "embeddings"), 5, 0.25)),
    "x7_similarity_topk" -> ((s, d) => Similarity.bruteForceTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    // IVF top-k rows, hash-gated end to end: the fixed-point centroid sums
    // (integral doubles, exact addition) are order-independent, so DuckDB
    // replays the identical centroids → cluster selection → cosine ranking.
    // The recall-vs-exact floor lives in IvfSpec (ivfRecallGate).
    "x8_similarity_ivf" -> ((s, d) => Similarity.ivfTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    "x9_text_langid" -> ((s, d) => TextAnalysis.langId(Tables.load(s, d, "documents"))),
    "x10_text_quality" -> ((s, d) => TextAnalysis.qualityStats(Tables.load(s, d, "documents"))),
    "x11_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(Tables.load(s, d, "documents"))),
    "x12_doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.load(s, d, "documents"))),
    "x13_multimodal_meta" -> ((s, d) => Multimodal.blobMeta(Tables.load(s, d, "documents"))),
    // per-media-type rollup of the REAL decoders (x79 PNG / x80 PCM /
    // x86 video frames) — exact integer units + sums, fully hash-gated
    "x14_multimodal_decode" -> ((s, d) =>
      Multimodal.featureSummary(s, Tables.load(s, d, "documents"))),
    "x15_length_quantiles" -> ((s, d) => TextAnalysis.lengthQuantiles(Tables.load(s, d, "documents"))),
    "x21_multimodal_frames" -> ((s, d) => Multimodal.frameSampleSummary(s, Tables.load(s, d, "documents"))),
    // same result as x7 through the custom bounded-heap aggregate instead
    // of a window sort (map-side partial top-k -> tiny shuffle)
    "x22_topk_aggregate" -> ((s, d) => Similarity.aggTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    // ANN top-k through the multi-table hyperplane index: the hyperplane
    // signs are a pure splitmix function of (bit, index), so the whole
    // approximate query — index, candidate set, ranking — replays in
    // DuckDB SQL and hash-gates end to end (as x8's fixed-point IVF does)
    "x48_lsh_ann_topk" -> ((s, d) => Similarity.lshTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    // multi-probe variant: each probe also searches every Hamming-1
    // neighbor bucket — the recall lever at fixed table count; the flips
    // are integer XORs of the replayed buckets, so this hash-gates too
    "x51_multiprobe_ann" -> ((s, d) => Similarity.multiProbeTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    // int8 shortlist + float rescore: int8 dot/norm sums are exact
    // integers, so the quantized ranking is bit-reproducible and the
    // whole pipeline (quantize -> int8 rank -> shortlist -> rescore)
    // replays in DuckDB SQL
    "x52_int8_rescore_ann" -> ((s, d) => Similarity.int8RescoreTopK(Tables.load(s, d, "embeddings"), 10, 5)),
    // embedding-cosine near-dup through the bucketed LSH index (x6's
    // scale path) on a corpus with deterministically planted twins —
    // the oracle replays plant + index + collide + verify, so the
    // approximate pipeline hash-gates end to end
    "x54_lsh_cosine_neardup" -> ((s, d) => Similarity.lshCosineNearDup(Tables.load(s, d, "embeddings"))),
    // the incremental production shape: new-batch probes against the
    // PERSISTED corpus bucket + vector stores (x31's pattern for ANN) —
    // the corpus is never re-read or re-signed; the oracle replays the
    // same index restricted to new-probe/corpus-candidate pairs
    "x49_incremental_ann" -> ((s, d) => graft.operators.IncrementalAnn.incrementalTopK(s, d)),
    // reproducible 5-docs-per-source sample: hash-order sampling is a pure
    // function of the data, so the DuckDB oracle reproduces it exactly
    "x23_sample_per_group" -> ((s, d) =>
      graft.operators.Sampling.kPerGroup(Tables.load(s, d, "documents"), "source", "doc_id", 5)
        .orderBy("source", "doc_id")),
    // zlib ratio VALUES are engine-internal, but their invariants (counts,
    // positivity, bounds, avg ordering) oracle-check as booleans
    "x24_compress_ratio" -> ((s, d) => TextAnalysis.compressionInvariants(Tables.load(s, d, "documents"))),
    // fully oracled: the FNV+mix64 kernel is replayed bit-for-bit in
    // DuckDB SQL (SimhashOracleCte) and the oracle is the BRUTE-FORCE
    // Hamming<=3 pair set — banding must be a pure optimization
    "x25_simhash_pairs" -> ((s, d) => Dedup.simhashNearDupPairs(Tables.load(s, d, "documents"))),
    // streaming ingest-dedup: every doc checked against all PRIOR docs
    // through per-band-bucket state (pigeonhole recall exactly 1 at
    // Hamming<=3); result is a pure function of the doc set, so the
    // oracle recomputes it from raw text with no stream semantics
    "x57_streaming_simhash_dedup" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingSimhashDedup(s, d)),
    "x16_embedding_quantize" -> ((s, d) => Similarity.quantizationStats(Tables.load(s, d, "embeddings"))),
    "x17_curation_pipeline" -> ((s, d) => graft.queries.Curation.pipeline(s,
      Tables.load(s, d, "documents"), Tables.load(s, d, "embeddings"))),
    // raw LSH cluster labels, fully oracled: [[MinhashLshCte]] replays the
    // whole LSH pipeline and the x20 recursive CTE resolves its pairs to
    // min-label components, so every (doc_id, cluster_id) row is checked
    "x18_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Dedup.minhashLshPairs(Tables.load(s, d, "documents"), threshold = 0.62))),
    "x19_vocabulary" -> ((s, d) => TextAnalysis.vocabulary(Tables.load(s, d, "documents"), 50)),
    // same clustering operator as x18 but fed EXACT Jaccard pairs on a
    // deterministic subset — SQL-expressible without the LSH replay, so
    // the connected components are oracle-checked on an independent input
    // (recursive-CTE reachability).
    "x20_dup_clusters_exact" -> ((s, d) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairs(Tables.load(s, d, "documents"), 10, 0.5))),
    // the same clustering operator over the EMBEDDING near-dup graph:
    // exact cosine pairs (x6's shape, threshold 0.3 where the fixture's
    // cosine graph has real transitive families) resolved to canonical
    // min-label clusters — the dedup-decision step of an embedding-based
    // near-dup pipeline, recursive-CTE oracled on an independent input
    "x56_cosine_dup_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(
          Similarity.nearDupPairs(Tables.load(s, d, "embeddings"), 5, 0.3)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),
    // the dedup pipeline's FINAL decision: per duplicate cluster keep the
    // highest-quality member (x10's shared gate), mark the rest dropped —
    // detect (x3) → cluster (x20) → keeper → drop list
    "x65_dedup_keeper" -> ((s, d) =>
      Dedup.keeperSelection(Tables.load(s, d, "documents"))),
    // Structured Streaming twin of q8, reshaped to q8's schema — carries
    // q8's oracle, so stream==batch is in the driver's hard signal
    "x26_streaming_sessionize" -> ((s, d) => graft.queries.StreamingQueries.gapSessions(s, d)),
    // the flagship taxi FSM as a stream, reduced to q2_daily's schema so
    // the committed golden pins stream==batch for the reference pipeline
    "x47_streaming_taxi_fsm" -> ((s, _) => graft.queries.StreamingQueries.streamingTaxiDaily(s)),
    // HLL++/approx-percentile next to their exact twins: exact columns
    // oracled, sketch accuracy pinned by tolerance booleans (like x24)
    "x27_sketch_stats" -> ((s, d) => graft.operators.Sketch.sketchStats(Tables.load(s, d, "documents"))),
    // content-defined chunking (Gear rolling hash): exact byte totals
    // oracled, the chunking contract rides as invariant booleans; dup
    // profile + locality property covered in ScalaTest
    "x28_cdc_chunks" -> ((s, d) => graft.operators.Chunker.chunkStats(Tables.load(s, d, "documents"))),
    // inverted-index-shaped relevance scoring: top-3 tf-idf terms per doc
    "x29_tfidf_terms" -> ((s, d) => TextAnalysis.tfidfTopTerms(Tables.load(s, d, "documents"))),
    // deterministic 80/10/10 split: assignment is a pure function of
    // doc_id, fingerprinted per (source, split) so the oracle pins it
    "x30_stratified_split" -> ((s, d) =>
      graft.operators.Sampling.stratifiedSplit(Tables.load(s, d, "documents"))),
    // incremental new-batch-vs-corpus dedup against persisted band +
    // fingerprint stores — the BATCH PATH only (the restriction-equality
    // contract is a QueriesSpec assertion; it is also what makes n_pairs
    // DuckDB-exact via the whole-pipeline LSH replay)
    "x31_incremental_dedup" -> ((s, d) =>
      graft.operators.IncrementalDedup.incrementalBatch(s, d)),
    // PII scrub: counts on the original text + md5 of the redacted text
    "x32_pii_redaction" -> ((s, d) => TextAnalysis.piiRedact(Tables.load(s, d, "documents"))),
    // benchmark decontamination: 8-token-gram overlap vs the doc_id%17==3
    // eval slice; broadcast benchmark, distinct-reduced corpus grams
    "x33_decontaminate" -> ((s, d) => TextAnalysis.contamination(Tables.load(s, d, "documents"))),
    // Gopher-style dominant-bigram coverage per document
    "x34_repetition_stats" -> ((s, d) => TextAnalysis.repetitionStats(Tables.load(s, d, "documents"))),
    // deterministic domain-mixture downsampling, independent of the x30
    // split hash; per-source kept-id fingerprints pin the decisions
    "x35_mixture_resample" -> ((s, d) => graft.operators.Sampling.mixtureResample(
      Tables.load(s, d, "documents"), Map("src0" -> 0.25, "src5" -> 0.5, "src10" -> 0.75))),
    // streaming first-seen-per-key dedup: commutative min-struct streaming
    // aggregation across micro-batches — arrival-order-independent, so the
    // batch oracle pins it exactly
    "x36_streaming_first_touch" -> ((s, d) => graft.queries.StreamingQueries.firstTouch(s, d)),
    // cross-document boilerplate: per-doc fraction of 8-grams shared with
    // >= 3 documents; gram->df join reuses the grouping exchange
    "x37_boilerplate_ngrams" -> ((s, d) =>
      TextAnalysis.boilerplateCoverage(Tables.load(s, d, "documents"))),
    // the remediation step to x37's diagnostic: REMOVE the tokens covered
    // by cross-doc-shared 8-grams, rebuilt text pinned by md5
    "x62_boilerplate_removal" -> ((s, d) =>
      TextAnalysis.boilerplateRemove(Tables.load(s, d, "documents"))),
    // char-trigram novelty (perplexity-free gibberish gate): rare-trigram
    // fraction against the corpus's own bounded |alphabet|^3 freq table
    "x66_trigram_novelty" -> ((s, d) =>
      TextAnalysis.charTrigramNovelty(Tables.load(s, d, "documents"))),
    // per-doc character diversity (Simpson index, top-char fraction) from
    // the one-pass char_diversity kernel — zero exchanges
    "x67_char_diversity" -> ((s, d) =>
      TextAnalysis.charDiversityStats(Tables.load(s, d, "documents"))),
    // edit-distance near-dup: simhash band-0 blocking + thresholded
    // levenshtein on 64-char prefixes (integer-exact pair relation)
    "x68_editdist_neardup" -> ((s, d) =>
      Dedup.editDistanceNearDupPairs(Tables.load(s, d, "documents"))),
    // Unicode normalization audit: derived decomposed text -> NFC fuse ->
    // accent strip round-trip, all per-row codegen kernels
    "x69_unicode_normalize" -> ((s, d) =>
      TextAnalysis.unicodeNormalizeAudit(Tables.load(s, d, "documents"))),
    // Luhn-checksum-validated card redaction: shape match -> luhn_check
    // gate -> fold-based replace; only validated candidates are masked
    "x70_luhn_redaction" -> ((s, d) =>
      TextAnalysis.luhnRedact(Tables.load(s, d, "documents"))),
    // Z-order clustering: bit-interleaved 2-D sort key + per-z-bucket
    // min/max stats — the data-skipping layout; spec measures the pruning
    "x71_zorder_layout" -> ((s, d) =>
      graft.sources.ZOrder.zOrderLayout(Tables.load(s, d, "lineitem"))),
    // BM25 top-10 for a fixed term set — index-free search, term filter
    // pushed BEFORE the tf aggregate so the shuffle carries only matches
    "x72_bm25_retrieval" -> ((s, d) =>
      TextAnalysis.bm25Retrieval(Tables.load(s, d, "documents"))),
    // top-20 drifting tokens between source slices 0-9 and 10-19: exact
    // per-token frequency deltas, no cross-token float sum anywhere
    "x74_token_drift" -> ((s, d) =>
      TextAnalysis.tokenDrift(Tables.load(s, d, "documents"))),
    // integer-scaled fixed-point PageRank on the part co-purchase graph:
    // bit-reproducible under any partitioning, 10 Pregel iterations
    "x75_pagerank" -> ((s, d) =>
      graft.operators.PageRank.topRanks(Tables.load(s, d, "lineitem"))),
    // exact top-10 token frequencies + Count-Min estimates: the frequency
    // sketch completing x27's family; est >= exact is deterministic
    "x76_heavy_hitters" -> ((s, d) =>
      graft.operators.Sketch.heavyHitters(Tables.load(s, d, "documents"))),
    // parse_url component extraction over in-plan derived URLs, rolled up
    // per host — the per-domain quota view of a web-corpus ingest
    "x77_url_parse" -> ((s, d) =>
      TextAnalysis.urlParse(Tables.load(s, d, "documents"))),
    // deterministic concat-and-chunk packing into 256-token sequences,
    // sharded per (source, doc_id % 4) so window partitions stay bounded
    "x38_sequence_packing" -> ((s, d) =>
      graft.operators.Sampling.sequencePacking(Tables.load(s, d, "documents"))),
    // stream-stream interval self-join (click->purchase attribution) with
    // watermark-bounded join state; batch-equivalent, so DuckDB-exact
    "x39_stream_interval_join" -> ((s, d) =>
      graft.queries.StreamingQueries.intervalJoin(s, d)),
    // stream-static broadcast enrichment per micro-batch (stateless join,
    // append mode); the enriched sink aggregates to a DuckDB-exact summary
    "x40_stream_enrich" -> ((s, d) =>
      graft.queries.StreamingQueries.enrichedByNation(s, d)),
    // LEFT OUTER stream-stream join: null emission for proven-unmatched
    // clicks waits on watermark advance (per-side sentinels close every
    // real window), so the emitted set equals the batch left join
    "x50_stream_outer_join" -> ((s, d) =>
      graft.queries.StreamingQueries.intervalJoinOuter(s, d)),
    // the FULL OUTER stream-stream interval join: null emission waits on
    // watermark proof in BOTH directions — completes the x39/x50 matrix
    "x58_stream_full_join" -> ((s, d) =>
      graft.queries.StreamingQueries.intervalJoinFull(s, d)),
    // q30's CDC MERGE run continuously: commutative max-struct streaming
    // state + the SAME batch merge step — shares q30's oracle verbatim
    "x61_stream_cdc_upsert" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingCdcUpsert(s, d)),
    // SLIDING-window trending top-3 (1 h window / 15 min slide — the
    // first overlapping-window surface): watermarked append-mode counts,
    // shared batch top-k step, integer window arithmetic the oracle replays
    "x63_stream_trending" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingTrending(s, d)),
    // deterministic global shuffle + shard manifest (pure function of
    // doc_id, third independent multiplier) — the loader-prep step
    "x59_shuffle_shards" -> ((s, d) =>
      graft.operators.Sampling.shuffleShards(Tables.load(s, d, "documents"))),
    // media container sniff + header parse (PNG/BMP/WAV, BE and LE ints)
    // as pure columnar byte expressions over planted real-format headers
    "x60_media_sniff" -> ((s, d) =>
      graft.operators.Multimodal.sniffMedia(Tables.load(s, d, "documents"))),
    // JPEG SOF-marker walk over a planted real-structure JPEG corpus
    // (variable-length segment chain, baseline+progressive frames, a
    // truncated-blob NULL share); the oracle replays the plant formulas
    "x78_jpeg_dims" -> ((s, d) =>
      graft.operators.Multimodal.jpegDims(Tables.load(s, d, "documents"))),
    // REAL codec round-trip: genuine PNG encode (JDK ImageIO, actual
    // zlib+CRC) -> genuine decode -> exact per-channel pixel sums the
    // oracle recomputes from the closed-form plant
    "x79_real_decode" -> ((s, d) =>
      graft.operators.Multimodal.realDecode(s, Tables.load(s, d, "documents"))),
    // REAL audio decode: RIFF chunk walk + every 16-bit LE PCM sample
    // read in a codegen kernel; exact sample statistics, truncation->NULL
    "x80_wav_pcm" -> ((s, d) =>
      graft.operators.Multimodal.wavPcmDecode(Tables.load(s, d, "documents"))),
    // MJPEG video demux: frame count + first/last dims require scanning
    // every frame's entropy stream (stuffing, restart markers, EOI)
    "x81_mjpeg_demux" -> ((s, d) =>
      graft.operators.Multimodal.mjpegDemux(Tables.load(s, d, "documents"))),
    // degree-ordered triangle counting (hub-proof O(m^1.5) wedge bound);
    // the triangle set is orientation-invariant, so the oracle replays
    // it with plain id-ordering and must match node for node
    "x82_triangles" -> ((s, d) =>
      graft.operators.Triangles.topTriangleNodes(Tables.load(s, d, "lineitem"))),
    // mergeable DataSketches HLL: per-source sketches unioned to the
    // global vocabulary estimate — the cross-shard cardinality pattern
    "x83_hll_union" -> ((s, d) =>
      graft.operators.Sketch.mergeableVocab(Tables.load(s, d, "documents"))),
    // weighted priority sampling (Duffield-Lund-Thorup): k per source by
    // w/u priority, integer u + one IEEE division so the rank replays
    // bit-identically in DuckDB
    "x84_priority_sample" -> ((s, d) =>
      graft.operators.Sampling.prioritySample(Tables.load(s, d, "documents"))),
    // x55's production path: EXACT containment via PPJoin prefix
    // filtering on word 5-grams — recall 1 by pigeonhole, so the oracle
    // recomputes the identical pair set with its own prefix choice
    "x85_containment_join" -> ((s, d) =>
      graft.operators.Dedup.containmentJoin(Tables.load(s, d, "documents"))),
    // VIDEO pixel decode: x81's container demux composed with x79's real
    // per-frame ImageIO decode over an intra-frame LOSSLESS stream —
    // per-frame exact channel sums, truncated streams decode to 0 frames
    "x86_video_pixels" -> ((s, d) =>
      graft.operators.Multimodal.videoPixelDecode(s, Tables.load(s, d, "documents"))),
    // SemDeDup (Abbas et al.): k-means-cell-scoped cosine pairs resolved
    // to components, keeper = least-similar-to-centroid; fixed-point
    // centroids make the whole pipeline hash-gate against a full replay
    "x87_semdedup" -> ((s, d) =>
      graft.operators.Similarity.semDedup(Tables.load(s, d, "embeddings"))),
    // exact substring-span dedup (Lee et al.): repeated 40-char windows
    // anywhere in the corpus, merged per doc to spans — pure integers
    "x88_substring_dedup" -> ((s, d) =>
      graft.operators.Dedup.substringSpanStats(Tables.load(s, d, "documents"))),
    // bigram-LM perplexity scoring (CCNet-style): self-trained add-one
    // bigram model, per-doc avg NLL in exact fixed-point micro-nats
    "x89_bigram_lm" -> ((s, d) =>
      graft.operators.TextAnalysis.bigramLmScore(Tables.load(s, d, "documents"))),
    // DSIR importance resampling (Xie et al.): hashed-bigram bucket
    // log-ratios vs the target slice, exact integer doc weights,
    // deterministic top-fraction selection of the raw pool
    "x90_dsir_select" -> ((s, d) =>
      graft.operators.TextAnalysis.dsirSelect(Tables.load(s, d, "documents"))),
    // multi-iteration Lloyd k-means in fixed-point — the training loop
    // behind x8's IVF and x87's cells; three unrolled iterations replay
    // exactly in the oracle, so the full per-vector assignment hash-gates
    "x91_kmeans" -> ((s, d) =>
      graft.operators.KMeans.assignments(Tables.load(s, d, "embeddings"))),
    // Bloom-filter semi-join pruning: fixed-size md5-position bitmap over
    // urgent orders probed by every lineitem — even the false positives
    // are value-gated, since both engines compute the identical bits
    "x92_bloom_join" -> ((s, d) =>
      graft.operators.BloomJoin.filterAccounting(
        Tables.load(s, d, "orders"), Tables.load(s, d, "lineitem"))),
    // exact per-language length quantiles WITHOUT materializing any
    // group: two-pass histogram refinement (x15's scale path); oracle is
    // the rank definition over a full sort — exact or nothing
    "x93_twopass_quantiles" -> ((s, d) =>
      graft.operators.Quantiles.twoPassDiscrete(Tables.load(s, d, "documents"))),
    // Sorted-Neighborhood near-dup pairs (Hernández–Stolfo): sort-based
    // blocking with a HARD w·n candidate bound, integer Jaccard verify;
    // global rank via the two-phase offset pattern, pairs via binned join
    "x94_snm_dedup" -> ((s, d) =>
      graft.operators.Dedup.snmPairs(Tables.load(s, d, "documents"))),
    // multi-pass SNM: x94's pass unioned with a reversed-text (suffix)
    // pass — recall for families whose keys sort apart under ONE order,
    // at a constant 2x of the same hard w*n candidate bound
    "x104_snm_multipass" -> ((s, d) =>
      graft.operators.Dedup.snmPairsTwoPass(Tables.load(s, d, "documents"))),
    // CMS inner-product join-size estimation (Cormode–Muthukrishnan):
    // planner statistic from two mergeable summaries; deterministic md5
    // cells make even the ESTIMATE hash-gate, est >= exact guaranteed
    "x95_cms_join_size" -> ((s, d) =>
      graft.operators.Sketch.joinSizeEstimate(Tables.load(s, d, "lineitem"))),
    // x95 with the width occupancy-sized from a deterministic hash-sample
    // cardinality probe — est/exact stays constant as keys grow instead
    // of x95's fixed-width fill degradation; width + estimate both replay
    "x105_cms_sized" -> ((s, d) =>
      graft.operators.Sketch.sizedJoinSizeEstimate(Tables.load(s, d, "lineitem"))),
    // FUZZY benchmark decontamination: near-dup match against the eval
    // slice via x4's exact LSH pipeline (one canonical "near" definition);
    // the exact-overlap complement of x33
    "x96_fuzzy_decontam" -> ((s, d) =>
      TextAnalysis.fuzzyContamination(Tables.load(s, d, "documents"))),
    // Tukey-fence length-outlier gate per language: robust self-calibrating
    // curation filter on x93's two-pass quartiles + one gate scan; fence
    // arithmetic is pure integers, so every count replays exactly
    "x97_iqr_gate" -> ((s, d) =>
      graft.operators.Quantiles.iqrLengthGate(Tables.load(s, d, "documents"))),
    // embedding-distribution drift monitor: cells trained on the corpus
    // slice, new batch assigned under FROZEN centroids, per-cell share
    // comparison — the x31/x49 incremental posture for distribution shape
    "x98_kmeans_drift" -> ((s, d) =>
      graft.operators.KMeans.batchDriftProfile(Tables.load(s, d, "embeddings"))),
    // x98 run CONTINUOUSLY: frozen-centroid assignment as a stateless
    // streaming projection + a commutative per-cell count; stream = batch
    // spec-pinned, and the row shares x98's oracle verbatim
    "x106_stream_drift" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingDrift(s, d)),
    // video thumbnailing: every-2nd-frame sampling (before the decode
    // cost) + 2x nearest-neighbor decimation over really-decoded pixels;
    // the lossless plant makes even the RESIZED sums oracle-exact
    "x99_video_thumbnail" -> ((s, d) =>
      graft.operators.Multimodal.videoThumbnails(s, Tables.load(s, d, "documents"))),
    // the round-14 curation funnel: IQR gate -> fuzzy decontam (LSH run
    // ON the gated set) -> DSIR selection of the survivors — every stage
    // deterministic, so the COMPOSITION hash-gates end to end
    "x100_curation_v2" -> ((s, d) =>
      graft.queries.Curation.roundFourteenFunnel(s, d)),
    // contrastive triplet mining: most-similar near-dup positive +
    // hash-drawn verified-non-dup negative per anchor — the reproducible
    // (a, p, n) export behind embedding-model training
    "x101_triplet_mine" -> ((s, d) =>
      graft.operators.Sampling.tripletMine(Tables.load(s, d, "documents"))),
    // perceptual-hash (aHash) image dedup over binary payloads: fused
    // codegen thumbnail-mean fingerprint + banded Hamming pairs over a
    // planted perturbed-twin corpus — integer-exact, replayed in SQL
    "x64_ahash_neardup" -> ((s, d) =>
      graft.operators.Multimodal.ahashNearDupPairs(Tables.load(s, d, "documents"))),
    // JSONL write -> explicit-schema read -> per-source content
    // fingerprints; the oracle computes the same over the ORIGINAL parquet,
    // so the round trip must preserve every row and every text byte
    "x41_jsonl_roundtrip" -> ((s, d) => graft.sources.Jsonl.roundtripSummary(s, d)),
    // same contract over ORC (Spark-native vectorized read/write): the
    // columnar interchange sibling of x41, same oracle over the original
    "x53_orc_roundtrip" -> ((s, d) => graft.sources.Jsonl.orcRoundtripSummary(s, d)),
    // small-files compaction: 64-file fragmented copy -> one shuffle-free
    // coalesce write -> 4 files; fingerprints prove content identity, the
    // booleans prove the fragmentation and the collapse were real
    "x42_compaction" -> ((s, d) => graft.sources.Compaction.compactionSummary(s, d)),
    // schema evolution: a late-added column mergeSchema-reads as NULL for
    // old-wave files; the oracle reproduces exactly which rows carry it
    "x43_schema_evolution" -> ((s, d) =>
      graft.sources.Compaction.schemaEvolutionSummary(s, d)),
    // the fully-oracled curation funnel: holdout -> PII scrub -> length
    // gate -> norm-key dedup -> 8-gram decontam -> split, every stage
    // deterministic so the COMPOSITION sits in the driver's hash gate
    "x44_curation_funnel" -> ((s, d) => graft.queries.Curation.oracledFunnel(s, d)),
    // every feed file delivered twice; watermarked streaming dedup reduces
    // the stream back to exactly-once, oracled against the UNduplicated table
    "x45_stream_exactly_once" -> ((s, d) =>
      graft.queries.StreamingQueries.exactlyOnce(s, d)),
    // coverage of the corpus's own top-50 vocabulary (x19's exact
    // definition); LIMIT-k vocab side is broadcast-safe by construction
    "x46_oov_rate" -> ((s, d) => TextAnalysis.oovRate(Tables.load(s, d, "documents"))),
    // deterministic BPE training: 10 exact frequency-weighted merges over
    // the word-type dictionary (count-desc, lexicographic tie-break);
    // the learned merge table replays round-for-round in SQL
    "x102_bpe_train" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.operators.Bpe.mergeTable(s, graft.operators.Bpe.train(s, docs, BpeMerges))
    }),
    // the trained tokenizer applied to every document: shuffle-free
    // per-word replace-chain encode; per-doc subword token counts + an
    // md5 of the full encoded sequence pin the exact tokenization
    "x103_bpe_encode" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.operators.Bpe.encodeDocs(docs,
        graft.operators.Bpe.trainFast(s, docs, BpeMerges))
    }),
    // product-quantization codebook training: independent fixed-point
    // k-means per contiguous subspace (4x16 over the dominant 64-dim) —
    // the compressed-index model behind memory-bounded ANN at corpus scale
    "x107_pq_train" -> ((s, d) =>
      graft.operators.ProductQuantization.codebook(Tables.load(s, d, "embeddings"))),
    // IVFADC search: full-dimension coarse quantizer (CoarseK cells) with
    // NProbe multi-probe as the inverted-list key, residual-trained PQ
    // codebooks, exact-query-side LUT distances summed over the probed
    // cells' compressed codes
    "x108_pq_adc_topk" -> ((s, d) =>
      graft.operators.ProductQuantization.adcTopK(Tables.load(s, d, "embeddings"))),
    // trained quality classifier: 3 batch-perceptron rounds in exact
    // integer arithmetic over weak labels — learned weights + per-round
    // update counts replay round-for-round in SQL
    "x109_perceptron_train" -> ((s, d) =>
      graft.operators.Classifier.trainTable(s, Tables.load(s, d, "documents"))),
    // the trained model scoring the whole corpus: per-source confusion
    // counts of sign(w.x) against the weak labels — all integers
    "x110_perceptron_gate" -> ((s, d) =>
      graft.operators.Classifier.confusionBySource(Tables.load(s, d, "documents"))),
    // x38's packing layout denominated in REAL subword tokens (x103's
    // trained tokenizer) — the layout a trainer actually consumes.
    // trainFast ≡ train (BpeSpec pins it; this row's oracle re-gates it
    // at corpus scale) but skips the per-merge shuffle cadence.
    "x111_bpe_packing" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.operators.Sampling.bpeSequencePacking(docs,
        graft.operators.Bpe.trainFast(s, docs, BpeMerges))
    }),
    // BPE training at realistic merge depth: the pair-count/heap
    // formulation (one distributed corpus pass → frequency-truncated
    // dictionary → driver merge loop with incremental pair counts), asked
    // for DeepBpeMerges=128 and stopping at dictionary exhaustion
    // (106/107 learnable rounds on the fixtures) — gated merge-for-merge
    // against the same unrolled oracle shape as x102
    "x112_bpe_train_deep" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      graft.operators.Bpe.mergeTable(s,
        graft.operators.Bpe.trainFast(s, docs, DeepBpeMerges))
    }),
    // IVFADC searched over the CLUSTERED-neighbor fixture (planted known
    // neighbor graph derived deterministically from the corpus) at
    // top-10, with the per-hit cluster-identity flag — pins that the
    // index finds structure where structure exists, not just that the
    // arithmetic replays; recall@10 vs exact on the same fixture at
    // 1x/3x/10x is in BASELINE.md, Round 16 pqrecall
    "x113_pq_clustered_topk" -> ((s, d) => {
      val fix = graft.operators.ProductQuantization.clusteredFixture(
        Tables.load(s, d, "embeddings"))
      graft.operators.ProductQuantization.adcTopK(fix, topK = 10)
        .withColumn("same_cluster", org.apache.spark.sql.functions.expr(
          s"cast(case when q_id div ${graft.operators.ProductQuantization.IdStride} " +
            s"= c_id div ${graft.operators.ProductQuantization.IdStride} then 1 else 0 end as int)"))
    }),
    // IVFADC with exact re-ranking over the ADC shortlist (IVFADC-R) —
    // the production top-k configuration: ADC separates neighbors from
    // non-neighbors (99% of x113's hits land in the right cluster) but
    // saturates at ~0.66-0.70 recall@10 ORDERING them at ANY code size
    // (K=16 and K=256 measure the same); the 4x-topK exact re-rank
    // restores ordering fidelity at per-query-constant cost
    "x114_pq_rerank_topk" -> ((s, d) => {
      val fix = graft.operators.ProductQuantization.clusteredFixture(
        Tables.load(s, d, "embeddings"))
      graft.operators.ProductQuantization.adcRerankTopK(fix, topK = 10)
        .withColumn("same_cluster", org.apache.spark.sql.functions.expr(
          s"cast(case when q_id div ${graft.operators.ProductQuantization.IdStride} " +
            s"= c_id div ${graft.operators.ProductQuantization.IdStride} then 1 else 0 end as int)"))
    }),
    // incremental IVFADC (the x31/x49 posture for the production index):
    // coarse centroids + residual codebooks + day-0 inverted lists are
    // PERSISTED stores trained without the batch slice; per run only the
    // new batch coarse-assigns and PQ-encodes against the frozen
    // broadcast model, its codes union into the scanned lists, and the
    // held-out queries search the merged index — the corpus is never
    // re-read, re-residualized or re-trained
    "x115_incremental_ivfadc" -> ((s, d) =>
      graft.operators.IncrementalPq.incrementalAdcTopK(s, d)),
    // incremental IVFADC WITH exact re-ranking (IVFADC-R against frozen
    // stores): x115's store-backed merged-list search composed with
    // x114's refinement — the per-query ADC shortlist re-ranks by exact
    // fixed-point distance against a FOURTH persisted store (the day-0
    // original vectors, bucketed by their home-list key) plus the
    // in-flight batch's own vectors, so daily ingest gets
    // retrieval-grade recall without re-reading, re-residualizing or
    // retraining the corpus
    "x116_incremental_rerank" -> ((s, d) =>
      graft.operators.IncrementalPq.incrementalRerankTopK(s, d)),
    // multi-day maintenance of the incremental index: day-1/day-2 code
    // deltas appended idempotently against the frozen model, compacted
    // with last-writer-wins per (c_id, sub) into ONE bounded-file
    // generation; the search reads the compacted lists with NO per-run
    // encode — the days partition the x115 batch, so the values equal
    // x115's by construction and the compactor sits inside the hash gate
    "x117_multiday_compaction" -> ((s, d) =>
      graft.operators.IncrementalPq.compactedAdcTopK(s, d)),
    // x115's ingest run CONTINUOUSLY (the x106 posture for the
    // production index): arriving vectors encode per micro-batch against
    // the frozen broadcast model in a stateless foreachBatch map with
    // idempotent per-batch delta dirs — zero streaming state — and the
    // merged search consumes the stream-encoded codes, so the row
    // shares x115's oracle verbatim
    "x118_stream_pq_encode" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingIncrementalPq(s, d)),
    // the full-circle maintenance composition: the compacted multi-day
    // index (x117) searched WITH exact re-ranking (x116) — day vector
    // deltas compact beside the code deltas, so the index keeps
    // retrieval-grade recall through append/compact/delete cycles
    // instead of silently demoting to plain-ADC ordering; default
    // horizon equals x116's values, sharing its oracle
    "x119_multiday_rerank" -> ((s, d) =>
      graft.operators.IncrementalPq.compactedRerankTopK(s, d)),
    // stream-fed maintenance (the r19 verdict's last seam): both day
    // deltas of the multi-day index arrive THROUGH the x118 streaming
    // encode and persist in the day-store shape, the x117 compactor
    // merges them into one bounded-file generation, and the search reads
    // the compacted lists — "stream all day, compact at night" in one
    // hash gate; values equal x115's by construction (days partition the
    // batch; stream-encode is micro-batch-placement-independent), so the
    // row shares its oracle verbatim
    "x120_stream_fed_compaction" -> ((s, d) =>
      graft.queries.StreamingQueries.streamingCompactedPq(s, d))
  )

  /** Merge-table depth shared by the x102/x103 Spark rows and their
    * oracle unrolls — one constant, so they cannot drift.
    */
  private val BpeMerges = 10

  /** Merge depth of the x112 deep-training row — past the fixtures'
    * exhaustion point (106/107 learnable merges), so the row also gates
    * the early-stop semantics: Spark's truncated merge table must equal
    * the oracle's, whose post-exhaustion rounds go empty through the
    * cross-join-with-empty-`m_i` chain.
    */
  private val DeepBpeMerges = 128

  /** DuckDB-equivalent SQL per query (same column names/types/order-by as
    * the Spark result — the driver sorts columns by name and hashes values).
    * EVERY query has an oracle — including the hash-family-internal ones:
    * [[MinhashLshCte]] replays the whole MinHash-LSH pipeline (packed-
    * shingle mix64, coefficient derivation, permutation minima, banding,
    * star-edge capping, exact-Jaccard verification) bit-for-bit in DuckDB
    * SQL, so x4's raw pair set, x18's raw cluster labels (pairs resolved
    * through the x20 recursive CTE), and x17's composed curation funnel
    * (LSH losers + quality gate + embedding join + retention report) are
    * all value-checked against independent recomputations. x8's IVF row —
    * for eleven rounds the ledger's one boolean gate, because float
    * centroid sums depend on reduction order — now hash-gates too: the
    * centroids accumulate in fixed point (floor(x·10⁶), integral doubles,
    * exact addition ⇒ order-independent), so DuckDB replays them exactly
    * and the recall floor moved to IvfSpec. x5/x25 likewise:
    * [[SimhashOracleCte]] replays the
    * FNV-1a + mix64 simhash kernel bit-for-bit in DuckDB SQL, so the
    * fingerprints are value-checked and the banded pair query is checked
    * against the BRUTE-FORCE Hamming<=3 pair set (pigeonhole: Hamming<=3
    * with 4 bands guarantees a band match, so banding must be a pure
    * optimization — the oracle proves it, not just a recall test). The
    * q2_* FSM queries oracle against the committed golden fixtures (the
    * same files the byte-exact TaxiGoldenSpec pins), so the reference's
    * flagship pipeline is in the driver's hard signal too.
    */

  /** DuckDB replica of [[graft.functions.ArrayExpressions.SimHash64]], used
    * by the x5/x25 oracles: whitespace tokens (fixture text is ASCII with
    * no edge whitespace, so `unicode` per char IS the UTF-8 byte and
    * DuckDB's split agrees with Java's), FNV-1a 64 per token, splitmix-style
    * mix64 finalizer, ±1 votes per bit position, sign vector → fingerprint.
    * All arithmetic in the unsigned HUGEINT domain mod 2^64; the two mix64
    * multiplications are split at 2^32 because (2^64-1)·c overflows even
    * HUGEINT. `fps` ends with (doc_id, fpu) where fpu is the unsigned
    * fingerprint; `pw(j, p)` is the 2^j table.
    */
  private val SimhashOracleCte: String =
    """WITH RECURSIVE pw(j, p) AS (
      |  SELECT 0, 1::HUGEINT UNION ALL SELECT j + 1, p * 2 FROM pw WHERE j < 63
      |),
      |toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents
      |),
      |fnv AS (
      |  SELECT doc_id,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        list_transform(range(1, length(tok) + 1), i -> unicode(tok[i])::HUGEINT)),
      |      (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616
      |    ) AS v
      |  FROM toks
      |),
      |m1 AS (SELECT doc_id, xor(v, v // 1073741824) AS x FROM fnv),
      |m2 AS (SELECT doc_id, ((x % 4294967296) * 13787848793156543929
      |        + (((x // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
      |        % 18446744073709551616 AS x FROM m1),
      |m3 AS (SELECT doc_id, xor(x, x // 134217728) AS x FROM m2),
      |m4 AS (SELECT doc_id, ((x % 4294967296) * 10723151780598845931
      |        + (((x // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
      |        % 18446744073709551616 AS x FROM m3),
      |hashed AS (SELECT doc_id, xor(x, x // 2147483648) AS h FROM m4),
      |bits AS (
      |  SELECT doc_id, j, sum(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
      |  FROM hashed CROSS JOIN pw GROUP BY doc_id, j
      |),
      |fps AS (
      |  SELECT doc_id, sum(CASE WHEN cnt > 0 THEN p ELSE 0::HUGEINT END) AS fpu
      |  FROM bits JOIN pw USING (j) GROUP BY doc_id
      |)""".stripMargin

  /** Two's-complement BIGINT view of the unsigned fingerprint `e`. */
  private def signed64(e: String): String =
    s"CAST(CASE WHEN $e >= 9223372036854775808 THEN $e - 18446744073709551616 ELSE $e END AS BIGINT)"

  /** DuckDB replica of the WHOLE MinHash-LSH pipeline
    * ([[graft.operators.Dedup.minhashLshPairs]], numPerms=32 / 4 rows per
    * band / maxBucket=64), ending in a `pairs(doc_a, doc_b, jaccard)` CTE —
    * used by the x4/x17/x18 oracles so the raw LSH outputs (pair sets,
    * cluster labels, dedup-loser filtering) are value-checked against an
    * independent SQL recomputation, stage for stage:
    *
    *  1. `shing`/`packed`/`m1..m4`/`shash`: distinct character trigrams,
    *     code points packed 21 bits each (`ShingleHashesSorted`'s injective
    *     packing), then the splitmix64 finalizer — the same mix64 HUGEINT
    *     chain the x5/x25 simhash oracle uses (multiplications split at
    *     2^32; all arithmetic mod 2^64);
    *  2. `seeds`/`c1..c4`/`cm`/`coefs`: the MinHash coefficient derivation
    *     (`ArrayExpressions.MinHash`: abs(mix64(seed + φ·(i+1))) mod (p−1)
    *     + 1, seeds 42/4242) replayed so the hash family itself is
    *     recomputed, not copied in as constants;
    *  3. `hmod`/`mh`/`bands`: Java-semantics `((h mod p) + p) mod p`, the
    *     32 permutation minima (a·h+b mod p — products < 2^62, exact in
    *     BIGINT), grouped into 8 bands of 4. The engine hashes each band
    *     slice through xxhash64 to ONE signature; the oracle groups by the
    *     raw slice, which is equal-up-to-xxhash64-collision (~2^-64,
    *     fixture-checked bit-exact at sf0.001/0.01/0.1);
    *  4. `mem`/`cand`: bucket membership with the maxBucket=64 star-edge
    *     policy — ≤64 ⇒ all pairs, >64 ⇒ hub(min doc_id) edges;
    *  5. `pairs`: exact-Jaccard verification at `threshold` on distinct
    *     trigram STRING sets (injectivity makes hashed and string
    *     intersection counts equal by construction), rounded to 6.
    *
    * `pairs` is MATERIALIZED: the x18 oracle's recursive reachability
    * references its edge list every iteration, and DuckDB would otherwise
    * inline (re-run) the whole LSH pipeline per step.
    */
  private def MinhashLshCte(threshold: Double): String =
    "WITH RECURSIVE " + MinhashLshBody(threshold, "documents")

  /** The LSH pipeline as a CTE LIST (no WITH prefix) over `rel`, ending
    * at `pairs` — parameterized so the x100 funnel can run the identical
    * pipeline over its gated survivor relation.
    */
  private def MinhashLshBody(threshold: Double, rel: String): String =
    s"""shing AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, length(text) - 1),
       |         i -> substring(text, CAST(i AS int), 3)))) AS sh
       |  FROM $rel WHERE length(text) >= 3
       |),
       |packed AS (
       |  SELECT doc_id,
       |    (unicode(substring(sh,1,1))::HUGEINT
       |     + unicode(substring(sh,2,1))::HUGEINT * 2097152
       |     + unicode(substring(sh,3,1))::HUGEINT * 4398046511104) AS v
       |  FROM shing
       |),
       |m1 AS (SELECT doc_id, xor(v, v // 1073741824) AS x FROM packed),
       |m2 AS (SELECT doc_id, ((x % 4294967296) * 13787848793156543929
       |        + (((x // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
       |        % 18446744073709551616 AS x FROM m1),
       |m3 AS (SELECT doc_id, xor(x, x // 134217728) AS x FROM m2),
       |m4 AS (SELECT doc_id, ((x % 4294967296) * 10723151780598845931
       |        + (((x // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
       |        % 18446744073709551616 AS x FROM m3),
       |shash AS (SELECT doc_id, xor(x, x // 2147483648) AS hu FROM m4),
       |hmod AS (
       |  SELECT doc_id,
       |    (((CASE WHEN hu >= 9223372036854775808 THEN hu - 18446744073709551616 ELSE hu END)
       |      % 2147483647) + 2147483647) % 2147483647 AS h
       |  FROM shash
       |),
       |seeds AS (
       |  SELECT j, which, ((CASE which WHEN 'a' THEN 42 ELSE 4242 END)::HUGEINT
       |         + 11400714819323198485::HUGEINT * (j + 1)) % 18446744073709551616 AS v
       |  FROM range(0, 32) t(j), (VALUES ('a'), ('b')) w(which)
       |),
       |c1 AS (SELECT j, which, xor(v, v // 1073741824) AS x FROM seeds),
       |c2 AS (SELECT j, which, ((x % 4294967296) * 13787848793156543929
       |        + (((x // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
       |        % 18446744073709551616 AS x FROM c1),
       |c3 AS (SELECT j, which, xor(x, x // 134217728) AS x FROM c2),
       |c4 AS (SELECT j, which, ((x % 4294967296) * 10723151780598845931
       |        + (((x // 4294967296) * 10723151780598845931) % 4294967296) * 4294967296)
       |        % 18446744073709551616 AS x FROM c3),
       |cm AS (SELECT j, which, xor(x, x // 2147483648) AS u FROM c4),
       |coefs AS (
       |  SELECT j,
       |    max(CASE WHEN which='a' THEN abs(CASE WHEN u >= 9223372036854775808
       |        THEN u - 18446744073709551616 ELSE u END) % 2147483646 + 1 END) AS a,
       |    max(CASE WHEN which='b' THEN abs(CASE WHEN u >= 9223372036854775808
       |        THEN u - 18446744073709551616 ELSE u END) % 2147483646 + 1 END) AS b
       |  FROM cm GROUP BY j
       |),
       |mh AS (
       |  SELECT s.doc_id, c.j, CAST(min((c.a * s.h + c.b) % 2147483647) AS BIGINT) AS mv
       |  FROM hmod s CROSS JOIN coefs c GROUP BY s.doc_id, c.j
       |),
       |bands AS (
       |  SELECT doc_id, j // 4 AS band, list(mv ORDER BY j) AS sig
       |  FROM mh GROUP BY doc_id, j // 4
       |),
       |mem AS (
       |  SELECT band, sig, doc_id,
       |         count(*) OVER (PARTITION BY band, sig) AS n,
       |         min(doc_id) OVER (PARTITION BY band, sig) AS hub
       |  FROM bands
       |),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM mem a JOIN mem b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |    WHERE a.n <= 64
       |    UNION ALL
       |    SELECT hub, doc_id FROM mem WHERE n > 64 AND doc_id <> hub
       |  )
       |),
       |sets AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
       |         i -> substring(text, CAST(i AS int), 3))) AS s
       |  FROM $rel WHERE length(text) >= 3
       |),
       |pairs AS MATERIALIZED (
       |  SELECT doc_a, doc_b, round(CAST(ix AS double) / (la + lb - ix), 6) AS jaccard
       |  FROM (
       |    SELECT doc_a, doc_b, len(list_intersect(a.s, b.s)) AS ix,
       |           len(a.s) AS la, len(b.s) AS lb
       |    FROM cand JOIN sets a ON cand.doc_a = a.doc_id JOIN sets b ON cand.doc_b = b.doc_id)
       |  WHERE CAST(ix AS double) / (la + lb - ix) >= $threshold
       |)""".stripMargin

  /** DuckDB replica of the hyperplane index
    * ([[graft.operators.Similarity.tableBuckets]], 6 bits × 8 tables):
    * per-bit sign lists from the same splitmix-style hash of (bit,
    * 2^20-strided index) the engine's `hyperplane_bucket` expression
    * computes, projections via `list_dot_product` over each vector's own
    * length (bit-exact vs the engine's fused left fold — verified on
    * every (vector, bit) sign at sf0.01/sf0.1), per-table buckets
    * assembled in exact integer arithmetic (`1::BIGINT << b` — a float
    * `2.0**b` sum would silently lose low bits). Ends at a
    * `tb(vec_id, sz, t, bucket)` CTE; x48/x49 append their candidate
    * restriction and [[AnnRankSql]].
    */
  private val HyperplaneCte: String = hyperplaneCte("", "embeddings")

  /** The CDC merge/upsert oracle — shared verbatim by q30 (batch) and
    * x61 (streaming), because the streaming apply's contract is equality
    * with the batch merge, not approximation.
    */
  private val CdcUpsertOracleSql: String =
    """WITH last AS (
      |  SELECT user_id, event_type AS last_type, value AS last_value
      |  FROM events
      |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) = 1),
      |snap AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 2)
      |SELECT coalesce(c_custkey, user_id) AS key,
      |       round(CASE WHEN user_id IS NULL THEN c_acctbal ELSE last_value END, 2) AS acctbal,
      |       CASE WHEN user_id IS NULL THEN 'keep'
      |            WHEN c_custkey IS NULL THEN 'insert'
      |            ELSE 'update' END AS op
      |FROM snap FULL JOIN last ON c_custkey = user_id
      |WHERE last_type IS NULL OR last_type <> 'error'
      |ORDER BY key""".stripMargin

  /** [[HyperplaneCte]] generalized: `extraCtes` (trailing comma included
    * by this builder) lets a caller derive the vector source itself as a
    * CTE — x54 replays the index over a corpus-with-planted-twins
    * relation instead of the raw `embeddings` table.
    */
  private def hyperplaneCte(extraCtes: String, src: String): String =
    s"""WITH ${if (extraCtes.isEmpty) "" else extraCtes + ",\n"}grid AS (
      |  SELECT b, unnest(range(0, (SELECT CAST(max(len(embedding)) AS BIGINT) FROM $src))) AS i
      |  FROM range(0, 48) t(b)
      |),
      |raw AS (
      |  SELECT b, i,
      |    (11400714819323198485::HUGEINT * (b::HUGEINT * 1048576 + i + 1)) % 18446744073709551616 AS x
      |  FROM grid
      |),
      |m AS (SELECT b, i, xor(x, x // 1073741824) AS y FROM raw),
      |m2 AS (
      |  SELECT b, i, ((y % 4294967296) * 13787848793156543929
      |        + (((y // 4294967296) * 13787848793156543929) % 4294967296) * 4294967296)
      |        % 18446744073709551616 AS z FROM m
      |),
      |sgn AS (SELECT b, i, CASE WHEN xor(z, z // 134217728) % 2 = 0 THEN -1.0 ELSE 1.0 END AS s FROM m2),
      |signs AS (SELECT b, list(s ORDER BY i) AS sv FROM sgn GROUP BY b),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(len(embedding) AS INT) AS sz FROM $src),
      |proj AS (
      |  SELECT e.vec_id, e.sz, s.b, list_dot_product(e.v, s.sv[1:e.sz]) AS p
      |  FROM e CROSS JOIN signs s
      |),
      |tb AS (
      |  SELECT vec_id, sz, b // 6 AS t,
      |         sum(CASE WHEN p > 0 THEN (1::BIGINT << CAST(b % 6 AS INT)) ELSE 0::BIGINT END) AS bucket
      |  FROM proj GROUP BY vec_id, sz, b // 6
      |)""".stripMargin

  /** x7's exact-cosine ranking over a `cand(probe_id, cand_id)` CTE —
    * the shared tail of the x48/x49 oracles.
    */
  private val AnnRankSql: String =
    """,
      |s AS (
      |  SELECT probe_id, cand_id, list_cosine_similarity(pe.v, ce.v) AS rawsim
      |  FROM cand JOIN e pe ON cand.probe_id = pe.vec_id JOIN e ce ON cand.cand_id = ce.vec_id
      |  WHERE NOT isnan(list_cosine_similarity(pe.v, ce.v)))
      |SELECT probe_id, cand_id, round(rawsim, 4) AS sim,
      |       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) AS int) AS rank
      |FROM s
      |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) <= 5
      |ORDER BY probe_id, rank""".stripMargin

  /** The x75 oracle: all ten fixed-point iterations UNROLLED as stacked
    * CTEs (generated, one c/r pair per iteration) — pure integer
    * arithmetic end to end, so the replay is exact, not approximate.
    */
  private val PageRankOracle: String = {
    // every CTE MATERIALIZED: DuckDB inlines plain CTEs, and r(i) refers
    // to r(i-1) twice, so un-materialized nesting re-evaluates the whole
    // chain 2^10 times (measured: minutes, vs ~1 s materialized)
    val base =
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS MATERIALIZED (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS w
        |      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |e AS MATERIALIZED (SELECT pa AS src, pb AS dst, w FROM p UNION ALL SELECT pb, pa, w FROM p),
        |ow AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |r0 AS MATERIALIZED (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM ow)""".stripMargin
    val iters = (1 to 10).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT e.dst, CAST(sum(r${i - 1}.r * e.w // ow.wout) AS BIGINT) AS s
         |       FROM e JOIN ow USING (src) JOIN r${i - 1} ON r${i - 1}.node = e.src
         |       GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT r${i - 1}.node,
         |         CAST(150000 + 85 * coalesce(c$i.s, 0) // 100 AS BIGINT) AS r
         |       FROM r${i - 1} LEFT JOIN c$i ON c$i.dst = r${i - 1}.node)""".stripMargin
    }.mkString
    base + iters +
      "\nSELECT node AS l_partkey, r AS rank_scaled FROM r10 ORDER BY r DESC, node LIMIT 20"
  }

  /** The x91 oracle: three Lloyd iterations UNROLLED (the x75 pattern) —
    * fixed-point quantization, exact integral per-cell sums, one floored
    * IEEE quotient per centroid component, exact integer distances, the
    * identical (distance, cell) argmin tie-break. Every stage
    * MATERIALIZED: a(i) is read by both the centroid sums and the counts
    * of iteration i+1, and un-materialized nesting re-evaluates the whole
    * chain exponentially (the PageRankOracle lesson).
    */
  /** Per-iteration Lloyd CTE pieces shared by x91 and x98: `centroidCtes`
    * builds cn/ct/cx of iteration `i` FROM a(i−1); `assignCte` builds
    * a(i) by arg-min over cx(i). `src` restricts which vectors an
    * assignment stage covers (training slice vs everyone).
    */
  /** The DSIR scoring pipeline as a CTE LIST (no WITH prefix) over `rel`,
    * ending at `wd` (per-raw-doc exact weights) and `nr` (raw count) —
    * parameterized so the x100 funnel scores its gated survivor pool
    * with the identical model arithmetic.
    */
  private def DsirCtes(rel: String): String =
    s"""t0 AS (
       |  SELECT doc_id, source, unnest(generate_series(1, len(arr))) AS p0, unnest(arr) AS token
       |  FROM (SELECT doc_id, source, regexp_split_to_array(lower(text), '\\s+') AS arr FROM $rel)),
       |t1 AS (SELECT doc_id, source, p0, token FROM t0 WHERE token != ''),
       |bi AS (
       |  SELECT doc_id, source, token AS w1,
       |         lead(token) OVER (PARTITION BY doc_id ORDER BY p0) AS w2
       |  FROM t1),
       |dbf AS (
       |  SELECT doc_id, CAST(substr(source, 4) AS INT) < 10 AS in_t,
       |         ('0x' || substr(md5(w1 || ' ' || w2), 1, 8))::BIGINT % 1024 AS f
       |  FROM bi WHERE w2 IS NOT NULL),
       |dtf AS (SELECT doc_id, in_t, f, CAST(count(*) AS BIGINT) AS cnt
       |        FROM dbf GROUP BY doc_id, in_t, f),
       |fc AS (SELECT f,
       |         CAST(sum(CASE WHEN in_t THEN cnt ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(sum(CASE WHEN NOT in_t THEN cnt ELSE 0 END) AS BIGINT) AS c_s
       |       FROM dtf GROUP BY f),
       |tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t, CAST(sum(c_s) AS BIGINT) AS n_s FROM fc),
       |lam AS (
       |  SELECT f, CAST(floor(ln(((c_t + 1.0) / (n_t + 1024)) / ((c_s + 1.0) / (n_s + 1024)))
       |         * 1000000.0) AS BIGINT) AS lam
       |  FROM fc, tot),
       |wd AS (
       |  SELECT dtf.doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
       |         CAST(sum(cnt * lam) AS BIGINT) AS weight_micro
       |  FROM dtf JOIN lam USING (f) WHERE NOT in_t GROUP BY dtf.doc_id),
       |nr AS (SELECT count(*) AS n_raw FROM wd)""".stripMargin

  private def kmCentroidCtes(i: Int): String =
    s""",
       |cn$i AS (SELECT cell, count(*) AS n FROM a${i - 1} GROUP BY cell),
       |ct$i AS MATERIALIZED (
       |  SELECT sx.cell, list(floor(sx.s / cn$i.n) ORDER BY sx.di) AS c
       |  FROM (SELECT a.cell, p.di, sum(p.xi) AS s
       |        FROM a${i - 1} a JOIN px p USING (vec_id) GROUP BY 1, 2) sx
       |  JOIN cn$i USING (cell) GROUP BY sx.cell, cn$i.n),
       |cx$i AS MATERIALIZED (
       |  SELECT cell, unnest(generate_series(1, len(c))) AS di, unnest(c) AS ci FROM ct$i)""".stripMargin

  private def kmAssignCte(name: String, i: Int, src: String): String =
    s""",
       |$name AS MATERIALIZED (
       |  SELECT p.vec_id, c.cell, CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT) AS d2
       |  FROM $src p JOIN cx$i c USING (di) GROUP BY p.vec_id, c.cell
       |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT), c.cell) = 1)""".stripMargin

  /** The x98 held-out query/corpus split as SQL, interpolating
    * [[graft.operators.ProductQuantization.QueryMod]]/`QueryRem` — the
    * oracle CTEs and the engine predicate share ONE definition and
    * cannot drift (r17 verdict #5; the EpsBase/IdStride precedent).
    */
  private def isQuerySql(c: String = "vec_id"): String =
    s"$c % ${graft.operators.ProductQuantization.QueryMod} = ${graft.operators.ProductQuantization.QueryRem}"
  private def isCorpusSql(c: String = "vec_id"): String =
    s"$c % ${graft.operators.ProductQuantization.QueryMod} <> ${graft.operators.ProductQuantization.QueryRem}"

  /** Base + `iters` unrolled Lloyd iterations over the `trainFilter`ed
    * slice, ending at a{iters}. Training assignments join px through the
    * a(i−1) ids, so the slice restriction carries through every stage.
    */
  private def kmeansOracleCte(trainFilter: String, iters: Int): String = {
    val base =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |dd AS (SELECT len(v) AS dom_sz FROM e GROUP BY len(v) ORDER BY count(*) DESC, len(v) LIMIT 1),
         |pts AS MATERIALIZED (
         |  SELECT vec_id, list_transform(v, x -> floor(x * CAST(1000000 AS DOUBLE))) AS fv
         |  FROM e, dd WHERE len(v) = dom_sz),
         |px AS MATERIALIZED (
         |  SELECT vec_id, unnest(generate_series(1, len(fv))) AS di, unnest(fv) AS xi FROM pts),
         |tpx AS MATERIALIZED (SELECT * FROM px$trainFilter),
         |a0 AS MATERIALIZED (SELECT vec_id, CAST(vec_id % 8 AS INT) AS cell FROM pts$trainFilter)""".stripMargin
    base + (1 to iters).map(i => kmCentroidCtes(i) + kmAssignCte(s"a$i", i, "tpx")).mkString
  }

  private val KMeansOracle: String =
    kmeansOracleCte("", 3) +
      "\nSELECT vec_id, cell, d2 AS dist2 FROM a3 ORDER BY vec_id"

  /** The x98 oracle: 3 training iterations over the corpus slice, one
    * more centroid update (the "trained model"), then EVERYONE assigns
    * under those frozen centroids and the per-cell occupancy rolls up.
    */
  private val KMeansDriftOracle: String =
    kmeansOracleCte(s" WHERE ${isCorpusSql()}", 3) +
      kmCentroidCtes(4) + kmAssignCte("srv", 4, "px") +
      s""",
        |cnts AS (SELECT cell,
        |    CAST(sum(CASE WHEN ${isCorpusSql()} THEN 1 ELSE 0 END) AS BIGINT) AS n_corpus,
        |    CAST(sum(CASE WHEN ${isQuerySql()} THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
        |  FROM srv GROUP BY cell),
        |tot AS (SELECT CAST(sum(n_corpus) AS BIGINT) AS t_corpus,
        |               CAST(sum(n_batch) AS BIGINT) AS t_batch FROM cnts)
        |SELECT cell, n_corpus, n_batch,
        |  CAST(n_corpus AS DOUBLE) / t_corpus AS share_corpus,
        |  CAST(n_batch AS DOUBLE) / t_batch AS share_batch
        |FROM cnts, tot ORDER BY cell""".stripMargin

  /** The raw source CTE every PQ oracle starts from: `e(vec_id, v)`
    * straight off the embeddings table.
    */
  private val PqRawE: String =
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** x113's source CTE: the clustered-neighbor fixture derived in SQL —
    * the same center-stride / member-count / ε / cyclic-shift geometry as
    * `ProductQuantization.clusteredFixture`, constants interpolated from
    * the operator so they cannot drift. One double mul + add per
    * component from literal ε — bit-identical to the Spark derivation.
    */
  private val PqClusteredE: String = {
    val pq = graft.operators.ProductQuantization
    val stride = pq.ClusterStride
    val members = pq.ClusterMembers
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dd0 AS (SELECT len(v) AS dom_sz FROM e0 GROUP BY len(v) ORDER BY count(*) DESC, len(v) LIMIT 1),
       |cen AS MATERIALIZED (
       |  SELECT vec_id AS g, v FROM e0, dd0 WHERE len(v) = dom_sz AND vec_id % $stride = 0),
       |e AS MATERIALIZED (
       |  SELECT g * ${pq.IdStride} + m AS vec_id,
       |    list_transform(generate_series(1, len(v)), i ->
       |      v[i] + (CAST(${pq.EpsBase} AS DOUBLE) + CAST(${pq.EpsStep} AS DOUBLE) * CAST(m % ${pq.EpsMod} AS DOUBLE))
       |             * v[((i - 1 + m + 1) % len(v)) + 1]) AS v
       |  FROM cen, (SELECT unnest(generate_series(0, ${members - 1})) AS m) mm)""".stripMargin
  }

  /** Shared PQ oracle base: fixed-point dominant-dim points over a
    * caller-supplied `e(vec_id, v)` definition.
    */
  private def pqBaseCtes(eCtes: String): String =
    eCtes +
      """,
        |dd AS (SELECT len(v) AS dom_sz FROM e GROUP BY len(v) ORDER BY count(*) DESC, len(v) LIMIT 1),
        |pts AS MATERIALIZED (
        |  SELECT vec_id, list_transform(v, x -> floor(x * CAST(1000000 AS DOUBLE))) AS fv
        |  FROM e, dd WHERE len(v) = dom_sz)""".stripMargin

  /** Subspace split + `iters` unrolled Lloyd rounds over a per-dimension
    * relation `pdx` (vec_id, di, xi) — raw components for x107, coarse
    * residuals for x108. Geometry comes from the operator's own
    * constants, so oracle and implementation cannot drift. Per round:
    * per-(sub, cell) integral sums with one floored quotient per
    * component (pct), exact-integer-d2 argmin with (d2, cell) tie-break
    * (pa). `trainFilter` scopes the training slice (x115: the frozen
    * model trains WITHOUT the new batch, while spx keeps every index
    * vector's residual components for the post-training encode).
    */
  private def pqTrainChain(iters: Int, trainFilter: String = ""): String = {
    val sd = graft.operators.ProductQuantization.SubDim
    val ns = graft.operators.ProductQuantization.NumSub
    val k = graft.operators.ProductQuantization.K
    val base =
      s""",
         |spx AS MATERIALIZED (
         |  SELECT vec_id, CAST((di - 1) // $sd AS INT) AS sub,
         |         CAST((di - 1) % $sd + 1 AS INT) AS sdi, xi
         |  FROM pdx WHERE di <= ${ns * sd}),
         |tspx AS MATERIALIZED (SELECT * FROM spx$trainFilter),
         |pa0 AS MATERIALIZED (
         |  SELECT DISTINCT vec_id, sub, CAST((vec_id + sub) % $k AS INT) AS cell FROM tspx)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |pcn$i AS (SELECT sub, cell, count(*) AS n FROM pa${i - 1} GROUP BY sub, cell),
         |pct$i AS MATERIALIZED (
         |  SELECT sx.sub, sx.cell, sx.sdi, floor(sx.s / pcn$i.n) AS ci
         |  FROM (SELECT a.sub, a.cell, p.sdi, sum(p.xi) AS s
         |        FROM pa${i - 1} a JOIN tspx p ON a.vec_id = p.vec_id AND a.sub = p.sub
         |        GROUP BY 1, 2, 3) sx
         |  JOIN pcn$i ON sx.sub = pcn$i.sub AND sx.cell = pcn$i.cell),
         |pa$i AS MATERIALIZED (
         |  SELECT p.vec_id, p.sub, c.cell,
         |         CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT) AS d2
         |  FROM tspx p JOIN pct$i c ON p.sub = c.sub AND p.sdi = c.sdi
         |  GROUP BY p.vec_id, p.sub, c.cell
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id, p.sub
         |    ORDER BY CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT), c.cell) = 1)""".stripMargin
    }.mkString
    base + rounds
  }

  /** x107: full-corpus training on RAW vectors; the surface is the final
    * codebook (the centroid table the last assignment used), exploded.
    */
  private val PqTrainOracle: String =
    pqBaseCtes(PqRawE) +
      """,
        |pdx AS MATERIALIZED (
        |  SELECT vec_id, unnest(generate_series(1, len(fv))) AS di, unnest(fv) AS xi FROM pts)""".stripMargin +
      pqTrainChain(graft.operators.ProductQuantization.Iters) +
      s"\nSELECT sub, cell, sdi AS di, CAST(ci AS BIGINT) AS ci FROM pct${graft.operators.ProductQuantization.Iters} ORDER BY sub, cell, di"

  /** x108 IVFADC: corpus-slice coarse quantizer (one exact centroid
    * update from the vec_id % CoarseK seeding), corpus vectors 1-NN
    * assigned to their home list and residualized, residual PQ trained
    * on those residuals, held-out queries probe their NProbe nearest
    * cells with a residual PER PROBED CELL, build an exact residual
    * LUT, scan the probed inverted lists, and rank by summed ADC
    * distance with (adc_d2, c_id) tie-break.
    */
  private def pqAdcOracle(eCtes: String, topK: Int,
                          sameCluster: Boolean, rerank: Int = 0,
                          batchPred: Option[String] = None): String = {
    val ck = graft.operators.ProductQuantization.CoarseK
    val np = graft.operators.ProductQuantization.NProbe
    val sd = graft.operators.ProductQuantization.SubDim
    val ns = graft.operators.ProductQuantization.NumSub
    val it = graft.operators.ProductQuantization.Iters
    val ids = graft.operators.ProductQuantization.IdStride
    val extra = if (sameCluster)
      s",\n  CAST(CASE WHEN q_id // $ids = c_id // $ids THEN 1 ELSE 0 END AS INT) AS same_cluster"
    else ""
    // x115 (batchPred set): the model — coarse seeding AND the PQ
    // training chain — excludes the batch slice; the batch still
    // coarse-assigns (casg), residualizes (pdx/spx) and PQ-encodes (enc)
    // against the FROZEN model, and its codes merge into the scanned
    // lists. batchPred = None is the x108/x113/x114 whole-corpus chain,
    // byte-identical to before the parameter existed.
    val trainPred = batchPred.map(b => s" AND NOT ($b)").getOrElse("")
    // codes relation the ADC scan reads: the training assignment for the
    // all-corpus chain; the frozen-codebook encode of EVERY index vector
    // for the incremental chain (for trained vectors the two coincide —
    // the last Lloyd round assigns against the same final codebook)
    val codesRel = if (batchPred.isEmpty) s"pa$it" else "enc"
    pqBaseCtes(eCtes) +
      s""",
         |px AS MATERIALIZED (
         |  SELECT vec_id, unnest(generate_series(1, len(fv))) AS di, unnest(fv) AS xi FROM pts),
         |cc0 AS (SELECT vec_id, CAST(vec_id % $ck AS INT) AS ccell FROM pts WHERE ${isCorpusSql()}$trainPred),
         |ccn AS (SELECT ccell, count(*) AS n FROM cc0 GROUP BY ccell),
         |ccent AS MATERIALIZED (
         |  SELECT sx.ccell, sx.di, floor(sx.s / ccn.n) AS ci
         |  FROM (SELECT c.ccell, p.di, sum(p.xi) AS s
         |        FROM cc0 c JOIN px p USING (vec_id) GROUP BY 1, 2) sx
         |  JOIN ccn USING (ccell)),
         |casg AS MATERIALIZED (
         |  SELECT p.vec_id, c.ccell, CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT) AS d2
         |  FROM (SELECT * FROM px WHERE ${isCorpusSql()}) p JOIN ccent c USING (di)
         |  GROUP BY p.vec_id, c.ccell
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
         |    ORDER BY CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT), c.ccell) = 1),
         |qpr AS MATERIALIZED (
         |  SELECT p.vec_id, c.ccell, CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT) AS d2
         |  FROM (SELECT * FROM px WHERE ${isQuerySql()}) p JOIN ccent c USING (di)
         |  GROUP BY p.vec_id, c.ccell
         |  QUALIFY row_number() OVER (PARTITION BY p.vec_id
         |    ORDER BY CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT), c.ccell) <= $np),
         |pdx AS MATERIALIZED (
         |  SELECT p.vec_id, p.di, p.xi - c.ci AS xi
         |  FROM px p JOIN casg a ON p.vec_id = a.vec_id
         |  JOIN ccent c ON c.ccell = a.ccell AND c.di = p.di)""".stripMargin +
      pqTrainChain(graft.operators.ProductQuantization.Iters,
        batchPred.map(b => s" WHERE NOT ($b)").getOrElse("")) +
      batchPred.map(_ =>
        s""",
           |enc AS MATERIALIZED (
           |  SELECT p.vec_id, p.sub, c.cell
           |  FROM spx p JOIN pct$it c ON p.sub = c.sub AND p.sdi = c.sdi
           |  GROUP BY p.vec_id, p.sub, c.cell
           |  QUALIFY row_number() OVER (PARTITION BY p.vec_id, p.sub
           |    ORDER BY CAST(sum((p.xi - c.ci) * (p.xi - c.ci)) AS BIGINT), c.cell) = 1)""".stripMargin)
        .getOrElse("") +
      s""",
         |qsx AS MATERIALIZED (
         |  SELECT p.vec_id, a.ccell, CAST((p.di - 1) // $sd AS INT) AS sub,
         |         CAST((p.di - 1) % $sd + 1 AS INT) AS sdi, p.xi - c.ci AS xi
         |  FROM px p JOIN qpr a ON p.vec_id = a.vec_id
         |  JOIN ccent c ON c.ccell = a.ccell AND c.di = p.di
         |  WHERE p.di <= ${ns * sd}),
         |lut AS MATERIALIZED (
         |  SELECT q.vec_id AS q_id, q.ccell, c.sub, c.cell,
         |         CAST(sum((q.xi - c.ci) * (q.xi - c.ci)) AS BIGINT) AS d2
         |  FROM qsx q JOIN pct$it c ON q.sub = c.sub AND q.sdi = c.sdi
         |  GROUP BY 1, 2, 3, 4),
         |cand AS MATERIALIZED (
         |  SELECT qa.vec_id AS q_id, qa.ccell, ca.vec_id AS c_id
         |  FROM qpr qa JOIN casg ca USING (ccell)),
         |adc AS MATERIALIZED (
         |  SELECT cand.q_id, cand.c_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
         |  FROM cand
         |  JOIN $codesRel k ON k.vec_id = cand.c_id
         |  JOIN lut l ON l.q_id = cand.q_id AND l.ccell = cand.ccell
         |            AND l.sub = k.sub AND l.cell = k.cell
         |  GROUP BY 1, 2)""".stripMargin +
      (if (rerank <= 0)
        s"""
           |SELECT q_id, rnk, c_id, adc_d2$extra FROM (
           |  SELECT q_id, c_id, adc_d2,
           |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS INT) AS rnk
           |  FROM adc)
           |WHERE rnk <= $topK ORDER BY q_id, rnk""".stripMargin
      else
        // x114: ADC keeps a per-query shortlist of `rerank` ids; only those
        // re-rank by EXACT fixed-point distance on the stored full vectors
        s""",
           |short AS MATERIALIZED (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |           row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, c_id) AS srnk
           |    FROM adc)
           |  WHERE srnk <= $rerank),
           |exd AS MATERIALIZED (
           |  SELECT s.q_id, s.c_id,
           |         CAST(sum((pq.xi - pc.xi) * (pq.xi - pc.xi)) AS BIGINT) AS d2
           |  FROM short s
           |  JOIN px pq ON pq.vec_id = s.q_id
           |  JOIN px pc ON pc.vec_id = s.c_id AND pc.di = pq.di
           |  GROUP BY 1, 2)
           |SELECT q_id, rnk, c_id, d2$extra FROM (
           |  SELECT q_id, c_id, d2,
           |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS INT) AS rnk
           |  FROM exd)
           |WHERE rnk <= $topK ORDER BY q_id, rnk""".stripMargin)
  }

  private val PqAdcOracle: String = pqAdcOracle(PqRawE, 3, sameCluster = false)

  /** x113: the identical IVFADC chain over the SQL-derived clustered
    * fixture at top-10, plus the cluster-identity flag — the gate that
    * pins the planted neighbor structure end-to-end (fixture derivation,
    * coarse lists, residual PQ, ADC ranking).
    */
  private val PqClusteredOracle: String =
    pqAdcOracle(PqClusteredE, 10, sameCluster = true)

  /** x114: the identical IVFADC chain, ADC kept as a 4·topK shortlist and
    * re-ranked by exact full-vector distance (the operator's
    * RerankFactor, interpolated so the two sides cannot drift).
    */
  private val PqRerankOracle: String =
    pqAdcOracle(PqClusteredE, 10, sameCluster = true,
      rerank = graft.operators.ProductQuantization.RerankFactor * 10)

  /** x115: the incremental-IVFADC replay — coarse seeding and the PQ
    * training chain exclude the batch slice (the frozen model), the
    * batch still residualizes and encodes against it (enc), and the ADC
    * scan reads the merged lists. Slice rule interpolated from the
    * operator, so engine and oracle cannot drift.
    */
  private val PqAdcIncOracle: String =
    pqAdcOracle(PqRawE, 3, sameCluster = false,
      batchPred = Some(s"vec_id % ${graft.operators.IncrementalPq.BatchMod}" +
        s" = ${graft.operators.IncrementalPq.BatchRem}"))

  /** x116: the incremental chain (frozen model trained without the
    * batch, batch encoded against it, merged lists scanned) COMPOSED
    * with the x114 refinement (ADC shortlist of RerankFactor·topK per
    * query, exact full-vector re-rank) — `px` spans day-0 AND batch
    * vectors exactly as the engine's vectors-store + batch-side union
    * does. Slice rule and shortlist factor interpolated from the
    * operators, so engine and oracle cannot drift.
    */
  private val PqAdcIncRerankOracle: String =
    pqAdcOracle(PqRawE, 3, sameCluster = false,
      rerank = graft.operators.ProductQuantization.RerankFactor * 3,
      batchPred = Some(s"vec_id % ${graft.operators.IncrementalPq.BatchMod}" +
        s" = ${graft.operators.IncrementalPq.BatchRem}"))

  /** Batch-perceptron training unrolled (x109/x110): integer feature
    * relation + weak labels (fy), then per round i a single-row update
    * aggregate over the margin-<=0 set (g_i) and the updated weights
    * (w_i) — all exact integer sums, replaying the Spark loop
    * round-for-round. Shared by the train-trace and confusion oracles.
    */
  private def perceptronCtes(iters: Int): String = {
    val base =
      """WITH f AS MATERIALIZED (
        |  SELECT doc_id, source,
        |    CAST(length(text) AS BIGINT) AS fc,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS ft,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS fp,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS fd,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['the','a','and','of','to','in','is'], t))) AS BIGINT) AS fs
        |  FROM documents),
        |fy AS MATERIALIZED (
        |  SELECT *, CASE WHEN 5 * fs >= ft AND 10 * fd <= fc THEN 1 ELSE -1 END AS y FROM f),
        |w0 AS (SELECT CAST(0 AS BIGINT) AS wc, CAST(0 AS BIGINT) AS wt, CAST(0 AS BIGINT) AS wp,
        |              CAST(0 AS BIGINT) AS wd, CAST(0 AS BIGINT) AS ws, CAST(0 AS BIGINT) AS wb)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |g$i AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS nu,
         |         CAST(coalesce(sum(y * fc), 0) AS BIGINT) AS gc,
         |         CAST(coalesce(sum(y * ft), 0) AS BIGINT) AS gt,
         |         CAST(coalesce(sum(y * fp), 0) AS BIGINT) AS gp,
         |         CAST(coalesce(sum(y * fd), 0) AS BIGINT) AS gd,
         |         CAST(coalesce(sum(y * fs), 0) AS BIGINT) AS gs,
         |         CAST(coalesce(sum(y), 0) AS BIGINT) AS gb
         |  FROM fy, w${i - 1}
         |  WHERE y * (wc * fc + wt * ft + wp * fp + wd * fd + ws * fs + wb) <= 0),
         |w$i AS MATERIALIZED (
         |  SELECT wc + gc AS wc, wt + gt AS wt, wp + gp AS wp,
         |         wd + gd AS wd, ws + gs AS ws, wb + gb AS wb
         |  FROM w${i - 1}, g$i)""".stripMargin
    }.mkString
    base + rounds
  }

  private val PerceptronIters = graft.operators.Classifier.Iters

  private val PerceptronTrainOracle: String =
    perceptronCtes(PerceptronIters) + "\n" +
      (1 to PerceptronIters).map(i =>
        s"SELECT CAST($i AS INT) AS iter, g$i.nu AS n_updates, w$i.wc AS w_chars, w$i.wt AS w_tokens, " +
          s"w$i.wp AS w_punct, w$i.wd AS w_digits, w$i.ws AS w_stop, w$i.wb AS w_bias FROM g$i, w$i")
        .mkString("", "\nUNION ALL\n", "\nORDER BY iter")

  private val PerceptronGateOracle: String =
    perceptronCtes(PerceptronIters) +
      s""",
         |scored AS (
         |  SELECT source, y,
         |         CASE WHEN wc * fc + wt * ft + wp * fp + wd * fd + ws * fs + wb >= 0
         |              THEN 1 ELSE -1 END AS pred
         |  FROM fy, w$PerceptronIters)
         |SELECT source,
         |  CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN y = -1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN y = -1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN y = 1 AND pred = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |FROM scored GROUP BY source ORDER BY source""".stripMargin

  /** BPE training unrolled (the x75/x91 pattern): w0 = per-word-type
    * symbol sequences (double-space encoding, `</w>` terminal) with exact
    * corpus frequencies; round i counts adjacent pairs (pc), picks the
    * deterministic winner by (count desc, lhs, rhs) (m), and rewrites the
    * dictionary by ONE literal `replace` (w) — identical greedy leftmost
    * non-overlapping semantics as the Spark loop's single `replace` call.
    * Every stage MATERIALIZED: w(i) is read by both pc(i+1) and the final
    * selects, and un-materialized nesting re-evaluates the whole chain
    * exponentially (the PageRankOracle lesson).
    */
  private def BpeTrainCtes(rounds: Int): String = {
    val base =
      """WITH wtok AS MATERIALIZED (
        |  SELECT token AS w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        |    FROM documents) GROUP BY token),
        |w0 AS MATERIALIZED (
        |  SELECT ' ' || regexp_replace(w, '(.)', '\1  ', 'g') || '</w> ' AS enc, freq FROM wtok)""".stripMargin
    val iters = (1 to rounds).map { i =>
      s""",
         |pc$i AS MATERIALIZED (
         |  SELECT sy[j] AS a, sy[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT sy, freq, unnest(generate_series(1, len(sy) - 1)) AS j
         |        FROM (SELECT string_split(trim(enc), '  ') AS sy, freq FROM w${i - 1}))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT a, b, cnt FROM pc$i ORDER BY cnt DESC, a, b LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT replace(w${i - 1}.enc, ' ' || m$i.a || '  ' || m$i.b || ' ',
         |                 ' ' || m$i.a || m$i.b || ' ') AS enc, freq
         |  FROM w${i - 1}, m$i)""".stripMargin
    }.mkString
    base + iters
  }

  /** Unrolled pointer-doubling min-label propagation over a symmetric
    * MATERIALIZED edge CTE `edge(src, dst)` — the oracle twin of
    * `Dedup.dupClusters`' own algorithm. Replaces the old naive
    * `WITH RECURSIVE reach(id, r)` whose working set is the per-component
    * ALL-PAIRS (vertex, label) relation: on the sf1 sweep's giant
    * near-dup component (4,497 docs) that recursion carried ~20 M rows
    * through a dense-edge join per iteration (>1 h in DuckDB), while
    * doubling converges in O(log n) MATERIALIZED rounds of O(V + E)
    * each. Round update: l ← least(l, min over neighbours' l, l of l) —
    * the label-of-label hop doubles the effective reach per round in the
    * friendly case, so after t rounds reach is ~2^(t-1): `rounds` = 24
    * covers ~2^23-vertex label chains with slack (r16 ADVICE corrected
    * the earlier 20 ⇒ 2^20 claim — 20 rounds proves only 2^19, and
    * adversarial id layouts have no tight bound; post-convergence rounds
    * are row-for-row no-ops, so the four extra rounds cost four cheap
    * O(V + E) CTE passes). An unconverged run produces labels ≠ the
    * engine's min-labels and the gate goes RED, never silently wrong.
    * Emits `reach(id, r)` with one row per vertex, so the downstream
    * `min(r) GROUP BY id` selects are unchanged.
    */
  private def minLabelReach(edge: String, rounds: Int = 24): String = {
    val chain = (1 to rounds).map { i =>
      s"""lp$i AS MATERIALIZED (
         |  SELECT h.v, least(h.l, coalesce(nb.m, h.l), hh.l) AS l
         |  FROM lp${i - 1} h
         |  LEFT JOIN (SELECT e2.src AS v, min(h2.l) AS m
         |             FROM $edge e2 JOIN lp${i - 1} h2 ON e2.dst = h2.v
         |             GROUP BY 1) nb USING (v)
         |  JOIN lp${i - 1} hh ON h.l = hh.v),""".stripMargin
    }.mkString("\n")
    s"""lp0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS l FROM $edge),
       |$chain
       |reach AS (SELECT v AS id, l AS r FROM lp$rounds)""".stripMargin
  }

  private def bpeMergeTableSelect(rounds: Int): String =
    (1 to rounds).map(i =>
      s"SELECT CAST($i AS INT) AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_count FROM m$i")
      .mkString("", "\nUNION ALL\n", "\nORDER BY merge_rank")

  private val BpeTrainOracle: String =
    BpeTrainCtes(BpeMerges) + "\n" + bpeMergeTableSelect(BpeMerges)

  /** x112: the same unroll at [[DeepBpeMerges]] rounds. Rounds past the
    * dictionary's exhaustion point contribute no merge-table rows: once
    * `pc_i` is empty, `m_i` is empty, and `w_i = w_{i-1} CROSS JOIN m_i`
    * is empty too — exactly the Spark trainer's early stop.
    */
  private val BpeDeepTrainOracle: String =
    BpeTrainCtes(DeepBpeMerges) + "\n" + bpeMergeTableSelect(DeepBpeMerges)

  /** x103: the full training unroll, merges pivoted to one row, then the
    * identical replace chain applied to every word of every document in
    * position order; per-doc rollup LEFT-JOINed back so empty documents
    * keep a (0, md5('')) row like the Spark transform-lambda path.
    */
  /** Training unroll + the merge table pivoted to one row + the identical
    * replace-chain encode applied to every word of every document in
    * position order, ending at `we` (doc_id, p0, enc). Shared by the
    * x103 encode and x111 token-denominated packing oracles.
    */
  private val BpeAppliedCtes: String = {
    val pivot = (1 to BpeMerges).map(i =>
      s"max(CASE WHEN i = $i THEN a END) AS a$i, max(CASE WHEN i = $i THEN b END) AS b$i")
      .mkString(",\n  ")
    val allm = (1 to BpeMerges).map(i => s"SELECT $i AS i, a, b FROM m$i")
      .mkString(" UNION ALL ")
    val enc0 = """' ' || regexp_replace(token, '(.)', '\1  ', 'g') || '</w> '"""
    val applied = (1 to BpeMerges).foldLeft(enc0)((acc, i) =>
      s"replace($acc, ' ' || a$i || '  ' || b$i || ' ', ' ' || a$i || b$i || ' ')")
    BpeTrainCtes(BpeMerges) +
      s""",
         |allm AS MATERIALIZED ($allm),
         |mrow AS MATERIALIZED (SELECT
         |  $pivot
         |FROM allm),
         |wx AS MATERIALIZED (
         |  SELECT doc_id, p0, token FROM (
         |    SELECT doc_id, unnest(generate_series(1, len(arr))) AS p0, unnest(arr) AS token
         |    FROM (SELECT doc_id,
         |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS arr
         |          FROM documents))),
         |we AS MATERIALIZED (
         |  SELECT doc_id, p0, trim($applied) AS enc FROM wx, mrow)""".stripMargin
  }

  private val BpeEncodeOracle: String =
    BpeAppliedCtes +
      """,
        |agg AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(sum(len(string_split(enc, '  '))) AS BIGINT) AS n_tokens,
        |         md5(string_agg(enc, '|' ORDER BY p0)) AS enc_md5
        |  FROM we GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
        |       coalesce(a.enc_md5, md5('')) AS enc_md5
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** x111: the x38 packing window denominated in the trained tokenizer's
    * subword counts (empty docs count 0 but still land at their offset's
    * pack, x38's greatest(n, 1) rule).
    */
  private val BpePackingOracle: String =
    BpeAppliedCtes +
      """,
        |tok AS MATERIALIZED (
        |  SELECT doc_id, CAST(sum(len(string_split(enc, '  '))) AS BIGINT) AS n_tokens
        |  FROM we GROUP BY doc_id),
        |t AS (
        |  SELECT d.source, d.doc_id, d.doc_id % 4 AS shard,
        |         CAST(coalesce(tok.n_tokens, 0) AS BIGINT) AS n_tokens
        |  FROM documents d LEFT JOIN tok USING (doc_id)),
        |s AS (
        |  SELECT source, shard, doc_id, n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT source, shard, doc_id, n_tokens, tok_start,
        |       tok_start // 256 AS pack_id,
        |       (tok_start + greatest(n_tokens, 1) - 1) // 256 - tok_start // 256 + 1 AS packs_spanned
        |FROM s ORDER BY doc_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // ten unrolled exact merge rounds — the learned BPE table replays
    // round-for-round (identical greedy-replace + tie-break semantics)
    "x102_bpe_train" -> BpeTrainOracle,
    // training unroll + the identical replace-chain encode per word
    "x103_bpe_encode" -> BpeEncodeOracle,
    // ten unrolled integer fixed-point iterations — exact, not approximate
    "x75_pagerank" -> PageRankOracle,
    // three unrolled fixed-point Lloyd iterations — exact, not approximate
    "x91_kmeans" -> KMeansOracle,
    // corpus-slice training + frozen-centroid serve, all unrolled; the
    // only floats are the two share divisions
    "x98_kmeans_drift" -> KMeansDriftOracle,
    // the streaming monitor's contract IS x98's profile — same oracle
    "x106_stream_drift" -> KMeansDriftOracle,
    // two unrolled fixed-point Lloyd rounds PER SUBSPACE — the learned
    // PQ codebook replays component-for-component
    "x107_pq_train" -> PqTrainOracle,
    // corpus-slice coarse-quantizer + residual-PQ training, exact query
    // LUT, NProbe nearest-cell inverted-list probe + summed ADC ranking,
    // all integer-exact
    "x108_pq_adc_topk" -> PqAdcOracle,
    // three unrolled exact-integer batch-perceptron rounds — the learned
    // weights and update counts replay round-for-round
    "x109_perceptron_train" -> PerceptronTrainOracle,
    // the same unroll + sign(w.x) scoring + per-source confusion rollup
    "x110_perceptron_gate" -> PerceptronGateOracle,
    // training unroll + replace-chain encode + the x38 packing window
    // over the resulting subword counts
    "x111_bpe_packing" -> BpePackingOracle,
    // the x102 unroll continued to DeepBpeMerges rounds; empty tail past
    // exhaustion on both engines (the early-stop gate)
    "x112_bpe_train_deep" -> BpeDeepTrainOracle,
    // the full IVFADC replay over the SQL-derived clustered fixture +
    // cluster-identity flags
    "x113_pq_clustered_topk" -> PqClusteredOracle,
    "x114_pq_rerank_topk" -> PqRerankOracle,
    // the incremental chain: frozen (batch-excluded) model, batch encode
    // against it, merged-list ADC scan — store staleness is separately
    // pinned by the x115 store-vs-fresh restriction-equality spec
    "x115_incremental_ivfadc" -> PqAdcIncOracle,
    // x115's chain + the x114 refinement: exact re-rank of the ADC
    // shortlist over day-0 + batch full vectors — vectors-store
    // staleness is separately pinned by the x116 store-vs-fresh spec
    "x116_incremental_rerank" -> PqAdcIncRerankOracle,
    // the compacted multi-day lists hold exactly day-0 ∪ batch (the two
    // appended days partition the batch residue), so the oracle is
    // x115's verbatim — append/compact/last-writer must be value-neutral
    "x117_multiday_compaction" -> PqAdcIncOracle,
    // stream-encoded codes ≡ batch codes (per-vector math, batching-
    // independent), so the streaming ingest shares x115's oracle too
    "x118_stream_pq_encode" -> PqAdcIncOracle,
    // compacted lists AND compacted vectors both equal day-0 ∪ batch at
    // the default horizon, so the re-ranked multi-day search shares
    // x116's oracle — both compactors must be value-neutral
    "x119_multiday_rerank" -> PqAdcIncRerankOracle,
    // stream-FED compaction: stream-encoded day deltas (≡ batch codes,
    // x118's guarantee) compacted into the searched generation still
    // hold exactly day-0 ∪ batch, so the whole ingest-by-stream →
    // compact → search chain shares x115's oracle verbatim
    "x120_stream_fed_compaction" -> PqAdcIncOracle,
    // the full SNM replay: same blocking key, same global (bk, doc_id)
    // rank, same window, same distinct word-3-gram sets, same integer
    // 2·|A∩B| ≥ |A∪B| test — byte-for-byte pair parity
    "x94_snm_dedup" ->
      """WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
        |ww AS (SELECT doc_id, t,
        |         list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS w
        |       FROM d),
        |k AS (SELECT doc_id,
        |        substr(regexp_replace(t, '\s+', '', 'g'), 1, 24) AS bk,
        |        CASE WHEN len(w) >= 3
        |          THEN list_distinct([array_to_string(w[p:p+2], ' ')
        |                              for p in range(1, len(w) - 1)])
        |          ELSE [] END AS g
        |      FROM ww),
        |r AS MATERIALIZED (
        |  SELECT doc_id, g, row_number() OVER (ORDER BY bk, doc_id) AS rn FROM k),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, a.g AS ga, b.g AS gb
        |      FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 7),
        |j AS (SELECT da, db, len(list_intersect(ga, gb)) AS i,
        |             len(ga) + len(gb) - len(list_intersect(ga, gb)) AS u
        |      FROM p)
        |SELECT da AS doc_a, db AS doc_b,
        |       CAST(i AS BIGINT) AS n_inter, CAST(u AS BIGINT) AS n_union
        |FROM j WHERE u > 0 AND 2 * i >= u ORDER BY 1, 2""".stripMargin,
    // both passes replayed (prefix key + reversed-text key), pairs
    // normalized to (min,max) before the union-dedup; n_passes counts
    // how many passes independently surfaced each pair
    "x104_snm_multipass" ->
      ("""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         |ww AS (SELECT doc_id, t,
         |         list_filter(regexp_split_to_array(t, '\s+'), x -> x <> '') AS w
         |       FROM d),
         |kg AS (SELECT doc_id, regexp_replace(t, '\s+', '', 'g') AS st,
         |        CASE WHEN len(w) >= 3
         |          THEN list_distinct([array_to_string(w[p:p+2], ' ')
         |                              for p in range(1, len(w) - 1)])
         |          ELSE [] END AS g
         |      FROM ww)""" +
        Seq("substr(st, 1, 24)" -> "1", "substr(reverse(st), 1, 24)" -> "2").map {
          case (bk, s) =>
            s""",
               |k$s AS (SELECT doc_id, $bk AS bk, g FROM kg),
               |r$s AS MATERIALIZED (
               |  SELECT doc_id, g, row_number() OVER (ORDER BY bk, doc_id) AS rn FROM k$s),
               |j$s AS (SELECT least(a.doc_id, b.doc_id) AS da,
               |               greatest(a.doc_id, b.doc_id) AS db,
               |               len(list_intersect(a.g, b.g)) AS i,
               |               len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS u
               |        FROM r$s a JOIN r$s b ON b.rn > a.rn AND b.rn <= a.rn + 7)"""
        }.mkString +
        """,
          |f AS (SELECT da, db, i, u FROM j1 WHERE u > 0 AND 2 * i >= u
          |      UNION ALL SELECT da, db, i, u FROM j2 WHERE u > 0 AND 2 * i >= u)
          |SELECT da AS doc_a, db AS doc_b,
          |       CAST(max(i) AS BIGINT) AS n_inter, CAST(max(u) AS BIGINT) AS n_union,
          |       CAST(count(*) AS BIGINT) AS n_passes
          |FROM f GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin,
    // identical md5 cell positions, exact integer cell sums and squares —
    // the estimate replays bit-for-bit; exact side is plain SQL
    "x95_cms_join_size" ->
      """WITH kc AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |              CAST(sum(c) AS BIGINT) AS n_rows,
        |              CAST(sum(c * c) AS BIGINT) AS exact_join_rows FROM kc),
        |cells AS (
        |  SELECT i.i AS i,
        |         ('0x' || substr(md5('cms' || CAST(i.i AS VARCHAR) || ':' ||
        |            CAST(k AS VARCHAR)), 1, 15))::BIGINT % 8192 AS j,
        |         CAST(sum(c) AS BIGINT) AS cell
        |  FROM kc, generate_series(0, 4) AS i(i) GROUP BY 1, 2),
        |pr AS (SELECT i, sum(cell * cell) AS est_i FROM cells GROUP BY 1)
        |SELECT ex.n_keys, ex.n_rows, ex.exact_join_rows,
        |       CAST((SELECT min(est_i) FROM pr) AS BIGINT) AS est_join_rows
        |FROM ex""".stripMargin,
    // the sizing probe (sampled linear counting), the integer width
    // formula, and the estimate over the chosen width all replay exactly
    "x105_cms_sized" ->
      """WITH kc AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |nd AS (SELECT CAST(count(*) * 64 AS BIGINT) AS nd_est FROM kc
        |       WHERE ('0x' || substr(md5('ndk:' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 64 = 0),
        |ws AS (SELECT nd_est,
        |         least(1048576, greatest(1024, 1024 * ((8 * nd_est + 1023) // 1024))) AS width
        |       FROM nd),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |              CAST(sum(c) AS BIGINT) AS n_rows,
        |              CAST(sum(c * c) AS BIGINT) AS exact_join_rows FROM kc),
        |cells AS (
        |  SELECT i.i AS i,
        |         ('0x' || substr(md5('cms' || CAST(i.i AS VARCHAR) || ':' ||
        |            CAST(k AS VARCHAR)), 1, 15))::BIGINT % ws.width AS j,
        |         CAST(sum(c) AS BIGINT) AS cell
        |  FROM kc, generate_series(0, 4) AS i(i), ws GROUP BY 1, 2),
        |pr AS (SELECT i, sum(cell * cell) AS est_i FROM cells GROUP BY 1)
        |SELECT ex.n_keys, ex.n_rows, ex.exact_join_rows, ws.nd_est,
        |       CAST(ws.width AS BIGINT) AS width,
        |       CAST((SELECT min(est_i) FROM pr) AS BIGINT) AS est_join_rows
        |FROM ex, ws""".stripMargin,
    // rank-definition quartiles over a full sort + the same integer fence
    // arithmetic — the gate decision (hence every count) replays exactly
    "x97_iqr_gate" ->
      """WITH v AS (SELECT lang, n_chars AS v FROM documents),
        |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n FROM v),
        |qt AS (SELECT lang,
        |         max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS q25,
        |         max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS q75
        |       FROM r GROUP BY lang),
        |f AS (SELECT lang, q25, q75,
        |        q25 - (3 * (q75 - q25)) // 2 AS lo,
        |        q75 + (3 * (q75 - q25)) // 2 AS hi FROM qt)
        |SELECT v.lang,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN v.v BETWEEN f.lo AND f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN v.v < f.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_low,
        |  CAST(sum(CASE WHEN v.v > f.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_high,
        |  max(f.q25) AS q25, max(f.q75) AS q75, max(f.lo) AS lo, max(f.hi) AS hi
        |FROM v JOIN f USING (lang)
        |GROUP BY v.lang ORDER BY v.lang""".stripMargin,
    // algorithm-independent oracle: the discrete-quantile RANK definition
    // over a full per-group sort — the two-pass engine result must equal
    // the order statistic exactly
    "x93_twopass_quantiles" ->
      """WITH v AS (SELECT lang, n_chars AS v FROM documents),
        |st AS (SELECT lang, count(*) AS n FROM v GROUP BY 1),
        |r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn FROM v)
        |SELECT st.lang,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS q50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) AS q90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN v END) AS q99,
        |  CAST(max(n) AS BIGINT) AS n
        |FROM r JOIN st USING (lang) GROUP BY st.lang ORDER BY st.lang""".stripMargin,
    // the bitmap replayed as position-set membership: same md5 double
    // hashing, so bloom passes AND false positives match exactly
    "x92_bloom_join" ->
      """WITH bk AS (SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'),
        |hp AS (SELECT k,
        |         ('0x' || substr(md5('bf:' || CAST(k AS VARCHAR)), 1, 15))::BIGINT AS h1,
        |         ('0x' || substr(md5('bf:' || CAST(k AS VARCHAR)), 17, 15))::BIGINT AS h2
        |       FROM bk),
        |pos AS MATERIALIZED (
        |  SELECT DISTINCT (h1 + i.i * h2) % 262144 AS p
        |  FROM hp, generate_series(0, 2) AS i(i)),
        |lk AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |lh AS (SELECT l_orderkey,
        |         ('0x' || substr(md5('bf:' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT AS h1,
        |         ('0x' || substr(md5('bf:' || CAST(l_orderkey AS VARCHAR)), 17, 15))::BIGINT AS h2
        |       FROM lk),
        |lp AS (SELECT l_orderkey, (h1 + i.i * h2) % 262144 AS p
        |       FROM lh, generate_series(0, 2) AS i(i)),
        |hit AS MATERIALIZED (
        |  SELECT l_orderkey, count(*) FILTER (WHERE pos.p IS NOT NULL) = 3 AS pass
        |  FROM lp LEFT JOIN pos USING (p) GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN h.pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
        |  CAST(sum(CASE WHEN bk.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN h.pass AND bk.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
        |  CAST(sum(CASE WHEN bk.k IS NOT NULL THEN CAST(l.l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS sum_qty_matched
        |FROM lineitem l
        |JOIN hit h USING (l_orderkey)
        |LEFT JOIN bk ON bk.k = l.l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // components rebuilt by CONSTRUCTION: what the URL builder put in is
    // exactly what parse_url must extract back out
    "x77_url_parse" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'w' || CAST(doc_id % 50 AS VARCHAR) || '.example' ||
        |      (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.com'
        |        WHEN 1 THEN '.org' ELSE '.net' END) AS host,
        |    '/p/' || CAST(doc_id AS VARCHAR) AS path,
        |    regexp_replace(substring(text, 1, 8), '[^a-z]', '', 'g') AS q_param
        |  FROM documents)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_doc,
        |       CAST(count(DISTINCT path) AS BIGINT) AS n_paths,
        |       CAST(max(length(q_param)) AS INT) AS max_q_len
        |FROM u GROUP BY host ORDER BY host""".stripMargin,
    // exact counts replayed; the CMS bound booleans are constants under
    // the 100-eps slack (the x27 invariant-boolean pattern)
    "x76_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS c_exact, true AS cms_ok
        |FROM toks GROUP BY token
        |ORDER BY c_exact DESC, token LIMIT 10""".stripMargin,
    "x5_dedup_simhash" ->
      (SimhashOracleCte +
        s"""
           |SELECT doc_id, ${signed64("fpu")} AS simhash64,
           |  CAST((fpu // 281474976710656) % 65536 AS BIGINT) AS band0,
           |  CAST((fpu // 4294967296) % 65536 AS BIGINT) AS band1,
           |  CAST((fpu // 65536) % 65536 AS BIGINT) AS band2,
           |  CAST(fpu % 65536 AS BIGINT) AS band3
           |FROM fps ORDER BY doc_id""".stripMargin),
    // banding (4 x 16-bit bands) finds every Hamming<=3 pair by
    // pigeonhole, so the oracle is the full brute-force pair set — the
    // banded engine query must EQUAL it, proving the banding pure
    "x25_simhash_pairs" ->
      (SimhashOracleCte +
        s"""
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(${signed64("a.fpu")}, ${signed64("b.fpu")})) AS INTEGER) AS hamming
           |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(${signed64("a.fpu")}, ${signed64("b.fpu")})) <= 3
           |ORDER BY doc_a, doc_b""".stripMargin),
    // x57: the streaming dedup is a pure function of the document set
    // (dup_of = min prior doc within Hamming<=3), so the oracle reduces
    // the replayed x25 pair relation to each doc's first match
    "x57_streaming_simhash_dedup" ->
      (SimhashOracleCte +
        s"""
           |SELECT doc_id, dup_of, hamming FROM (
           |  SELECT b.doc_id AS doc_id, a.doc_id AS dup_of,
           |    CAST(bit_count(xor(${signed64("a.fpu")}, ${signed64("b.fpu")})) AS INTEGER) AS hamming
           |  FROM fps a JOIN fps b ON a.doc_id < b.doc_id
           |  WHERE bit_count(xor(${signed64("a.fpu")}, ${signed64("b.fpu")})) <= 3
           |  QUALIFY row_number() OVER (PARTITION BY b.doc_id ORDER BY a.doc_id) = 1)
           |ORDER BY doc_id""".stripMargin),
    "q2_airport_trips" ->
      s"""SELECT taxi, start_time, start_lat, start_long, stop_time, stop_lat, stop_long,
         |       dist_km, revenue, date
         |FROM read_csv('${TaxiQueries.FixtureDir}/golden_q2_trips.txt', delim=' ', header=false,
         |  columns={'taxi':'int','start_time':'double','start_lat':'double','start_long':'double',
         |           'stop_time':'double','stop_lat':'double','stop_long':'double','is_airport':'varchar',
         |           'dist_km':'double','revenue':'double','date':'varchar'})
         |ORDER BY taxi, start_time""".stripMargin,
    "q2_daily_revenue" ->
      s"""SELECT date, daily_revenue
         |FROM read_csv('${TaxiQueries.FixtureDir}/golden_q2_daily.txt', delim='\t', header=false,
         |  columns={'date':'varchar','daily_revenue':'double'})
         |ORDER BY date""".stripMargin,
    "q2_total_revenue" ->
      s"""SELECT total_revenue
         |FROM read_csv('${TaxiQueries.FixtureDir}/golden_q2_total.txt', header=false,
         |  columns={'total_revenue':'double'})""".stripMargin,
    // the streaming FSM twin carries q2_daily's golden: stream==batch in
    // the driver's hard signal for the flagship pipeline
    "x47_streaming_taxi_fsm" ->
      s"""SELECT date, daily_revenue
         |FROM read_csv('${TaxiQueries.FixtureDir}/golden_q2_daily.txt', delim='\t', header=false,
         |  columns={'date':'varchar','daily_revenue':'double'})
         |ORDER BY date""".stripMargin,
    // the three REAL decode paths replayed from their plant formulas:
    // image = x79's pixel closed form, audio = x80's PCM closed form
    // (minus the id%9==4 truncated drops), video = x86's per-frame pixel
    // closed form (minus the id%13==5 truncated drops)
    "x14_multimodal_decode" ->
      """WITH ipx AS (
        |  SELECT doc_id, x.x AS x, y.y AS y
        |  FROM documents, generate_series(0, 15) AS x(x), generate_series(0, 8) AS y(y)
        |  WHERE doc_id % 3 = 0 AND x.x < 4 + doc_id % 13 AND y.y < 3 + doc_id % 7),
        |img AS (
        |  SELECT doc_id, CAST(count(*) AS bigint) AS n_units,
        |         CAST(sum((3*doc_id + x) % 256 + (doc_id + 7*y) % 256
        |                  + (doc_id + x + 2*y) % 256) AS bigint) AS unit_sum
        |  FROM ipx GROUP BY doc_id),
        |aud AS (
        |  SELECT doc_id, CAST(count(*) AS bigint) AS n_units,
        |         CAST(sum(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS bigint) AS unit_sum
        |  FROM (SELECT doc_id, (doc_id * 31 + i.i * 7) % 65536 AS v
        |        FROM documents, generate_series(0, 149) AS i(i)
        |        WHERE doc_id % 3 = 1 AND doc_id % 9 <> 4 AND i.i < 50 + doc_id % 100)
        |  GROUP BY doc_id),
        |vpx AS (
        |  SELECT doc_id, doc_id * 4 + j.j AS fid, x.x AS x, y.y AS y
        |  FROM documents, generate_series(0, 2) AS j(j),
        |       generate_series(0, 15) AS x(x), generate_series(0, 8) AS y(y)
        |  WHERE doc_id % 3 = 2 AND doc_id % 13 <> 5 AND j.j < 1 + doc_id % 3
        |    AND x.x < 4 + (doc_id*4 + j.j) % 13 AND y.y < 3 + (doc_id*4 + j.j) % 7),
        |vid AS (
        |  SELECT doc_id, CAST(count(*) AS bigint) AS n_units,
        |         CAST(sum((3*fid + x) % 256 + (fid + 7*y) % 256
        |                  + (fid + x + 2*y) % 256) AS bigint) AS unit_sum
        |  FROM vpx GROUP BY doc_id),
        |u AS (
        |  SELECT 'image' AS media_type, n_units, unit_sum FROM img
        |  UNION ALL SELECT 'audio', n_units, unit_sum FROM aud
        |  UNION ALL SELECT 'video', n_units, unit_sum FROM vid)
        |SELECT media_type, count(*) AS n_blobs, CAST(sum(n_units) AS bigint) AS n_units,
        |       CAST(sum(unit_sum) AS bigint) AS unit_sum
        |FROM u GROUP BY media_type ORDER BY media_type""".stripMargin,
    "x24_compress_ratio" ->
      """SELECT source, count(*) AS n_docs, true AS all_docs_in_bounds,
        |       true AS avg_within
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical semantics to q8 — the streaming twin must reproduce the
    // batch result bit for bit
    "x26_streaming_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, CAST(value AS decimal(18,2)) AS v,
        |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events, min(us) AS start_us,
        |       max(us) - min(us) AS duration_us, CAST(sum(v) AS double) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "x28_cdc_chunks" ->
      """SELECT source, count(*) AS n_docs,
        |       CAST(count(*) FILTER (octet_length(encode(text)) > 0) AS bigint) AS n_nonempty,
        |       CAST(sum(octet_length(encode(text))) AS bigint) AS total_bytes,
        |       true AS bytes_conserved, true AS all_nonempty_chunked, true AS sizes_bounded
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x27_sketch_stats" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT n_chars) AS nd_exact, true AS nd_sketch_ok,
        |       round(quantile_cont(n_chars, 0.5), 6) AS p50_exact, true AS p50_sketch_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // same whitespace tokenization as x11 (parity hash-proven there);
    // ties broken (score desc, token asc) on both sides
    "x29_tfidf_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM toks WHERE token <> '' GROUP BY 1, 2
        |), df AS (
        |  SELECT token, count(*) AS df FROM tf GROUP BY 1
        |), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, token, tf, df, round(s, 6) AS tfidf FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS s,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) DESC, tf.token ASC) AS rk
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |) WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, token""".stripMargin,
    "q1_trip_histogram" ->
      s"""SELECT bin, count(*) AS n FROM (
         |  SELECT CASE WHEN dist >= 80 THEN '>=80'
         |              ELSE printf('%02d', CAST(floor(dist / 2) * 2 AS int)) END AS bin
         |  FROM (
         |    SELECT 6371.009 * sqrt(pow(radians(start_lat - stop_lat), 2)
         |         + pow(cos(radians((start_lat + stop_lat) / 2)) * radians(start_long - stop_long), 2)) AS dist
         |    FROM read_csv('${TaxiQueries.FixtureDir}/trips.txt', delim=' ', header=false,
         |      columns={'taxi':'int','start_time':'double','start_lat':'double','start_long':'double',
         |               'stop_time':'double','stop_lat':'double','stop_long':'double','is_airport':'varchar',
         |               'dist_km':'double','revenue':'double','date':'varchar'})))
         |GROUP BY bin ORDER BY bin""".stripMargin,
    "q3_filter_agg" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS decimal(18,2)) * CAST(l_discount AS decimal(18,2))) AS double) AS revenue,
        |       CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.07 AND l_quantity < 25""".stripMargin,
    "q4_join_agg" ->
      """SELECT n_name,
        |       CAST(sum(CAST(l_extendedprice AS decimal(18,2)) * (1 - CAST(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q5_topk_having" ->
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS total_spent,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name HAVING count(*) >= 3
        |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin,
    "q6_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(row_number() OVER wt AS int) AS order_seq,
        |       CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS int) AS price_rank,
        |       epoch_us(o_orderdate) - lag(epoch_us(o_orderdate), 1) OVER wt AS gap_us
        |FROM orders
        |WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_seq""".stripMargin,
    "q7_set_ops" ->
      """SELECT 'union' AS op, k FROM (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'intersect', k FROM (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except', k FROM (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY op, k""".stripMargin,
    "q8_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, CAST(value AS decimal(18,2)) AS v,
        |         lag(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |s AS (
        |  SELECT *, CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events, min(us) AS start_us,
        |       max(us) - min(us) AS duration_us, CAST(sum(v) AS double) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q9_time_windows" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin,
    "q10_json_extract" ->
      """SELECT TRY_CAST(json_extract_string(props, '$.k') AS bigint) % 10 AS k_mod,
        |       count(*) AS n,
        |       CAST(sum(CAST(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,
    "q11_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q12_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q13_anti_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |ORDER BY p_partkey""".stripMargin,
    "q14_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q15_string_funcs" ->
      """SELECT doc_id,
        |       upper(substring(text, 1, 12)) AS head_upper,
        |       CAST(levenshtein(substring(text, 1, 15), 'the quick brown') AS int) AS lev,
        |       CAST(length(trim(text)) AS int) AS trimmed_len,
        |       CAST(instr(text, 'spark') AS bigint) AS spark_pos,
        |       CAST(len(string_split(text, 'spark')) - 1 AS bigint) AS spark_hits
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q16_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS int) AS y, CAST(quarter(o_orderdate) AS int) AS q,
        |       count(*) AS n_orders,
        |       count(DISTINCT month(o_orderdate)) AS n_months,
        |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY y, q""".stripMargin,
    "q17_asof_join" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, o_orderkey,
        |       epoch_us(o_orderdate) AS order_us, o_totalprice
        |FROM (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate, o.o_totalprice,
        |         row_number() OVER (PARTITION BY e.event_id
        |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q18_range_join" ->
      """WITH w AS (
        |  SELECT epoch_us(d) AS lo_us, epoch_us(d) + 259200000000 AS hi_us
        |  FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)
        |  WHERE day(d) % 7 = 1)
        |SELECT lo_us, count(*) AS n_events,
        |       CAST(sum(CAST(value AS decimal(18,2))) AS double) AS total_value
        |FROM events e JOIN w ON epoch_us(e.ts) >= w.lo_us AND epoch_us(e.ts) < w.hi_us
        |GROUP BY lo_us ORDER BY lo_us""".stripMargin,
    "q19_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c.c_custkey
        |                AND o_orderdate >= TIMESTAMP '1997-01-01'
        |                AND o_orderdate < TIMESTAMP '1997-07-01')
        |ORDER BY c_custkey""".stripMargin,
    "q20_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       count(*) AS n_items
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q21_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY day ORDER BY day""".stripMargin,
    "q22_skew_join" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CAST(l_extendedprice AS decimal(18,2)) * (1 - CAST(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q23_set_ops_all" ->
      """SELECT 'intersect_all' AS op, k, count(*) AS n FROM (
        |  SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY k
        |UNION ALL
        |SELECT 'except_all', k, count(*) FROM (
        |  SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY k
        |ORDER BY op, k""".stripMargin,
    "q24_session_window" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, CAST(value AS decimal(18,2)) AS v,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |s AS (
        |  SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY us
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b)
        |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
        |       count(*) AS n_events, CAST(sum(v) AS double) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    // the exact SQL the engine runs (one shared definition — no drift)
    "q25_correlated_subquery" -> Relational.Q25Sql,
    // q27 computes q22's result from a bucketed physical layout — layout
    // must never change answers, so it carries q22's oracle verbatim
    "q27_bucketed_join" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CAST(l_extendedprice AS decimal(18,2)) * (1 - CAST(l_discount AS decimal(18,2)))) AS double) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q28 runs against the date-partitioned events copy; the oracle runs
    // the same query over the ORIGINAL single-file events.parquet —
    // layout must never change answers
    "q28_dpp_join" ->
      """WITH top_days AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |         sum(CAST(value AS decimal(18,2))) AS pv
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1 ORDER BY pv DESC, d ASC LIMIT 5
        |)
        |SELECT event_type, count(*) AS n_events,
        |       CAST(sum(CAST(value AS decimal(18,2))) AS double) AS total_value
        |FROM events JOIN top_days ON CAST(ts AS DATE) = top_days.d
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the bloom filter is a physical-plan optimization; the answer is the
    // plain join-aggregate DuckDB computes directly
    "q29_bloom_join" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS decimal(18,2))) AS double) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS decimal(18,2))) AS double) AS sum_price,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // MERGE INTO as plain SQL: last changelog op per key by (ts,
    // event_id), full join against the residue-class snapshot, tombstone
    // filter, provenance CASE — the declarative twin of the engine's plan
    "q30_merge_upsert" -> CdcUpsertOracleSql,
    // the streaming CDC apply must produce EXACTLY the batch merge's
    // result — same oracle, not a twin
    "x61_stream_cdc_upsert" -> CdcUpsertOracleSql,
    // each event lands in exactly 4 sliding windows (starts
    // floor15(t) - k·15min, k = 0..3, epoch-aligned like Spark's
    // window()); counts are integers, rank tie-breaks on event_type
    "x63_stream_trending" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_type,
        |         (us - us % 900000000) - k.k * 900000000 AS w_start_us
        |  FROM e, (SELECT unnest(range(0, 4)) AS k) k),
        |c AS (SELECT w_start_us, event_type, count(*) AS n FROM w GROUP BY 1, 2),
        |r AS (
        |  SELECT w_start_us, w_start_us + 3600000000 AS w_end_us, event_type, n,
        |         row_number() OVER (PARTITION BY w_start_us
        |                            ORDER BY n DESC, event_type) AS rnk
        |  FROM c)
        |SELECT w_start_us, w_end_us, event_type, n, CAST(rnk AS int) AS rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY w_start_us, rnk""".stripMargin,
    // lead() before the tombstone filter, exactly like the engine: an
    // error row closes the previous version but emits none itself
    "q31_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type, value,
        |         lead(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS valid_to_us
        |  FROM events)
        |SELECT user_id, event_id, round(value, 2) AS value, us AS valid_from_us, valid_to_us,
        |       valid_to_us IS NULL AS is_current
        |FROM e WHERE event_type <> 'error'
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,
    "q26_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) OVER wr AS double) AS run_total,
        |       CAST(sum(CAST(o_totalprice AS decimal(18,2))) OVER w3 AS double) AS sum3
        |FROM orders
        |WINDOW wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // window distribution functions over per-nation customer spend;
    // percent_rank/cume_dist are exact rationals, so no tolerance needed
    "q32_window_distribution" ->
      """WITH s AS (
        |  SELECT c_nationkey, c_custkey,
        |         CAST(sum(CAST(o_totalprice AS decimal(18,2))) AS double) AS spend
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey)
        |SELECT c_nationkey, c_custkey, spend,
        |       CAST(ntile(4) OVER w AS int) AS quartile,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd
        |FROM s
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY spend DESC, c_custkey)
        |ORDER BY c_nationkey, c_custkey""".stripMargin,
    // arbitrary grouping sets incl. the empty (grand-total) set, same
    // pre-aggregate-then-expand shape as q11/q20; grouping() flags
    // disambiguate subtotal-NULL from data-NULL, bigint on both sides
    "q33_grouping_sets" ->
      """WITH base AS (
        |  SELECT l_returnflag, l_linestatus,
        |         sum(CAST(l_quantity AS decimal(18,2))) AS _sq, count(*) AS _n
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT l_returnflag, l_linestatus,
        |       CAST(grouping(l_returnflag) AS bigint) AS g_flag,
        |       CAST(grouping(l_linestatus) AS bigint) AS g_status,
        |       CAST(sum(_sq) AS double) AS sum_qty,
        |       CAST(sum(_n) AS bigint) AS n_items
        |FROM base
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // numeric RANGE frame (trailing 30 days in epoch-micros) — identical
    // frame semantics in both engines, decimal sums, peers tie-consistent
    "q34_range_frame" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS day_us,
        |         CAST(o_totalprice AS decimal(18,2)) AS p
        |  FROM orders)
        |SELECT o_custkey, o_orderkey, day_us,
        |       CAST(sum(p) OVER w AS double) AS sum_30d,
        |       count(*) OVER w AS n_30d
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_us
        |             RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, day_us, o_orderkey""".stripMargin,
    // LOCF via last_value IGNORE NULLS over the same try_cast'd JSON key;
    // k_obs_us (the carried observation's own timestamp) via the same
    // when-guarded column
    "q37_locf_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |         CASE WHEN event_id % 4 <> 0
        |              THEN TRY_CAST(json_extract_string(props, '$.k') AS bigint) END AS k
        |  FROM events)
        |SELECT user_id, event_id, us, k,
        |       last_value(k IGNORE NULLS) OVER w AS k_filled,
        |       us - last_value(CASE WHEN k IS NOT NULL THEN us END IGNORE NULLS) OVER w
        |         AS locf_age_us
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, us, event_id""".stripMargin,
    // identical recursion, DuckDB's unnest in place of Spark's explode
    "q35_recursive_cte" ->
      """WITH RECURSIVE sub AS (
        |  SELECT c_custkey AS root, c_custkey AS node,
        |         CAST(c_acctbal AS decimal(18,2)) AS bal, 0 AS depth
        |  FROM customer WHERE c_custkey BETWEEN 1 AND 50
        |  UNION ALL
        |  SELECT f.root, c.c_custkey, CAST(c.c_acctbal AS decimal(18,2)), f.depth + 1
        |  FROM (SELECT root, depth, unnest([node * 2, node * 2 + 1]) AS child
        |        FROM sub) f
        |  JOIN customer c ON c.c_custkey = f.child
        |)
        |SELECT root, count(*) AS n_nodes, CAST(max(depth) AS int) AS max_depth,
        |       CAST(sum(bal) AS double) AS total_bal
        |FROM sub GROUP BY root ORDER BY root""".stripMargin,
    // same lateral shape; epoch micros for the date column
    "q36_lateral_topn" ->
      """SELECT c_custkey, t.o_orderkey, t.price, t.o_us
        |FROM customer,
        |LATERAL (
        |  SELECT o_orderkey, CAST(o_totalprice AS double) AS price,
        |         epoch_us(o_orderdate) AS o_us
        |  FROM orders WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c_custkey, price DESC, o_orderkey""".stripMargin,
    // UNION ALL melt — the portable spelling of UNPIVOT; metric names
    // match Spark's unpivot variable values (the source column names)
    "q38_unpivot" ->
      """WITH base AS (
        |  SELECT n_name,
        |         CAST(sum(CAST(c_acctbal AS decimal(18,2))) AS double) AS sum_bal,
        |         min(c_acctbal) AS min_bal,
        |         max(c_acctbal) AS max_bal,
        |         CAST(count(*) AS double) AS n_customers
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, metric, value FROM (
        |  SELECT n_name, 'sum_bal' AS metric, sum_bal AS value FROM base
        |  UNION ALL SELECT n_name, 'min_bal', min_bal FROM base
        |  UNION ALL SELECT n_name, 'max_bal', max_bal FROM base
        |  UNION ALL SELECT n_name, 'n_customers', n_customers FROM base)
        |ORDER BY n_name, metric""".stripMargin,
    // the SAME round-trip in DuckDB's JSON type: build the ordered
    // array<struct> payload, serialize, cast back, unnest, re-aggregate —
    // a parse divergence on either side cannot cancel out
    "q39_json_roundtrip" ->
      """WITH larr AS (
        |  SELECT l_orderkey, list(struct_pack(ln := l_linenumber, qty := l_quantity,
        |             price := l_extendedprice, rf := l_returnflag)
        |           ORDER BY l_linenumber) AS lines
        |  FROM lineitem GROUP BY l_orderkey),
        |js AS (SELECT to_json(struct_pack(ok := l_orderkey, lines := lines)) AS js FROM larr),
        |parsed AS (
        |  SELECT CAST(js->>'$.ok' AS bigint) AS ok,
        |         unnest(CAST(js->'$.lines'
        |           AS struct(ln int, qty double, price double, rf varchar)[])) AS l
        |  FROM js)
        |SELECT ok AS l_orderkey, count(*) AS n_lines,
        |       CAST(sum(CAST(l.qty AS decimal(18,2))) AS double) AS sum_qty,
        |       max(l.price) AS max_price, min(l.rf) AS min_rf,
        |       CAST(sum(l.ln) AS bigint) AS ln_sum
        |FROM parsed GROUP BY ok ORDER BY ok""".stripMargin,
    // the variant reads reduce to typed JSON extraction; DuckDB sum of
    // bigint is HUGEINT — cast back (the x41 convention)
    "q41_variant" ->
      """SELECT event_type, count(*) AS n_events,
        |       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS sum_k,
        |       count(TRY_CAST(json_extract_string(props, '$.k') AS bigint)) AS n_k,
        |       count(TRY_CAST(json_extract_string(props, '$.missing') AS bigint)) AS n_missing_hits
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // <=> spelled IS NOT DISTINCT FROM; same residue-class null derivation
    "q42_nullsafe_join" ->
      """WITH e AS (
        |  SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS bigint) AS k
        |  FROM events),
        |a AS (
        |  SELECT CASE WHEN event_id % 4 <> 0 THEN k END AS ka, event_id AS ea
        |  FROM e WHERE event_id % 2 = 0 AND event_id < 400),
        |b AS (
        |  SELECT CASE WHEN event_id % 3 <> 0 THEN k END AS kb, event_id AS eb
        |  FROM e WHERE event_id % 2 = 1)
        |SELECT ka, count(*) AS n_pairs,
        |       CAST(sum(CASE WHEN ka IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_equi_pairs,
        |       min(eb) AS min_eb, max(eb) AS max_eb
        |FROM a JOIN b ON ka IS NOT DISTINCT FROM kb
        |GROUP BY ka ORDER BY ka NULLS FIRST""".stripMargin,
    // mode replayed by definition (min value among max-count ties — the
    // deterministic-mode contract), argmax via rank windows with the same
    // struct tie-break, listagg via string_agg DISTINCT ORDER BY
    "q43_ordered_agg" ->
      """WITH j AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |best AS (
        |  SELECT c_mktsegment, o_orderkey AS best_order FROM j
        |  QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) = 1),
        |worst AS (
        |  SELECT c_mktsegment, o_orderkey AS worst_order FROM j
        |  QUALIFY row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) = 1),
        |md AS (
        |  SELECT c_mktsegment, min(k) AS mode_prio FROM (
        |    SELECT c_mktsegment, o_orderpriority AS k, count(*) AS cnt,
        |           max(count(*)) OVER (PARTITION BY c_mktsegment) AS mx
        |    FROM j GROUP BY 1, 2) WHERE cnt = mx GROUP BY 1),
        |base AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |         string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS prio_csv
        |  FROM j GROUP BY 1)
        |SELECT b.c_mktsegment, n_orders, best_order, worst_order, mode_prio, prio_csv
        |FROM base b JOIN best USING (c_mktsegment) JOIN worst USING (c_mktsegment)
        |  JOIN md USING (c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin,
    // the map never exists in the oracle — it replays the ENTRY-ARRAY
    // contract directly (sorted lists of (key, value) structs) and ships
    // them as to_json VARCHAR, byte-identical to Spark's to_json over
    // map_entries (both emit compact [{"key":…,"value":…}], [] empty)
    "q44_map_funcs" ->
      """WITH pc AS (
        |  SELECT o_custkey, o_orderpriority AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_custkey,
        |  CAST(count(*) AS INT) AS n_prios,
        |  max(CASE WHEN k = '1-URGENT' THEN c END) AS n_urgent,
        |  CAST(to_json(coalesce(
        |    list(struct_pack(key := k, value := c) ORDER BY k) FILTER (WHERE c >= 2),
        |    CAST([] AS STRUCT(key VARCHAR, value BIGINT)[]))) AS VARCHAR) AS repeat_entries,
        |  CAST(to_json(list(struct_pack(key := k, value := c*10 + length(k)) ORDER BY k))
        |    AS VARCHAR) AS scored_entries,
        |  CAST(sum(c) AS BIGINT) AS n_orders
        |FROM pc GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // FILTER replayed natively (DuckDB spells every/any as
    // bool_and/bool_or); timestamps cross as epoch micros
    "q45_filtered_agg" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_heavy,
        |  CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F')
        |    AS DOUBLE) AS finished_revenue,
        |  bool_and(l_quantity <= 50) AS qty_bounded,
        |  bool_or(l_tax = 0) AS has_zero_tax,
        |  epoch_us(max(l_shipdate) FILTER (WHERE l_discount = 0)) AS last_full_price_ship_us
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the SAME double expression tree over the SAME exact decimal sums —
    // the whole point of q46 is that this replays bit-identically
    "q46_regression_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n_items,
        |  (CAST(n_items AS DOUBLE) * CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n_items AS DOUBLE) * CAST(sxx AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |  (CAST(sy AS DOUBLE) - (CAST(n_items AS DOUBLE) * CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (CAST(n_items AS DOUBLE) * CAST(sxx AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * CAST(sx AS DOUBLE)) / CAST(n_items AS DOUBLE) AS intercept,
        |  (CAST(n_items AS DOUBLE) * CAST(sxy AS DOUBLE)
        |   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   / (sqrt(CAST(n_items AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * sqrt(CAST(n_items AS DOUBLE) * CAST(syy AS DOUBLE)
        |     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr_xy
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // naive ts AT UTC -> instant -> wall time in the target zone; isodow
    // is already ISO 1=Monday (Spark weekday+1 matches)
    "q47_timezone_calendar" ->
      """WITH o AS (
        |  SELECT timezone('America/New_York', timezone('UTC', o_orderdate)) AS ny,
        |         timezone('Asia/Tokyo', timezone('UTC', o_orderdate)) AS tokyo
        |  FROM orders),
        |g AS (
        |  SELECT CAST(ny AS DATE) AS ny_date,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(count(DISTINCT CAST(tokyo AS DATE)) AS BIGINT) AS n_tokyo_dates,
        |         CAST(min(extract(hour FROM ny)) AS INT) AS min_ny_hour
        |  FROM o GROUP BY 1)
        |SELECT ny_date, CAST(isodow(ny_date) AS INT) AS dow_iso,
        |       CAST(weekofyear(ny_date) AS INT) AS iso_week,
        |       last_day(ny_date) AS month_end,
        |       n_orders, n_tokyo_dates, min_ny_hour
        |FROM g ORDER BY ny_date""".stripMargin,
    // Luhn replayed by ARITHMETIC (doubled-from-the-right digit sum) on
    // the regex-extracted candidates — the engine's luhn_check builtin
    // is not taken on faith; same fold-based redaction via list_reduce
    "x70_luhn_redaction" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    '4' || lpad(CAST(doc_id * 37 % 100000000000000 AS VARCHAR), 14, '0') AS base
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, text, base,
        |    CAST((10 - list_sum(list_transform(range(0, length(base || '0')), k ->
        |      CASE WHEN k % 2 = 1
        |        THEN CASE WHEN 2 * CAST((base || '0')[length(base || '0')-k] AS INT) > 9
        |             THEN 2 * CAST((base || '0')[length(base || '0')-k] AS INT) - 9
        |             ELSE 2 * CAST((base || '0')[length(base || '0')-k] AS INT) END
        |        ELSE CAST((base || '0')[length(base || '0')-k] AS INT) END)) % 10) % 10
        |      AS BIGINT) AS good
        |  FROM d),
        |s AS (
        |  SELECT doc_id,
        |    text || ' card=' || base ||
        |      CAST(CASE WHEN doc_id % 3 = 0 THEN good ELSE (good + 5) % 10 END AS VARCHAR)
        |      AS seeded
        |  FROM g),
        |m AS (
        |  SELECT doc_id, seeded,
        |    regexp_extract_all(seeded, '\b\d{13,19}\b') AS matches
        |  FROM s),
        |v AS (
        |  SELECT doc_id, seeded, matches,
        |    list_filter(matches, c ->
        |      list_sum(list_transform(range(0, length(c)), k ->
        |        CASE WHEN k % 2 = 1
        |          THEN CASE WHEN 2 * CAST(c[length(c)-k] AS INT) > 9
        |               THEN 2 * CAST(c[length(c)-k] AS INT) - 9
        |               ELSE 2 * CAST(c[length(c)-k] AS INT) END
        |          ELSE CAST(c[length(c)-k] AS INT) END)) % 10 = 0) AS valid
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(matches) AS INT) AS n_candidates,
        |  CAST(len(valid) AS INT) AS n_valid,
        |  md5(list_reduce(list_prepend(seeded, valid),
        |    (acc, c) -> replace(acc, c, repeat('X', length(c))))) AS redacted_md5
        |FROM v ORDER BY doc_id""".stripMargin,
    // DuckDB implements the same standard three-valued logic, so the SAME
    // SQL replays: the trap row must be 0 and the two fixes must agree
    "q49_not_in_nulls" ->
      """WITH k AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k
        |  FROM orders WHERE o_custkey < 500 AND o_custkey % 3 = 0)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM k)) AS n_not_in_with_nulls,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_custkey NOT IN (SELECT k FROM k WHERE k IS NOT NULL))
        |    AS n_not_in_filtered,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM k WHERE k.k = c.c_custkey))
        |    AS n_not_exists""".stripMargin,
    // the same three chained prefix-min windows, spelled as stacked CTEs
    "q50_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
        |  WHERE event_id % 8 = 0),
        |s1 AS (
        |  SELECT user_id, us, event_id, event_type,
        |    min(CASE WHEN event_type = 'view' THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
        |  FROM e),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND us > v_run THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_run
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > c_run THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_run
        |  FROM s2),
        |u AS (
        |  SELECT user_id, min(v_run) AS v, min(c_run) AS c, min(p_run) AS p
        |  FROM s3 GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(count(v) AS BIGINT) AS n_view,
        |  CAST(count(c) AS BIGINT) AS n_click,
        |  CAST(count(p) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN c IS NOT NULL THEN c - v END) AS DOUBLE) / count(c)
        |    AS avg_v2c_us,
        |  CAST(sum(CASE WHEN p IS NOT NULL THEN p - c END) AS DOUBLE) / count(p)
        |    AS avg_c2p_us,
        |  CAST(count(c) AS DOUBLE) / count(v) AS v2c_rate,
        |  CAST(count(p) AS DOUBLE) / count(c) AS c2p_rate
        |FROM u""".stripMargin,
    // the stream's per-user pivot equals q50's window stage row-for-row
    "x73_stream_funnel" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
        |  WHERE event_id % 8 = 0),
        |s1 AS (
        |  SELECT user_id, us, event_id, event_type,
        |    min(CASE WHEN event_type = 'view' THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_run
        |  FROM e),
        |s2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND us > v_run THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_run
        |  FROM s1),
        |s3 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND us > c_run THEN us END) OVER
        |      (PARTITION BY user_id ORDER BY us, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_run
        |  FROM s2)
        |SELECT user_id, min(v_run) AS v_us, min(c_run) AS c_us, min(p_run) AS p_us
        |FROM s3 GROUP BY 1 HAVING min(v_run) IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    // the try_* SEMANTICS replayed with CASE guards: DuckDB's own double
    // division yields inf on zero and its bigint overflow ERRORS, so the
    // null-production conditions are spelled out — which is the contract
    // under test, not shared syntax
    "q48_try_arithmetic" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN CAST(l_quantity AS INT) % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_div_null,
        |  CAST(sum(CASE WHEN CAST(l_quantity AS INT) % 3 <> 0
        |    THEN CAST(l_extendedprice / (CAST(l_quantity AS INT) % 3) AS DECIMAL(18,3))
        |    END) AS DOUBLE) AS sum_div,
        |  CAST(sum(CASE WHEN l_orderkey % 777 = 0 AND l_orderkey >= 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_overflow,
        |  CAST(sum(CASE WHEN l_orderkey % 500 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_cast,
        |  CAST(sum(CASE WHEN l_orderkey % 1000 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_ts
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // BM25 with the x29 ln discipline (round-6, both libms agree well
    // past that); term filter sits BEFORE the tf aggregate
    "x72_bm25_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |lens AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM toks
        |       WHERE token IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |s AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |      / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS sc
        |  FROM tf JOIN dfc USING (token) JOIN lens USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit, round(sum(sc), 6) AS bm25
        |FROM s GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    // same exact-division drift arithmetic, same (drift desc, token) cut
    "x74_token_drift" ->
      """WITH toks AS (
        |  SELECT CAST(substring(source, 4) AS INT) < 10 AS in_a,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        |  FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b FROM c)
        |SELECT token, c_a, c_b,
        |  CAST(c_a AS DOUBLE) / n_a AS fa,
        |  CAST(c_b AS DOUBLE) / n_b AS fb,
        |  abs(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b) AS drift
        |FROM c CROSS JOIN t
        |WHERE c_a + c_b >= 20
        |ORDER BY drift DESC, token LIMIT 20""".stripMargin,
    // identical bit-interleave arithmetic; every column integer-exact
    "x71_zorder_layout" ->
      """WITH d AS (
        |  SELECT CAST(l_partkey % 1024 AS INT) AS da,
        |         CAST(l_orderkey % 1024 AS INT) AS db
        |  FROM lineitem),
        |z AS (
        |  SELECT da, db,
        |    list_sum(list_transform(range(0, 10), i ->
        |      ((da >> i) & 1) * (1::BIGINT << (2*i))
        |      + ((db >> i) & 1) * (1::BIGINT << (2*i+1)))) AS z
        |  FROM d)
        |SELECT CAST(z // 16384 AS BIGINT) AS zbucket,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(min(da) AS INT) AS a_lo, CAST(max(da) AS INT) AS a_hi,
        |       CAST(min(db) AS INT) AS b_lo, CAST(max(db) AS INT) AS b_hi
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // percentile_disc pinned by DEFINITION (smallest value with
    // cume_dist >= q) via integer-exact rank comparisons — no engine's
    // built-in quantile indexing convention is trusted on either side
    "q40_percentiles" ->
      """WITH qty AS (
        |  SELECT l_returnflag, l_quantity AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |qc AS (
        |  SELECT l_returnflag, v,
        |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM qty),
        |p1 AS (
        |  SELECT l_returnflag,
        |         min(v) FILTER (WHERE cum * 4 >= n) AS q25_qty,
        |         min(v) FILTER (WHERE cum * 2 >= n) AS med_qty,
        |         min(v) FILTER (WHERE cum * 4 >= 3 * n) AS q75_qty,
        |         CAST(max(n) AS bigint) AS n_items
        |  FROM qc GROUP BY l_returnflag),
        |pr AS (
        |  SELECT l_returnflag, l_extendedprice AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |prc AS (
        |  SELECT l_returnflag, v,
        |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        |         sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM pr),
        |p2 AS (
        |  SELECT l_returnflag,
        |         min(v) FILTER (WHERE cum * 100 >= 95 * n) AS p95_price
        |  FROM prc GROUP BY l_returnflag)
        |SELECT p1.l_returnflag, q25_qty, med_qty, q75_qty, p95_price, n_items
        |FROM p1 JOIN p2 USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "x1_dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        |       count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents""".stripMargin,
    "x2_dedup_normalized" ->
      """SELECT md5(substring(text, 1, 40)) AS norm_key, count(*) AS n_docs,
        |       min(doc_id) AS keeper_doc_id, CAST(sum(n_chars) AS bigint) AS total_chars
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY norm_key""".stripMargin,
    // intersect projected ONCE through an inner-subquery alias (the r17
    // x56/x20/x65 sf1 lesson: the repeated expression re-evaluates per
    // mention — 4x here — and the all-pairs base makes that hours at 10x)
    "x3_dedup_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, length(text) - 1),
        |                       i -> substring(text, CAST(i AS int), 3))) AS sh
        |  FROM documents WHERE doc_id % 10 = 0),
        |q AS MATERIALIZED (
        |  SELECT doc_a, doc_b, round(CAST(ix AS double) / (la + lb - ix), 6) AS jaccard
        |  FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           len(list_intersect(a.sh, b.sh)) AS ix,
        |           len(a.sh) AS la, len(b.sh) AS lb
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |  WHERE CAST(ix AS double) / (la + lb - ix) >= 0.6)
        |SELECT doc_a, doc_b, jaccard FROM q ORDER BY doc_a, doc_b""".stripMargin,
    // x55: overlap coefficient |A∩B| / min(|A|,|B|) on the same trigram
    // sets — integer counts + one IEEE division, replayed exactly
    "x55_ngram_containment" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, length(text) - 1),
        |                       i -> substring(text, CAST(i AS int), 3))) AS sh
        |  FROM documents WHERE doc_id % 5 = 0),
        |f AS (SELECT doc_id, sh FROM d WHERE len(sh) >= 10),
        |q AS MATERIALIZED (
        |  SELECT doc_a, doc_b, overlap FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           CAST(len(list_intersect(a.sh, b.sh)) AS double)
        |                 / least(len(a.sh), len(b.sh)) AS overlap
        |    FROM f a JOIN f b ON a.doc_id < b.doc_id)
        |  WHERE overlap >= 0.8)
        |SELECT doc_a, doc_b, overlap FROM q ORDER BY doc_a, doc_b""".stripMargin,
    // the RAW LSH pair set: the full pipeline replayed in SQL — every
    // (doc_a, doc_b, jaccard) row independently recomputed by DuckDB
    "x4_dedup_minhash_lsh" ->
      (MinhashLshCte(0.6) +
        "\nSELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b"),
    // x4's pipeline replay + the identical argmax/draw/exclusion logic:
    // positives, candidates (fifth multiplier), and anti-join replay
    // bit-for-bit — the whole triplet set is value-gated
    "x101_triplet_mine" ->
      ("WITH RECURSIVE " + MinhashLshBody(0.6, "documents") +
        """,
          |pp AS MATERIALIZED (
          |  SELECT doc_a AS anchor, doc_b AS partner, jaccard FROM pairs
          |  UNION ALL SELECT doc_b, doc_a, jaccard FROM pairs),
          |pos AS (SELECT anchor, partner AS positive, jaccard AS pos_jaccard FROM pp
          |        QUALIFY row_number() OVER (PARTITION BY anchor
          |          ORDER BY jaccard DESC, partner) = 1),
          |nn AS (SELECT count(*) AS n FROM documents),
          |ncand AS (
          |  SELECT pos.anchor, j.j,
          |         (((pos.anchor * 8 + j.j) % 2147483647) * 1103515245) % 2147483647 % nn.n AS cnd
          |  FROM pos, generate_series(0, 7) AS j(j), nn),
          |nvalid AS (
          |  SELECT c.anchor, c.j, c.cnd FROM ncand c
          |  WHERE c.cnd <> c.anchor
          |    AND NOT EXISTS (SELECT 1 FROM pp WHERE pp.anchor = c.anchor AND pp.partner = c.cnd)),
          |neg AS (SELECT anchor, cnd AS negative FROM nvalid
          |        QUALIFY row_number() OVER (PARTITION BY anchor ORDER BY j) = 1)
          |SELECT pos.anchor, pos.positive, pos.pos_jaccard, neg.negative
          |FROM pos JOIN neg USING (anchor) ORDER BY pos.anchor""".stripMargin),
    // exact week arithmetic (Monday-truncated dates, day diffs always
    // multiples of 7) + one int/int rate division — replays exactly
    "q51_cohort_retention" ->
      """WITH wk AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |            FROM events WHERE event_id % 13 = 0),
        |f AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1),
        |m AS (SELECT f.cohort_week,
        |             CAST(date_diff('day', f.cohort_week, wk.w) // 7 AS INT) AS week_offset,
        |             CAST(count(*) AS BIGINT) AS n_users
        |      FROM wk JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_users,
        |  max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_week) AS cohort_size,
        |  CAST(n_users AS DOUBLE) / max(CASE WHEN week_offset = 0 THEN n_users END)
        |    OVER (PARTITION BY cohort_week) AS retention
        |FROM m ORDER BY cohort_week, week_offset""".stripMargin,
    // the composed replay: IQR fences gate g1, the FULL LSH pipeline
    // re-runs over g1 (bucket occupancy legitimately shifts post-gate),
    // decontam + eval removal give g2, DSIR scores g2, per-source rollup
    "x100_curation_v2" ->
      ("""WITH RECURSIVE vq AS (SELECT lang, n_chars AS v FROM documents),
         |rq AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS n FROM vq),
         |qtq AS (SELECT lang,
         |         max(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN v END) AS q25,
         |         max(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN v END) AS q75
         |       FROM rq GROUP BY lang),
         |fq AS (SELECT lang, q25 - (3 * (q75 - q25)) // 2 AS lo,
         |              q75 + (3 * (q75 - q25)) // 2 AS hi FROM qtq),
         |g1 AS MATERIALIZED (
         |  SELECT d.* FROM documents d JOIN fq USING (lang)
         |  WHERE d.n_chars BETWEEN fq.lo AND fq.hi),
         |""".stripMargin
        + MinhashLshBody(0.6, "g1") +
        """,
          |contam AS (SELECT DISTINCT CASE WHEN doc_a % 17 = 3 THEN doc_b ELSE doc_a END AS doc_id
          |           FROM pairs WHERE (doc_a % 17 = 3) <> (doc_b % 17 = 3)),
          |g2 AS MATERIALIZED (
          |  SELECT * FROM g1 WHERE doc_id % 17 <> 3
          |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
          |""".stripMargin
        + DsirCtes("g2") +
        """,
          |selraw AS (SELECT wd.doc_id, wd.weight_micro
          |  FROM wd, nr
          |  QUALIFY row_number() OVER (ORDER BY weight_micro DESC, doc_id)
          |    <= CAST(ceil(0.2 * n_raw) AS BIGINT)),
          |selsrc AS (SELECT g2.source, s.weight_micro FROM selraw s JOIN g2 USING (doc_id)),
          |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_input FROM documents GROUP BY 1),
          |f1 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_length_ok FROM g1 GROUP BY 1),
          |f2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_pool FROM g2 GROUP BY 1),
          |f3 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
          |              CAST(sum(weight_micro) AS BIGINT) AS w_selected FROM selsrc GROUP BY 1)
          |SELECT base.source, base.n_input,
          |  CAST(coalesce(f1.n_length_ok, 0) AS BIGINT) AS n_length_ok,
          |  CAST(coalesce(f2.n_pool, 0) AS BIGINT) AS n_pool,
          |  CAST(coalesce(f3.n_selected, 0) AS BIGINT) AS n_selected,
          |  CAST(coalesce(f3.w_selected, 0) AS BIGINT) AS w_selected
          |FROM base LEFT JOIN f1 USING (source) LEFT JOIN f2 USING (source)
          |  LEFT JOIN f3 USING (source)
          |ORDER BY base.source""".stripMargin),
    // x4's full pipeline replay again, filtered to pairs CROSSING the
    // eval boundary and rolled up per contaminated corpus doc — one
    // canonical near-dup definition shared with the dedup row
    "x96_fuzzy_decontam" ->
      (MinhashLshCte(0.6) +
        """
          |SELECT CASE WHEN doc_a % 17 = 3 THEN doc_b ELSE doc_a END AS doc_id,
          |       CAST(count(*) AS BIGINT) AS n_eval_matches,
          |       max(jaccard) AS max_jaccard
          |FROM pairs
          |WHERE (doc_a % 17 = 3) <> (doc_b % 17 = 3)
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the FULL IVF pipeline replayed in SQL: fixed-point centroid sums
    // (floor(x·10⁶) — integral doubles whose addition is exact, hence
    // order-independent, hence identical to the engine's parallel
    // vector_sum), dominant-dim selection, nprobe=5 nearest clusters per
    // probe, then x7's cosine ranking restricted to the selected clusters
    "x8_similarity_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dd AS (
        |  SELECT len(v) AS dom_sz FROM e GROUP BY len(v) ORDER BY count(*) DESC, len(v) LIMIT 1),
        |ev AS (SELECT vec_id, label, v FROM e, dd WHERE len(v) = dom_sz),
        |fx AS (
        |  SELECT label,
        |         unnest(generate_series(1, len(v))) AS di,
        |         unnest(list_transform(v, x -> floor(x * CAST(1000000 AS DOUBLE)))) AS xi
        |  FROM ev),
        |cn AS (SELECT label, count(*) AS n FROM ev GROUP BY label),
        |cent AS (
        |  SELECT sx.label, list(sx.s / (cn.n * CAST(1000000 AS DOUBLE)) ORDER BY sx.di) AS centroid
        |  FROM (SELECT label, di, SUM(xi) AS s FROM fx GROUP BY label, di) sx
        |  JOIN cn USING (label)
        |  GROUP BY sx.label, cn.n),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM ev WHERE vec_id < 10),
        |pc AS (
        |  SELECT probe_id, pv, label AS c_label
        |  FROM p, cent
        |  QUALIFY row_number() OVER (PARTITION BY probe_id
        |            ORDER BY list_cosine_similarity(pv, centroid) DESC, label) <= 5),
        |s AS (
        |  SELECT probe_id, c.vec_id AS cand_id, list_cosine_similarity(pv, c.v) AS rawsim
        |  FROM pc JOIN ev c ON c.label = pc.c_label AND c.vec_id != pc.probe_id
        |  WHERE NOT isnan(list_cosine_similarity(pv, c.v)))
        |SELECT probe_id, cand_id, round(rawsim, 4) AS sim,
        |       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) AS int) AS rank
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    "x6_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 5 = 0)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |       round(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.25
        |ORDER BY vec_a, vec_b""".stripMargin,
    "x7_similarity_topk" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT probe_id, cand_id, list_cosine_similarity(pv, cv) AS rawsim
        |  FROM p JOIN c ON probe_id != cand_id
        |  WHERE NOT isnan(list_cosine_similarity(pv, cv)))
        |SELECT probe_id, cand_id, round(rawsim, 4) AS sim,
        |       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) AS int) AS rank
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    "x22_topk_aggregate" ->
      """WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT probe_id, cand_id, list_cosine_similarity(pv, cv) AS rawsim
        |  FROM p JOIN c ON probe_id != cand_id
        |  WHERE NOT isnan(list_cosine_similarity(pv, cv)))
        |SELECT probe_id, cand_id, round(rawsim, 4) AS sim,
        |       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) AS int) AS rank
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    // the hyperplane index replayed in SQL: signs from the same
    // splitmix-style hash of (bit, 2^20-strided index) the engine's
    // hyperplane_bucket expression computes (one xor-shift-multiply in
    // HUGEINT mod 2^64, split at 2^32), projections via list_dot_product
    // over the vector's own length (matches the engine's left fold —
    // verified bit-exact on every (vector, bit) sign at sf0.01/sf0.1),
    // per-table 6-bit buckets in exact integer arithmetic, then x7's
    // cosine ranking restricted to the colliding candidates
    "x48_lsh_ann_topk" ->
      (HyperplaneCte +
        """,
          |cand AS (
          |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
          |  FROM tb p JOIN tb c ON p.t = c.t AND p.bucket = c.bucket AND p.sz = c.sz
          |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
          |)""".stripMargin + AnnRankSql),
    // multi-probe: the same replayed index, with each probe's bucket
    // expanded to {exact} ∪ {single-bit XOR flips} — integer arithmetic
    // on the replayed buckets, so the approximate query stays hash-gated
    "x51_multiprobe_ann" ->
      (HyperplaneCte +
        """,
          |flips AS (SELECT unnest([0, 1, 2, 4, 8, 16, 32]) AS f),
          |cand AS (
          |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
          |  FROM tb p CROSS JOIN flips
          |  JOIN tb c ON p.t = c.t AND xor(p.bucket, flips.f::BIGINT) = c.bucket AND p.sz = c.sz
          |  WHERE p.vec_id < 10 AND c.vec_id <> p.vec_id
          |)""".stripMargin + AnnRankSql),
    // x54: the planted-twin corpus (w = v + 0.3·rot1(v), same double
    // arithmetic order as the engine's zip_with) fed through the same
    // replayed hyperplane index, candidates = id pairs sharing any
    // (table, bucket, sz), exact cosine >= 0.9 verifies — the whole
    // approximate near-dup pipeline replayed stage for stage
    "x54_lsh_cosine_neardup" ->
      (hyperplaneCte(
        """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          |        WHERE len(embedding) > 0),
          |emb2 AS (
          |  SELECT vec_id, v AS embedding FROM e0
          |  UNION ALL
          |  SELECT vec_id + 1000000,
          |         list_transform(range(1, len(v) + 1), i -> v[i] + 0.3 * v[(i % len(v)) + 1])
          |  FROM e0
          |)""".stripMargin, "emb2") +
        """,
          |cand AS (
          |  SELECT DISTINCT p.vec_id AS vec_a, c.vec_id AS vec_b
          |  FROM tb p JOIN tb c ON p.t = c.t AND p.bucket = c.bucket AND p.sz = c.sz
          |    AND p.vec_id < c.vec_id
          |)
          |SELECT vec_a, vec_b, round(list_cosine_similarity(a.v, b.v), 4) AS sim
          |FROM cand JOIN e a ON cand.vec_a = a.vec_id JOIN e b ON cand.vec_b = b.vec_id
          |WHERE NOT isnan(list_cosine_similarity(a.v, b.v))
          |  AND list_cosine_similarity(a.v, b.v) >= 0.9
          |ORDER BY vec_a, vec_b""".stripMargin),
    // x16's quantization replayed (scale = max|v|/127, round = HALF-UP
    // away from zero in both engines), int8 cosine on EXACT integer
    // sums, shortlist cut of 15 by (qsim desc, cand_id), float rescore —
    // the same pipeline the engine runs, stage for stage
    "x52_int8_rescore_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127 AS scale FROM e),
        |q AS (SELECT vec_id, v, list_transform(v, x -> round(x / scale)) AS qv FROM sc WHERE scale > 0),
        |p AS (SELECT vec_id AS probe_id, v AS pv, qv AS pq FROM q WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cand_id, v AS cv, qv AS cq FROM q),
        |j AS (
        |  SELECT probe_id, cand_id, pv, cv, list_cosine_similarity(pq, cq) AS qsim
        |  FROM c JOIN p ON probe_id != cand_id
        |  WHERE NOT isnan(list_cosine_similarity(pq, cq))),
        |sl AS (
        |  SELECT probe_id, cand_id, pv, cv FROM j
        |  QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY qsim DESC, cand_id) <= 15),
        |s AS (
        |  SELECT probe_id, cand_id, list_cosine_similarity(pv, cv) AS rawsim
        |  FROM sl WHERE NOT isnan(list_cosine_similarity(pv, cv)))
        |SELECT probe_id, cand_id, round(rawsim, 4) AS sim,
        |       CAST(row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) AS int) AS rank
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY rawsim DESC, cand_id) <= 5
        |ORDER BY probe_id, rank""".stripMargin,
    // the incremental form: same replayed index, probes restricted to the
    // new-batch slice and candidates to the corpus slice — DuckDB
    // recomputes exactly what the engine reads from its persisted bucket
    // and vector stores, so staleness or drift in the store machinery
    // (not just the index math) breaks the hash gate
    "x49_incremental_ann" ->
      (HyperplaneCte +
        s""",
          |cand AS (
          |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
          |  FROM tb p JOIN tb c ON p.t = c.t AND p.bucket = c.bucket AND p.sz = c.sz
          |  WHERE ${isQuerySql("p.vec_id")} AND ${isCorpusSql("c.vec_id")}
          |)""".stripMargin + AnnRankSql),
    "x23_sample_per_group" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source
        |            ORDER BY ((doc_id % 2147483647) * 1640531527) % 2147483647, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, doc_id""".stripMargin,
    // same multiplicative hash as x23 (plain % matches pmod on the
    // fixture's non-negative ids, the precedent x23 set)
    "x30_stratified_split" ->
      """WITH a AS (
        |  SELECT source, doc_id,
        |    CASE WHEN ((doc_id % 2147483647) * 1640531527) % 2147483647 % 100 < 80 THEN 'train'
        |         WHEN ((doc_id % 2147483647) * 1640531527) % 2147483647 % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT source, split, count(*) AS n_docs, bit_xor(doc_id) AS id_xor,
        |       min(doc_id) AS id_min, max(doc_id) AS id_max
        |FROM a GROUP BY source, split ORDER BY source, split""".stripMargin,
    "x9_text_langid" ->
      """WITH h AS (
        |  SELECT doc_id, lang AS labeled_lang,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['the','a','and','of','to','in','is'], t))) AS int) AS h_en,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['el','la','los','de','y','que','en'], t))) AS int) AS h_es,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) AS int) AS h_de,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['le','la','les','et','est','une','que'], t))) AS int) AS h_fr
        |  FROM documents)
        |SELECT doc_id, labeled_lang,
        |  CASE WHEN h_en + h_es + h_de + h_fr = 0 THEN 'unknown'
        |       WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr THEN 'en'
        |       WHEN h_es >= h_de AND h_es >= h_fr THEN 'es'
        |       WHEN h_de >= h_fr THEN 'de'
        |       ELSE 'fr' END AS pred_lang,
        |  h_en, h_es, h_de, h_fr
        |FROM h ORDER BY doc_id""".stripMargin,
    "x10_text_quality" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS int) AS n_chars_m,
        |    CAST(len(regexp_split_to_array(text, '\s+')) AS int) AS n_tokens,
        |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS int) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS int) AS n_digits,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> list_contains(['the','a','and','of','to','in','is'], t))) AS int) AS n_stopwords
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_tokens, n_punct, n_digits, n_stopwords,
        |  CAST(n_chars_m - (n_tokens - 1) AS double) / n_tokens AS avg_token_len,
        |  CAST(n_punct AS double) / n_chars_m AS punct_ratio,
        |  CAST(n_digits AS double) / n_chars_m AS digit_ratio,
        |  CAST(n_stopwords AS double) / n_tokens AS stopword_ratio,
        |  round(1.0 / (1.0 + n_punct + n_digits) * (1.0 + CAST(n_stopwords AS double) / n_tokens), 6) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "x11_token_counts" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(text, '\s+'))) AS bigint) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))) AS bigint) AS bpe_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x12_doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(
        |    list_transform(range(1, length(text) - 2), i -> substring(text, CAST(i AS int), 4)))), '')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x13_multimodal_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS bigint) AS n_bytes,
        |       md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "x19_vocabulary" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents)
        |WHERE token != '' GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "x16_embedding_quantize" ->
      """WITH q AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127 AS scale
        |  FROM embeddings),
        |w AS (
        |  SELECT label, v, scale,
        |         list_transform(v, x -> round(x / scale) * scale) AS deq
        |  FROM q WHERE scale > 0),
        |m AS (
        |  SELECT label,
        |         list_sum(list_transform(v, x -> (x - round(x / scale) * scale) * (x - round(x / scale) * scale))) / len(v) AS mse,
        |         1.0 - list_cosine_similarity(v, deq) AS cos_drift
        |  FROM w)
        |SELECT label, count(*) AS n_vecs, round(avg(mse), 12) AS avg_mse,
        |       round(avg(cos_drift), 12) AS avg_cos_drift
        |FROM m GROUP BY label ORDER BY label""".stripMargin,
    // d and p MUST be MATERIALIZED: e references p twice (the UNION's two
    // directions) and p references d twice (the self-join) — inlined, the
    // brute-force all-pairs Jaccard join (12.5 M pairs at sf1) runs TWICE,
    // which stalled the sf1 gate on exactly this row (r17)
    "x20_dup_clusters_exact" ->
      ("""WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, length(text) - 1),
        |                       i -> substring(text, CAST(i AS int), 3))) AS sh
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           len(list_intersect(a.sh, b.sh)) AS i,
        |           len(a.sh) AS la, len(b.sh) AS lb
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |  WHERE CAST(i AS double) / (la + lb - i) >= 0.5),
        |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
        |""".stripMargin + minLabelReach("e") + """
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // x65: x20's reachability clusters + x10's rounded quality gate +
    // window argmax (quality desc, doc_id asc) — the keeper decision
    // replayed end to end
    "x65_dedup_keeper" ->
      ("""WITH d AS MATERIALIZED (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, length(text) - 1),
        |                       i -> substring(text, CAST(i AS int), 3))) AS sh
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |           len(list_intersect(a.sh, b.sh)) AS i,
        |           len(a.sh) AS la, len(b.sh) AS lb
        |    FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |  WHERE CAST(i AS double) / (la + lb - i) >= 0.5),
        |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p UNION SELECT doc_b, doc_a FROM p),
        |""".stripMargin + minLabelReach("e") + """,
        |c AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |q AS (
        |  SELECT doc_id,
        |         round(1.0 / (1.0 + len(regexp_extract_all(text, '[.,!?;:]'))
        |                          + len(regexp_extract_all(text, '[0-9]')))
        |           * (1.0 + CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                 t -> list_contains(['the','a','and','of','to','in','is'], t))) AS double)
        |               / len(regexp_split_to_array(text, '\s+'))), 6) AS quality_score
        |  FROM documents),
        |j AS (SELECT c.doc_id, c.cluster_id, q.quality_score FROM c JOIN q USING (doc_id)),
        |k AS (
        |  SELECT cluster_id, doc_id AS keeper FROM (
        |    SELECT cluster_id, doc_id,
        |           row_number() OVER (PARTITION BY cluster_id
        |                              ORDER BY quality_score DESC, doc_id) AS rn
        |    FROM j) WHERE rn = 1)
        |SELECT j.doc_id, j.cluster_id, j.quality_score, j.doc_id = k.keeper AS is_keeper
        |FROM j JOIN k USING (cluster_id) ORDER BY j.doc_id""".stripMargin),
    // x56: the same reachability oracle over the exact cosine near-dup
    // graph (x6's pair shape at 0.3) — clustering checked on an input
    // independent of both the text shingles and the LSH replay
    "x56_cosine_dup_clusters" ->
      ("""WITH e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |p AS MATERIALIZED (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |           list_cosine_similarity(a.v, b.v) AS c
        |    FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id)
        |  WHERE NOT isnan(c) AND c >= 0.3),
        |e AS MATERIALIZED (SELECT vec_a AS src, vec_b AS dst FROM p UNION SELECT vec_b, vec_a FROM p),
        |""".stripMargin + minLabelReach("e") + """
        |SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY vec_id""".stripMargin),
    // the RAW LSH cluster labels: the replayed pipeline's pairs resolved
    // to min-label components by the same unrolled doubling as x20. The
    // edge list is MATERIALIZED so the rounds never re-run the LSH replay.
    "x18_dup_clusters" ->
      (MinhashLshCte(0.62) +
        """,
          |e AS MATERIALIZED (
          |  SELECT doc_a AS src, doc_b AS dst FROM pairs
          |  UNION SELECT doc_b, doc_a FROM pairs),
          |""".stripMargin + minLabelReach("e") + """
          |SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // the composed curation pipeline, fully oracled: LSH losers from the
    // replayed pipeline, the x10 quality-score formula, the embeddings
    // semi-join, and the per-source retention report — every stage
    // recomputed by DuckDB from the original tables
    "x17_curation_pipeline" ->
      (MinhashLshCte(0.6) +
        """,
          |q AS (
          |  SELECT doc_id, source, n_chars,
          |    round(1.0 / (1.0 + len(regexp_extract_all(text, '[.,!?;:]'))
          |                     + len(regexp_extract_all(text, '[0-9]')))
          |      * (1.0 + CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
          |                 t -> list_contains(['the','a','and','of','to','in','is'], t))) AS double)
          |             / len(regexp_split_to_array(text, '\s+'))), 6) AS qs
          |  FROM documents),
          |kept AS (
          |  SELECT * FROM q
          |  WHERE qs >= 0.05
          |    AND doc_id NOT IN (SELECT doc_b FROM pairs)
          |    AND doc_id IN (SELECT vec_id FROM embeddings)),
          |tot AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source)
          |SELECT k.source, t.n_total, count(*) AS n_kept,
          |       CAST(sum(k.n_chars) AS bigint) AS kept_chars,
          |       round(CAST(sum(CAST(floor(k.qs * 1000000 + 0.5) AS BIGINT)) AS double)
          |             / count(*) / 1000000.0, 6) AS avg_quality,
          |       round(CAST(count(*) AS double) / t.n_total, 6) AS retention
          |FROM kept k JOIN tot t ON k.source = t.source
          |GROUP BY k.source, t.n_total
          |ORDER BY k.source""".stripMargin),
    "x21_multimodal_frames" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
        |f AS (
        |  SELECT doc_id, n, CAST(ceil(n / 256.0) AS bigint) AS n_frames FROM b WHERE n > 0),
        |s AS (
        |  SELECT doc_id, n, n_frames,
        |         (n_frames - 1) // 4 + 1 AS n_sampled,
        |         ((n_frames - 1) // 4) * 4 AS last_idx
        |  FROM f)
        |SELECT doc_id, n_frames, n_sampled,
        |       (n_sampled - 1) * 256 +
        |       CASE WHEN last_idx = n_frames - 1 THEN n - (n_frames - 1) * 256 ELSE 256 END AS sampled_bytes
        |FROM s ORDER BY doc_id""".stripMargin,
    // batch counts are exact, and n_pairs is DuckDB-exact too: the
    // restriction-equality contract (QueriesSpec) makes the incremental
    // pair set equal the whole-pipeline LSH replay restricted to pairs
    // with a new endpoint, so the oracle counts those
    "x31_incremental_dedup" ->
      (MinhashLshCte(0.6) +
        """
          |SELECT (SELECT count(*) FROM documents WHERE doc_id % 10 = 7) AS n_new,
          |       (SELECT count(*) FROM documents WHERE doc_id % 10 <> 7) AS n_corpus,
          |       count(*) FILTER (WHERE doc_a % 10 = 7 OR doc_b % 10 = 7) AS n_pairs,
          |       true AS all_pairs_verified
          |FROM pairs""".stripMargin),
    // same regexes as the Spark side (chosen Java/RE2-portable); DuckDB
    // needs the explicit 'g' flag for replace-all
    "x32_pii_redaction" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS int) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS int) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS int) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |     + len(regexp_extract_all(text, '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS int) AS n_pii
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same whitespace-lower tokenization as x11/x29; DuckDB range() is
    // end-exclusive, so range(1, len-n+2) == Spark sequence(1, len-n+1)
    "x33_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
        |         i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
        |  FROM t),
        |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 17 = 3)
        |SELECT doc_id, count(*) AS n_hits
        |FROM g JOIN b USING (gram)
        |WHERE doc_id % 17 <> 3
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x34_repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
        |         i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
        |  FROM t),
        |c AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
        |r AS (SELECT doc_id, bigram, n,
        |             CAST(sum(n) OVER (PARTITION BY doc_id) AS bigint) AS n_bigrams,
        |             row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rk FROM c)
        |SELECT doc_id, n_bigrams, bigram AS top_bigram, n AS top_n,
        |       CAST(n AS double) / n_bigrams AS top_frac
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // same multiplicative-hash-with-independent-multiplier as the Spark
    // side; plain % matches pmod on the fixture's non-negative ids (the
    // x23/x30 precedent)
    "x35_mixture_resample" ->
      """WITH a AS (
        |  SELECT source, doc_id,
        |         CASE source WHEN 'src0' THEN 2500 WHEN 'src5' THEN 5000
        |                     WHEN 'src10' THEN 7500 ELSE 10000 END AS thr,
        |         ((doc_id % 2147483647) * 1103515245) % 2147483647 % 10000 AS bucket
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS bigint) AS n_kept,
        |       bit_xor(CASE WHEN bucket < thr THEN doc_id ELSE 0 END) AS kept_id_xor
        |FROM a GROUP BY source ORDER BY source""".stripMargin,
    // the batch definition of "first event per user"; the streaming side
    // must reproduce it exactly because its min-struct state is commutative
    "x36_streaming_first_touch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, CAST(value AS decimal(18,2)) AS v,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id, us AS first_us, event_id AS first_event_id,
        |       CAST(v AS double) AS first_value
        |FROM e WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // same gram CTE as x33 (shared Spark-side helper, shared SQL shape)
    "x37_boilerplate_ngrams" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
        |         i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
        |  FROM t),
        |f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |SELECT doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS bigint) AS n_boiler,
        |       CAST(sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS double) / count(*) AS boiler_frac
        |FROM g JOIN f USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same gram definition as x37; coverage = any shared gram starting in
    // [pos-7, pos]; rebuilt text md5-pinned byte-for-byte (the coalesce
    // keeps a fully-covered doc at md5('') on both sides — DuckDB's
    // array_to_string([]) is NULL, not '')
    "x62_boilerplate_removal" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
        |         i -> struct_pack(start := i, gram := array_to_string(list_slice(toks, i, i + 7), ' ')))) AS g
        |  FROM t),
        |s2 AS (SELECT doc_id, g.start AS start, g.gram AS gram FROM sg),
        |f AS (SELECT gram FROM s2 GROUP BY gram HAVING count(DISTINCT doc_id) >= 3),
        |cov AS (
        |  SELECT DISTINCT doc_id, unnest(range(start, start + 8)) AS pos
        |  FROM s2 JOIN f USING (gram)),
        |tk AS (
        |  SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos FROM t),
        |k AS (
        |  SELECT tk.doc_id, tk.pos, tk.tok, cov.pos IS NOT NULL AS covered
        |  FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN NOT covered THEN 1 ELSE 0 END) AS bigint) AS n_kept,
        |       CAST(sum(CASE WHEN NOT covered THEN 1 ELSE 0 END) AS double) / count(*) AS kept_frac,
        |       md5(coalesce(array_to_string(list(tok ORDER BY pos) FILTER (WHERE NOT covered), ' '), '')) AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // every trigram occurrence keeps its multiplicity (no per-doc
    // distinct) — novelty counts occurrences, unlike x37's distinct grams
    "x66_trigram_novelty" ->
      """WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(length(tx) - 2, 0) + 1),
        |         i -> substring(tx, CAST(i AS int), 3))) AS tri
        |  FROM t WHERE length(tx) >= 3),
        |c AS (SELECT tri, count(*) AS n FROM g GROUP BY tri)
        |SELECT doc_id, count(*) AS n_tri,
        |       CAST(sum(CASE WHEN c.n < 50 THEN 1 ELSE 0 END) AS bigint) AS n_rare,
        |       CAST(sum(CASE WHEN c.n < 50 THEN 1 ELSE 0 END) AS double) / count(*) AS rare_frac
        |FROM g JOIN c USING (tri)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // counts replayed by exploding characters (the form the kernel exists
    // to avoid); both double scores are single divisions of exact ints
    "x67_char_diversity" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(list_transform(range(1, length(text)+1), i -> text[i])) AS ch
        |  FROM documents),
        |cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
        |st AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |              CAST(count(*) AS BIGINT) AS n_distinct,
        |              CAST(max(c) AS BIGINT) AS maxc, CAST(sum(c*c) AS BIGINT) AS sumc2
        |       FROM cc GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct,
        |       CASE WHEN n_chars > 0
        |         THEN CAST(maxc AS double)/CAST(n_chars AS double) END AS top_char_frac,
        |       CASE WHEN n_chars > 0
        |         THEN 1.0 - CAST(sumc2 AS double)/CAST(n_chars*n_chars AS double) END AS simpson
        |FROM st ORDER BY doc_id""".stripMargin,
    // the simhash band-0 blocking replayed through the full fingerprint
    // CTE (x5/x25's), then unbanded levenshtein <= the engine's threshold
    "x68_editdist_neardup" ->
      (SimhashOracleCte +
        """,
          |sig AS (
          |  SELECT f.doc_id, CAST((fpu // 281474976710656) % 65536 AS BIGINT) AS band0,
          |         substr(d.text, 1, 64) AS pfx
          |  FROM fps f JOIN documents d ON f.doc_id = d.doc_id),
          |lv AS MATERIALIZED (
          |  SELECT doc_a, doc_b, lev FROM (
          |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |           CAST(levenshtein(a.pfx, b.pfx) AS INT) AS lev
          |    FROM sig a JOIN sig b ON a.band0 = b.band0 AND a.doc_id < b.doc_id)
          |  WHERE lev <= 20)
          |SELECT doc_a, doc_b, lev FROM lv ORDER BY doc_a, doc_b""".stripMargin),
    // both engines DERIVE the decomposed text (e -> e + U+0301), so the
    // normalize/strip round-trip is pinned end-to-end: nfc_normalize and
    // strip_accents are DuckDB built-ins, the engine side is the
    // unicode_normalize/strip_accents codegen kernels
    "x69_unicode_normalize" ->
      """WITH s AS (SELECT doc_id, substr(text, 1, 40) AS seg FROM documents),
        |d AS (SELECT doc_id, seg,
        |             regexp_replace(seg, 'e', 'e' || chr(769), 'g') AS decs FROM s),
        |n AS (SELECT doc_id, seg, decs, nfc_normalize(decs) AS nfc FROM d)
        |SELECT doc_id, CAST(length(seg) AS INT) AS n_raw, CAST(length(decs) AS INT) AS n_dec,
        |       CAST(length(nfc) AS INT) AS n_nfc,
        |       nfc <> decs AS composed,
        |       strip_accents(nfc) = seg AS restored_ok
        |FROM n ORDER BY doc_id""".stripMargin,
    // same tokenization as x11/x33; running sum over (source, doc_id % 4)
    // shards in doc_id order, integer pack arithmetic
    "x38_sequence_packing" ->
      """WITH t AS (
        |  SELECT source, doc_id, doc_id % 4 AS shard,
        |         len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT source, shard, doc_id, CAST(n_tokens AS int) AS n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint) AS tok_start
        |  FROM t)
        |SELECT source, shard, doc_id, n_tokens, tok_start,
        |       tok_start // 256 AS pack_id,
        |       (tok_start + greatest(n_tokens, 1) - 1) // 256 - tok_start // 256 + 1 AS packs_spanned
        |FROM s ORDER BY doc_id""".stripMargin,
    // the batch definition of the watermarked stream-stream interval join;
    // chronological replay means no late data, so they agree exactly
    "x39_stream_interval_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY a.user_id, click_id, purchase_id""".stripMargin,
    // the outer join's emitted set equals the batch LEFT join: matched
    // pairs ride the inner path; a null row appears exactly when the
    // watermark proved no purchase can still land in the click's window
    "x50_stream_outer_join" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
        |       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
        |FROM (SELECT * FROM events WHERE event_type = 'click') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY a.user_id, click_id, purchase_id""".stripMargin,
    // the batch FULL interval join is the exact oracle for x58 (same
    // argument as x50: chronological replay means the emitted set equals
    // the batch join; null sides for proven-unmatched rows)
    "x58_stream_full_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS click_us, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS p_user_id, epoch_us(ts) AS p_us, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT coalesce(c.user_id, p.p_user_id) AS user_id, c.click_id, p.purchase_id,
        |       p.p_us - c.click_us AS delta_us
        |FROM c FULL JOIN p
        |  ON c.user_id = p.p_user_id
        | AND p.p_us >= c.click_us AND p.p_us <= c.click_us + 1800000000
        |ORDER BY user_id, click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    // every parsed field recomputed from the plant formula, so a parse
    // reading the wrong offset/endianness hash-mismatches; header sizes
    // are the formats' real ones (png 29 parsed bytes, bmp 26, wav 28)
    "x60_media_sniff" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS int) WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(octet_length(encode(text)) +
        |       CASE CAST(doc_id % 3 AS int) WHEN 0 THEN 29 WHEN 1 THEN 26 ELSE 28 END AS bigint) AS n_bytes,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(16 + doc_id % 509 AS bigint) END AS width,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(16 + (doc_id * 7) % 509 AS bigint) END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(8000 + (doc_id % 8) * 4000 AS bigint) END AS sample_rate,
        |  CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 2 AS bigint) END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    // byte accounting: SOI(2) + APP0(18) + COM hdr(4) + COM body +
    // SOF(19) + text bytes + EOI(2) = 45 + com + text; truncated ids
    // keep exactly SOI+APP0 = 20 bytes and parse to NULL dims
    "x78_jpeg_dims" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 7 = 3 THEN 20
        |       ELSE 45 + LEAST(doc_id % 40, octet_length(encode(text)))
        |            + octet_length(encode(text)) END AS bigint) AS n_bytes,
        |  CASE WHEN doc_id % 7 <> 3 THEN CAST(100 + (doc_id * 31) % 64000 AS bigint) END AS width,
        |  CASE WHEN doc_id % 7 <> 3 THEN CAST(8 + (doc_id * 7) % 60000 AS bigint) END AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    // one row per planted pixel, channel values closed-form in
    // (doc_id, x, y); PNG is lossless so the decoded sums must equal
    // these exactly — png_real is the x8-class invariant boolean (a
    // real PNG can never be <= 57 bytes)
    "x79_real_decode" ->
      """WITH px AS (
        |  SELECT doc_id, x.x AS x, y.y AS y
        |  FROM documents, generate_series(0, 15) AS x(x), generate_series(0, 8) AS y(y)
        |  WHERE x.x < 4 + doc_id % 13 AND y.y < 3 + doc_id % 7)
        |SELECT doc_id, true AS png_real,
        |  CAST(4 + doc_id % 13 AS int) AS width,
        |  CAST(3 + doc_id % 7 AS int) AS height,
        |  CAST((4 + doc_id % 13) * (3 + doc_id % 7) AS bigint) AS n_px,
        |  CAST(sum((3 * doc_id + x) % 256) AS bigint) AS sum_r,
        |  CAST(sum((doc_id + 7 * y) % 256) AS bigint) AS sum_g,
        |  CAST(sum((doc_id + x + 2 * y) % 256) AS bigint) AS sum_b
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // one row per planted 16-bit sample, sign-extended exactly as the
    // decoder does; truncated docs (id%9==4) surface NULL stats
    "x80_wav_pcm" ->
      """WITH s AS (
        |  SELECT doc_id, CAST((doc_id * 31 + i.i * 7) % 65536 AS bigint) AS v
        |  FROM documents, generate_series(0, 149) AS i(i)
        |  WHERE i.i < 50 + doc_id % 100),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS bigint) AS ns, CAST(sum(sv) AS bigint) AS ss,
        |    CAST(sum(sv * sv) AS bigint) AS sq,
        |    CAST(min(sv) AS bigint) AS mn, CAST(max(sv) AS bigint) AS mx
        |  FROM (SELECT doc_id, CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS sv FROM s)
        |  GROUP BY doc_id)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 9 <> 4 THEN ns END AS n_samples,
        |  CASE WHEN doc_id % 9 <> 4 THEN ss END AS sum_s,
        |  CASE WHEN doc_id % 9 <> 4 THEN sq END AS sum_sq,
        |  CASE WHEN doc_id % 9 <> 4 THEN mn END AS s_min,
        |  CASE WHEN doc_id % 9 <> 4 THEN mx END AS s_max
        |FROM agg ORDER BY doc_id""".stripMargin,
    // frame count and first/last dims replay from the plant formulas;
    // the truncated share (id%11==7) must surface NULLs
    "x81_mjpeg_demux" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 <> 7 THEN CAST(1 + doc_id % 4 AS bigint) END AS n_frames,
        |  CASE WHEN doc_id % 11 <> 7 THEN CAST(20 + doc_id % 300 AS bigint) END AS first_w,
        |  CASE WHEN doc_id % 11 <> 7 THEN CAST(10 + (doc_id * 2) % 200 AS bigint) END AS first_h,
        |  CASE WHEN doc_id % 11 <> 7
        |    THEN CAST(20 + (doc_id + (doc_id % 4) * 5) % 300 AS bigint) END AS last_w,
        |  CASE WHEN doc_id % 11 <> 7
        |    THEN CAST(10 + (doc_id * 2 + (doc_id % 4) * 3) % 200 AS bigint) END AS last_h
        |FROM documents ORDER BY doc_id""".stripMargin,
    // x99: x86's closed-form plant restricted to sampled frames (j%2=0)
    // and the even-(x,y) decimation grid; thumb dims are ⌈w/2⌉×⌈h/2⌉ —
    // the resized sums must match the planted values exactly
    "x99_video_thumbnail" ->
      """WITH f AS (
        |  SELECT doc_id, j.j AS frame_idx, doc_id * 4 + j.j AS fid
        |  FROM documents, generate_series(0, 2) AS j(j)
        |  WHERE j.j < 1 + doc_id % 3 AND doc_id % 13 <> 5 AND j.j % 2 = 0),
        |px AS (
        |  SELECT doc_id, frame_idx, fid, x.x AS x, y.y AS y
        |  FROM f, generate_series(0, 15) AS x(x), generate_series(0, 8) AS y(y)
        |  WHERE x.x < 4 + fid % 13 AND y.y < 3 + fid % 7
        |    AND x.x % 2 = 0 AND y.y % 2 = 0)
        |SELECT doc_id, CAST(frame_idx AS int) AS frame_idx,
        |  CAST((4 + fid % 13 + 1) // 2 AS int) AS width,
        |  CAST((3 + fid % 7 + 1) // 2 AS int) AS height,
        |  CAST(((4 + fid % 13 + 1) // 2) * ((3 + fid % 7 + 1) // 2) AS bigint) AS n_px,
        |  CAST(sum((3 * fid + x) % 256) AS bigint) AS sum_r,
        |  CAST(sum((fid + 7 * y) % 256) AS bigint) AS sum_g,
        |  CAST(sum((fid + x + 2 * y) % 256) AS bigint) AS sum_b
        |FROM px GROUP BY doc_id, frame_idx, fid ORDER BY doc_id, frame_idx""".stripMargin,
    // x86: one row per planted pixel of every surviving frame, channel
    // values closed-form in (fid = doc_id·4 + frame, x, y); the lossless
    // codec means the decoded per-frame sums must equal these exactly,
    // and truncated docs (id%13==5) must contribute ZERO rows
    "x86_video_pixels" ->
      """WITH f AS (
        |  SELECT doc_id, j.j AS frame_idx, doc_id * 4 + j.j AS fid
        |  FROM documents, generate_series(0, 2) AS j(j)
        |  WHERE j.j < 1 + doc_id % 3 AND doc_id % 13 <> 5),
        |px AS (
        |  SELECT doc_id, frame_idx, fid, x.x AS x, y.y AS y
        |  FROM f, generate_series(0, 15) AS x(x), generate_series(0, 8) AS y(y)
        |  WHERE x.x < 4 + fid % 13 AND y.y < 3 + fid % 7)
        |SELECT doc_id, CAST(frame_idx AS int) AS frame_idx,
        |  CAST(4 + fid % 13 AS int) AS width,
        |  CAST(3 + fid % 7 AS int) AS height,
        |  CAST((4 + fid % 13) * (3 + fid % 7) AS bigint) AS n_px,
        |  CAST(sum((3*fid + x) % 256) AS bigint) AS sum_r,
        |  CAST(sum((fid + 7*y) % 256) AS bigint) AS sum_g,
        |  CAST(sum((fid + x + 2*y) % 256) AS bigint) AS sum_b
        |FROM px GROUP BY doc_id, frame_idx, fid ORDER BY doc_id, frame_idx""".stripMargin,
    // x87: the full SemDeDup replay — x8's fixed-point centroid CTE,
    // 1-NN cell assignment, in-cell cosine pairs at 0.3, x56's
    // recursive-CTE reachability, keeper = min cos-to-centroid window
    "x87_semdedup" ->
      ("""WITH RECURSIVE e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dd AS (
        |  SELECT len(v) AS dom_sz FROM e GROUP BY len(v) ORDER BY count(*) DESC, len(v) LIMIT 1),
        |ev AS (SELECT vec_id, label, v FROM e, dd WHERE len(v) = dom_sz),
        |fx AS (
        |  SELECT label, unnest(generate_series(1, len(v))) AS di,
        |         unnest(list_transform(v, x -> floor(x * CAST(1000000 AS DOUBLE)))) AS xi
        |  FROM ev),
        |cn AS (SELECT label, count(*) AS n FROM ev GROUP BY label),
        |cent AS (
        |  SELECT sx.label AS c_label, list(sx.s / (cn.n * CAST(1000000 AS DOUBLE)) ORDER BY sx.di) AS centroid
        |  FROM (SELECT label, di, SUM(xi) AS s FROM fx GROUP BY label, di) sx
        |  JOIN cn ON sx.label = cn.label
        |  GROUP BY sx.label, cn.n),
        |asg AS MATERIALIZED (
        |  SELECT vec_id, v, c_label AS cell, list_cosine_similarity(v, centroid) AS cc
        |  FROM ev, cent
        |  WHERE NOT isnan(list_cosine_similarity(v, centroid))
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |            ORDER BY list_cosine_similarity(v, centroid) DESC, c_label) = 1),
        |p AS MATERIALIZED (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE NOT isnan(list_cosine_similarity(a.v, b.v))
        |    AND list_cosine_similarity(a.v, b.v) >= 0.3),
        |ed AS MATERIALIZED (SELECT va AS src, vb AS dst FROM p UNION SELECT vb, va FROM p),
        |""".stripMargin + minLabelReach("ed") + """,
        |comp AS (SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id)
        |SELECT c.vec_id, a.cell, c.component, round(a.cc, 4) AS cos_cent,
        |       row_number() OVER (PARTITION BY c.component ORDER BY a.cc ASC, c.vec_id) = 1 AS is_keeper
        |FROM comp c JOIN asg a ON a.vec_id = c.vec_id
        |ORDER BY c.vec_id""".stripMargin),
    // x88: byte-for-byte gram replay + the identical gaps-and-islands
    // merge — every quantity integer arithmetic, zero float tolerance
    "x88_substring_dedup" ->
      """WITH gr AS (
        |  SELECT doc_id, unnest(generate_series(1, len(text) - 39)) AS pos, text
        |  FROM documents WHERE len(text) >= 40),
        |g2 AS (SELECT doc_id, pos, substr(text, pos, 40) AS gram FROM gr),
        |dup AS (SELECT gram FROM g2 GROUP BY gram HAVING count(*) > 1),
        |spans AS (SELECT g2.doc_id, g2.pos AS s, g2.pos + 39 AS e FROM g2 JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) THEN 1 ELSE 0 END AS brk
        |  FROM spans),
        |isl2 AS (
        |  SELECT doc_id, s, e,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM isl),
        |merged AS (SELECT doc_id, island, min(s) AS ss, max(e) AS ee
        |           FROM isl2 GROUP BY doc_id, island)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(ee - ss + 1) AS BIGINT) AS dup_chars
        |FROM merged GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x89: identical tokenize → lead-bigrams → add-one bigram model →
    // per-bigram NLL quantized to micro-nat longs → exact integer sums;
    // the only floats are one exactly-rounded IEEE quotient and one ln
    // whose 1e-6 quantum both engines' libm agree far past (x72's
    // precedent); avg is integer/integer double division, rounded to 6
    "x89_bigram_lm" ->
      """WITH t0 AS (
        |  SELECT doc_id, unnest(generate_series(1, len(arr))) AS p0, unnest(arr) AS token
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS arr FROM documents)),
        |t1 AS (SELECT doc_id, p0, token FROM t0 WHERE token != ''),
        |bi AS (
        |  SELECT doc_id, token AS w1,
        |         lead(token) OVER (PARTITION BY doc_id ORDER BY p0) AS w2
        |  FROM t1),
        |dtf AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS tf
        |        FROM bi WHERE w2 IS NOT NULL GROUP BY doc_id, w1, w2),
        |c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM dtf GROUP BY w1, w2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
        |v AS (SELECT count(DISTINCT token) AS vsz FROM t1),
        |sc AS (
        |  SELECT dtf.doc_id, dtf.tf,
        |         CAST(floor(-ln((c2.c2 + 1.0) / (c1.c1 + v.vsz)) * 1000000.0) AS BIGINT)
        |           * dtf.tf AS nll_u
        |  FROM dtf JOIN c2 ON dtf.w1 = c2.w1 AND dtf.w2 = c2.w2
        |  JOIN c1 ON dtf.w1 = c1.w1, v)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |       CAST(sum(nll_u) AS BIGINT) AS nll_micro,
        |       round(CAST(sum(nll_u) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) / 1000000.0, 6) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // x90: identical tokenize → lead-bigrams → md5-bucket hash (the
    // '0x'||substr(md5,1,8) parse equals Spark's conv(...,16,10)) →
    // add-one bucket distributions → micro-nat-quantized log-ratios →
    // exact integer doc weights → the same deterministic rank cut
    "x90_dsir_select" ->
      ("WITH " + DsirCtes("documents") +
        """
          |SELECT doc_id, n_feats, weight_micro,
          |       row_number() OVER (ORDER BY weight_micro DESC, doc_id)
          |         <= CAST(ceil(0.2 * n_raw) AS BIGINT) AS selected
          |FROM wd, nr ORDER BY doc_id""".stripMargin),
    // plain id-ordered 3-join replay (the triangle set is independent of
    // the engine's degree orientation); integer-exact throughout
    "x82_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS pa, b.pk AS pb FROM op a JOIN op b
        |      ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |t AS (SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        |      FROM e e1 JOIN e e2 ON e1.pa = e2.pa AND e1.pb < e2.pb
        |      JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        |nodes AS (SELECT node, CAST(count(*) AS bigint) AS n_tri
        |          FROM (SELECT unnest([x, y, z]) AS node FROM t) GROUP BY node),
        |tot AS (SELECT CAST(sum(n_tri) // 3 AS bigint) AS total_triangles FROM nodes)
        |SELECT node AS l_partkey, n_tri, total_triangles FROM nodes, tot
        |ORDER BY n_tri DESC, node LIMIT 20""".stripMargin,
    // exact values replay; the sketch-union estimate rides as the
    // union_ok/dedup_ok invariant booleans (the x27 gate pattern)
    "x83_hll_union" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |    x -> x <> '')) AS token
        |  FROM documents)
        |SELECT
        |  CAST(count(DISTINCT source) AS bigint) AS n_sources,
        |  CAST((SELECT sum(nd) FROM (
        |     SELECT count(DISTINCT token) AS nd FROM toks GROUP BY source)) AS bigint)
        |    AS sum_nd_src,
        |  CAST(count(DISTINCT token) AS bigint) AS nd_union_exact,
        |  true AS union_ok, true AS dedup_ok
        |FROM toks""".stripMargin,
    // the priority order replays exactly: u is pure integer arithmetic
    // and w/u is one correctly-rounded IEEE division in both engines
    "x84_priority_sample" ->
      """WITH b AS (
        |  SELECT source, doc_id,
        |    CAST(greatest(length(text), 1) AS bigint) AS w,
        |    CAST(((doc_id % 2147483647) * 1566083941) % 2147483647 + 1 AS bigint) AS u
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, w, u, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY CAST(w AS DOUBLE) / CAST(u AS DOUBLE) DESC, doc_id) AS rk
        |  FROM b)
        |SELECT source, doc_id, w, u FROM r WHERE rk <= 25
        |ORDER BY source, doc_id""".stripMargin,
    // the prefix filter is lossless for ANY (⌊(1-t)·sz⌋+1)-subset, so
    // this replay picks ITS OWN prefix (df-ordered over gram STRINGS
    // where the engine orders hashed grams) — the final pair set and
    // overlap values must still match exactly
    "x85_containment_join" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, list_sort(list_distinct(list_transform(
        |    range(1, greatest(len(t) - 4, 0) + 1),
        |    i -> array_to_string(t[i:i+4], ' ')))) AS sh
        |  FROM w),
        |f AS (SELECT doc_id, sh, len(sh) AS sz FROM d WHERE len(sh) >= 10),
        |ex AS (SELECT doc_id, sz, unnest(sh) AS g FROM f),
        |df AS (SELECT g, count(*) AS dfc FROM ex GROUP BY g),
        |sig AS (
        |  SELECT doc_id, sz, g FROM ex JOIN df USING (g)
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dfc, g)
        |          <= CAST(floor(0.2 * sz) AS int) + 1),
        |cand AS (
        |  SELECT DISTINCT least(s.doc_id, a.doc_id) AS doc_a,
        |                  greatest(s.doc_id, a.doc_id) AS doc_b
        |  FROM sig s JOIN ex a ON s.g = a.g
        |  WHERE s.sz < a.sz OR (s.sz = a.sz AND s.doc_id < a.doc_id)),
        |q AS MATERIALIZED (
        |  SELECT doc_a, doc_b, overlap FROM (
        |    SELECT c.doc_a, c.doc_b,
        |      CAST(len(list_intersect(x.sh, y.sh)) AS double) / least(x.sz, y.sz) AS overlap
        |    FROM cand c JOIN f x ON x.doc_id = c.doc_a JOIN f y ON y.doc_id = c.doc_b)
        |  WHERE overlap >= 0.8)
        |SELECT doc_a, doc_b, overlap FROM q ORDER BY doc_a, doc_b""".stripMargin,
    // the shuffle hash is plain integer arithmetic (% == pmod on the
    // fixture's non-negative ids — the x23/x30 precedent), so the oracle
    // reproduces the manifest row for row
    "x59_shuffle_shards" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |         ((doc_id % 2147483647) * 741103597) % 2147483647 AS h
        |  FROM documents)
        |SELECT doc_id, source, CAST(h % 8 AS bigint) AS shard,
        |       row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        |FROM m ORDER BY shard, pos""".stripMargin,
    // stream-static enrichment changes WHEN rows are joined, not what they
    // contain: the batch join is the exact oracle. cents via decimal(18,2)
    // like the Spark side, summed exactly, one final double division
    "x40_stream_enrich" ->
      """SELECT n_name, event_type, count(*) AS n_events,
        |       CAST(sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint)) AS double) / 100 AS total_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, event_type ORDER BY n_name, event_type""".stripMargin,
    // the whole aHash pipeline replayed: plant twins → 64 strided byte
    // samples (ord == byte value; the engine guards single-byte text) →
    // thumbnail-mean threshold → 4×16-bit bands → bucket join →
    // xor/popcount Hamming — all integer arithmetic
    "x64_ahash_neardup" ->
      """WITH src AS (SELECT doc_id, text FROM documents),
        |tw AS (
        |  SELECT doc_id + 100000 AS doc_id,
        |         substr(text, 1, len(text) - greatest(1, len(text) // 16))
        |           || repeat('z', greatest(1, len(text) // 16)) AS text
        |  FROM src WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM src UNION ALL SELECT * FROM tw),
        |b AS (SELECT doc_id, text, len(text) AS n FROM corpus),
        |v AS (SELECT doc_id, list_transform(range(0, 64),
        |         i -> ord(substr(text, CAST(i * n // 64 AS int) + 1, 1))) AS v FROM b),
        |h AS (SELECT doc_id, v, list_aggregate(v, 'sum') AS sm FROM v),
        |bands AS (
        |  SELECT doc_id, k.k AS band_idx,
        |         list_aggregate(list_transform(range(0, 16),
        |           j -> CASE WHEN v[16 * k.k + j + 1] * 64 > sm THEN (1 << (15 - j)) ELSE 0 END),
        |           'sum') AS band_val
        |  FROM h, (SELECT unnest(range(0, 4)) AS k) k),
        |b4 AS (SELECT doc_id, list(band_val ORDER BY band_idx) AS bv FROM bands GROUP BY doc_id),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM bands a JOIN bands c
        |    ON a.band_idx = c.band_idx AND a.band_val = c.band_val AND a.doc_id < c.doc_id),
        |ham AS (
        |  SELECT doc_a, doc_b,
        |         CAST(list_aggregate(list_transform(range(0, 4),
        |           k -> bit_count(xor(x.bv[k + 1], y.bv[k + 1]))), 'sum') AS int) AS hamming
        |  FROM cand JOIN b4 x ON x.doc_id = doc_a JOIN b4 y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the engine side computes these over its JSONL copy; the oracle over
    // the original parquet — the round trip must be byte-lossless. The sum
    // MUST be cast: DuckDB's sum(int) is HUGEINT, which reaches the
    // driver's comparison as float64 and hash-mismatches the engine's
    // bigint even when every value is identical (the r5 x41/x42 failure —
    // every other passing sum in this map follows the same convention).
    "x41_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs, bit_xor(doc_id) AS id_xor,
        |       CAST(sum(length(text)) AS bigint) AS sum_chars,
        |       min(md5(text)) AS md5_min, max(md5(text)) AS md5_max
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical contract to x41: the ORC copy must carry the original's
    // exact content, so the oracle is the original's fingerprints
    "x53_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs, bit_xor(doc_id) AS id_xor,
        |       CAST(sum(length(text)) AS bigint) AS sum_chars,
        |       min(md5(text)) AS md5_min, max(md5(text)) AS md5_max
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // compaction must not change content: same fingerprints as x41 over
    // the original table; the file-count contract rides as booleans
    "x42_compaction" ->
      """SELECT source, count(*) AS n_docs, bit_xor(doc_id) AS id_xor,
        |       CAST(sum(length(text)) AS bigint) AS sum_chars,
        |       min(md5(text)) AS md5_min, max(md5(text)) AS md5_max,
        |       true AS was_fragmented, true AS is_compacted
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // same tokenization + vocab definition as x19 (count desc, token asc)
    "x46_oov_rate" ->
      """WITH tk AS (
        |  SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents),
        |t AS (SELECT source, token FROM tk WHERE token != ''),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS n FROM t GROUP BY token
        |  ORDER BY n DESC, token LIMIT 50))
        |SELECT source, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_in_vocab,
        |       CAST(count(*) - sum(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END) AS double)
        |             / count(*) AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.token
        |GROUP BY source ORDER BY source""".stripMargin,
    // the at-least-once duplication is engine-side noise the dedup must
    // fully cancel: the oracle never sees it
    "x45_stream_exactly_once" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(CAST(value AS decimal(18,2)) * 100 AS bigint)) AS double) / 100 AS total_value,
        |       bit_xor(event_id) AS event_xor
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the whole composed funnel recomputed stage by stage: holdout -> PII
    // scrub -> length gate -> norm-key dedup -> 8-gram decontam -> split
    "x44_curation_funnel" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |         regexp_replace(regexp_replace(regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |           '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '<PHONE>', 'g') AS clean
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, source, clean,
        |         list_filter(regexp_split_to_array(lower(clean), '\s+'), x -> x <> '') AS toks
        |  FROM base WHERE doc_id % 17 <> 3
        |    AND len(list_filter(regexp_split_to_array(lower(clean), '\s+'), x -> x <> '')) >= 40),
        |keepers AS (
        |  SELECT doc_id, source, toks FROM (
        |    SELECT doc_id, source, toks,
        |           row_number() OVER (PARTITION BY md5(substring(clean, 1, 40)) ORDER BY doc_id) AS rk
        |    FROM gated) WHERE rk = 1),
        |eg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |           range(1, greatest(len(list_filter(regexp_split_to_array(lower(clean), '\s+'), x -> x <> '')) - 7, 0) + 1),
        |           i -> array_to_string(list_slice(list_filter(regexp_split_to_array(lower(clean), '\s+'), x -> x <> ''), i, i + 7), ' ')))) AS gram
        |  FROM base WHERE doc_id % 17 = 3),
        |kg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
        |         i -> array_to_string(list_slice(toks, i, i + 7), ' ')))) AS gram
        |  FROM keepers),
        |contaminated AS (SELECT DISTINCT doc_id FROM kg JOIN eg USING (gram)),
        |survivors AS (
        |  SELECT k.doc_id, k.source,
        |         ((k.doc_id % 2147483647) * 1640531527) % 2147483647 % 100 AS bucket
        |  FROM keepers k WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT d.source,
        |       count(*) AS n_input,
        |       count(CASE WHEN d.doc_id % 17 <> 3 THEN 1 END) AS n_corpus,
        |       coalesce(any_value(g.n_quality), 0) AS n_quality,
        |       coalesce(any_value(k.n_dedup), 0) AS n_dedup,
        |       coalesce(any_value(s.n_clean), 0) AS n_clean,
        |       coalesce(any_value(s.n_train), 0) AS n_train,
        |       coalesce(any_value(s.n_val), 0) AS n_val,
        |       coalesce(any_value(s.n_test), 0) AS n_test
        |FROM documents d
        |LEFT JOIN (SELECT source, count(*) AS n_quality FROM gated GROUP BY source) g USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n_dedup FROM keepers GROUP BY source) k USING (source)
        |LEFT JOIN (SELECT source, count(*) AS n_clean,
        |                  count(CASE WHEN bucket < 80 THEN 1 END) AS n_train,
        |                  count(CASE WHEN bucket >= 80 AND bucket < 90 THEN 1 END) AS n_val,
        |                  count(CASE WHEN bucket >= 90 THEN 1 END) AS n_test
        |           FROM survivors GROUP BY source) s USING (source)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // quality = n_chars % 7 on the doc_id%10==7 wave only, NULL elsewhere:
    // the oracle recomputes the merged-schema read from the original table
    "x43_schema_evolution" ->
      """SELECT source, count(*) AS n_docs,
        |       count(CASE WHEN doc_id % 10 = 7 THEN 1 END) AS n_with_quality,
        |       CAST(sum(CASE WHEN doc_id % 10 = 7 THEN n_chars % 7 END) AS BIGINT) AS sum_quality,
        |       bit_xor(doc_id) AS id_xor
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x15_length_quantiles" ->
      """SELECT lang,
        |       round(quantile_cont(n_chars, 0.5), 6) AS q50,
        |       round(quantile_cont(n_chars, 0.9), 6) AS q90,
        |       round(quantile_cont(n_chars, 0.99), 6) AS q99,
        |       min(n_chars) AS mn, max(n_chars) AS mx
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}

package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-hit heuristic), quality scoring (length/punctuation/stopword
  * ratios), token counting (whitespace + a BPE-ish regex), and document
  * fingerprinting (shingle-set hash). All pure columnar expressions.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def tokens(c: Column): Column = split(c, "\\s+")

  // Tiny stopword lexicons for the n-gram/stopword language heuristic.
  val Lexicons: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "y", "que", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que"))

  /** Fixed lexicon order for the fused [[graft.functions.ArrayExpressions
    * .LexiconHits]] counts array (and the langId tie-break precedence).
    */
  val LexiconOrder: Seq[String] = Seq("en", "es", "de", "fr")

  private[operators] def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** Per-document language prediction: argmax of stopword hits with a
    * deterministic precedence (en > es > de > fr > unknown on ties); a
    * document with zero hits in every lexicon is "unknown".
    *
    * All four lexicon counts come from ONE fused pass over the raw text
    * (`lexicon_hits`) instead of a regex split plus four interpreted
    * filter-lambda passes over the token array.
    */
  def langId(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
        graft.functions.ArrayExpressions.lexiconHits(col("text")).as("h"))
      .select(col("doc_id"), col("labeled_lang"),
        element_at(col("h"), 1).as("h_en"), element_at(col("h"), 2).as("h_es"),
        element_at(col("h"), 3).as("h_de"), element_at(col("h"), 4).as("h_fr"))
      .withColumn("pred_lang",
        when(col("h_en") + col("h_es") + col("h_de") + col("h_fr") === 0, "unknown")
          .when(col("h_en") >= col("h_es") && col("h_en") >= col("h_de") && col("h_en") >= col("h_fr"), "en")
          .when(col("h_es") >= col("h_de") && col("h_es") >= col("h_fr"), "es")
          .when(col("h_de") >= col("h_fr"), "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("labeled_lang"), col("pred_lang"),
        col("h_en"), col("h_es"), col("h_de"), col("h_fr"))
      .orderBy("doc_id")
  }

  /** The composite quality score from its four raw counts — ONE shared
    * definition, so the per-document report ([[qualityStats]]) and the
    * gate-as-a-column form ([[qualityScoreOn]]) cannot drift.
    */
  def qualityScore(nPunct: Column, nDigits: Column, nStopwords: Column, nTokens: Column): Column =
    round(lit(1.0) / (lit(1.0) + nPunct + nDigits) *
      (lit(1.0) + nStopwords.cast("double") / nTokens), 6)

  /** [[qualityScore]] computed directly on a text column — the filter-gate
    * form for pipelines (x17) that need ONLY the score: no join back on
    * doc_id, no materialized metric columns, no ordering. The stopword
    * count comes from the fused `lexicon_hits` kernel (en is lexicon 0),
    * which matches the `hits`-over-split form exactly (both implement the
    * same `\s+`-token exact-match count; x9/x10 pin both against the same
    * DuckDB oracle).
    */
  def qualityScoreOn(text: Column): Column = {
    val nStop = element_at(graft.functions.ArrayExpressions.lexiconHits(text),
      LexiconOrder.indexOf("en") + 1)
    qualityScore(
      size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))),
      size(regexp_extract_all(text, lit("[0-9]"), lit(0))),
      nStop,
      size(tokens(text)))
  }

  /** Per-document quality metrics + a composite score. Ratios are exact
    * integer-over-integer divisions (deterministic doubles) shipped
    * UNROUNDED — the q32/x55 decimal-tie divergence class: both engines
    * compute the identical IEEE double, while round-to-6 disagrees on
    * exact ties like x/640. The composite quality_score stays rounded:
    * it is a shared GATE definition (x17/x44 compare it to thresholds)
    * and both engines round the same product-of-divisions double.
    */
  def qualityStats(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs.select(col("doc_id"),
        length(col("text")).as("n_chars_m"),
        size(t).as("n_tokens"),
        size(expr("regexp_extract_all(text, '[.,!?;:]', 0)")).as("n_punct"),
        size(expr("regexp_extract_all(text, '[0-9]', 0)")).as("n_digits"),
        hits(t, Lexicons("en")).as("n_stopwords"))
      .withColumn("avg_token_len",
        (col("n_chars_m") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("punct_ratio", col("n_punct").cast("double") / col("n_chars_m"))
      .withColumn("digit_ratio", col("n_digits").cast("double") / col("n_chars_m"))
      .withColumn("stopword_ratio", col("n_stopwords").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        qualityScore(col("n_punct"), col("n_digits"), col("n_stopwords"), col("n_tokens")))
      .orderBy("doc_id")
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish regex
    * (letter runs / single digits / single non-alphanumerics), plus a
    * corpus-level rollup per source.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(tokens(col("text"))).as("ws"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]', 0)")).as("bpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"))
      .orderBy("source")

  /** Corpus vocabulary: global token frequencies, top `k` by count with
    * deterministic alphabetical tie-break — the vocab-building pass of a
    * tokenizer-training pipeline (explode → hash-agg → top-k).
    */
  def vocabulary(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Per-source OOV profile against the corpus's own top-`k` vocabulary
    * (EXACTLY [[vocabulary]]'s definition — same tokens, same
    * count-desc/token-asc tie-break — so x19 and x46 can never disagree
    * about what the vocabulary is): total token occurrences, occurrences
    * covered by the vocabulary, and the out-of-vocabulary rate — the
    * coverage analysis that sizes a tokenizer's vocab before training.
    *
    * Shape at 100 TB: one token explode feeds both the vocab aggregation
    * and the coverage join; the vocab side is LIMIT-k and therefore
    * broadcast-safe BY CONSTRUCTION (bounded at k rows regardless of
    * corpus size — contrast x37, where the frequent-gram set grows with
    * the corpus and must not be broadcast). Left join + null check rather
    * than a semi-join because every token occurrence must be counted
    * either way.
    */
  def oovRate(docs: DataFrame, k: Int = 50): DataFrame = {
    val toks = docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = vocabulary(docs, k).select(col("token"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab"), 1L).otherwise(0L)).as("n_in_vocab"))
      .select(col("source"), col("n_tokens"), col("n_in_vocab"),
        // unrounded: exact int/int division, the q32/x55 tie class
        ((col("n_tokens") - col("n_in_vocab")).cast("double") / col("n_tokens"))
          .as("oov_rate"))
      .orderBy("source")
  }

  /** Per-language corpus length distribution: exact interpolated
    * percentiles (Spark `percentile` == SQL-standard continuous quantile)
    * plus min/max — the length-filter calibration stats a data-quality
    * pipeline computes before thresholding.
    */
  def lengthQuantiles(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 6).as("q50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("q90"),
        round(expr("percentile(n_chars, 0.99)"), 6).as("q99"),
        min(col("n_chars")).as("mn"),
        max(col("n_chars")).as("mx"))
      .orderBy("lang")

  /** TF-IDF relevance scoring: the top-k most distinctive terms per
    * document — the inverted-index-shaped aggregation a curation pipeline
    * uses for relevance filtering and topic labeling. idf is the smoothed
    * `ln((N+1)/(df+1))` form (never divides by zero, never negative for
    * df ≤ N).
    *
    * Shape at 100 TB: term frequency is ONE shuffle on (doc_id, token)
    * with map-side combine (the token explosion never crosses the wire
    * un-reduced); document frequency derives from the already-reduced tf
    * relation — counting tf rows per token IS df, no second pass over the
    * corpus; the corpus size N joins in as a broadcast 1-row aggregate
    * (no driver action); the per-document top-k is a window over each
    * document's own terms (tie-broken `score desc, token asc` for
    * determinism — at extreme per-doc cardinalities swap in the bounded-
    * heap `top_k_by_score` aggregate, x22's kernel, for map-side partial
    * top-k).
    *
    * Tokenization is the SAME whitespace split as [[tokenCounts]]
    * (lowercased), whose DuckDB parity x11 hash-proves.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "") // leading-whitespace artifact of split
    val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfc, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("_s", col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_s").desc, col("token").asc)
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("_s"), 6).as("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
  }

  /** x72: BM25 retrieval — the index-free search pass over a corpus for
    * a fixed term set (the relevance scoring an eval harness or a
    * targeted-curation query runs; k1 = 1.2, b = 0.75, the standard
    * Robertson parameters). The decisive scale property is the TERM
    * FILTER POSITION: tokens are filtered to the query terms BEFORE the
    * (doc_id, token) aggregate, so the only shuffle carries matching
    * occurrences — for a handful of terms that is a vanishing fraction
    * of the corpus, where a build-the-full-index-first form would
    * shuffle every token. Document length and corpus stats ride as
    * broadcast one-row/`|terms|`-row aggregates. idf uses the smoothed
    * `ln(1 + (N − df + ½)/(df + ½))` form (positive for df ≤ N); scores
    * round to 6 like x29's tf-idf (the ln precedent: both engines' libm
    * agree well past 6 decimals, and exact ties are measure-zero for
    * irrational scores).
    */
  def bm25Retrieval(docs: DataFrame,
      terms: Seq[String] = Seq("spark", "join", "window"),
      k: Int = 10): DataFrame = {
    // literals the ORACLE spells identically (2.2 / 0.25 as source
    // literals, not Scala-side k1+1 arithmetic — both engines' parsers
    // bind the same doubles, where computed constants might not)
    val k1 = 1.2
    val toks = docs
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = lens.agg(countDistinct(col("doc_id")).as("n_docs"),
      (sum(col("dl")).cast("double") / countDistinct(col("doc_id"))).as("avgdl"))
    val tf = toks.filter(col("token").isin(terms.map(lit): _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfc), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("_s", col("_idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(k1) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), round(sum(col("_s")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** x90: DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling") —
    * the data-SELECTION pass a pretraining pipeline runs against a
    * trusted target: score every raw-pool document by how much its
    * hashed-n-gram profile looks like the target slice, keep the top
    * fraction. Target = sources 0-9 (x74's slice convention); raw pool =
    * sources 10+. Features are token bigrams hashed into `buckets`=1024
    * cells (md5-based so the oracle replays the hash bit-for-bit);
    * bucket distributions carry add-one smoothing over B:
    * p(f) = (c(f)+1)/(n+B). Each bucket's log importance ratio
    * λ_f = ln(p_t(f)/p_s(f)) is quantized ONCE to micro-nat longs
    * (x89's determinism recipe), so document weights
    * w(d) = Σ_f count_d(f)·λ_f are exact integer sums — hash-gateable.
    * Selection is deterministic top-⌈frac·|raw|⌉ by (weight desc,
    * doc_id) — the resampling step with the paper's Gumbel noise set to
    * its deterministic limit.
    *
    * Scale shape — the hashing is WHY this scales where x89's model
    * cannot: the feature table is bounded at B rows by construction, so
    * λ is a SAFE broadcast at any corpus size (a data-INdependent bound,
    * unlike the convention-banned data-dependent broadcasts); bigram
    * bucketing reduces per doc BEFORE the model shuffle (≤ B distinct
    * features per doc cross the wire). The selection rank over the
    * doc-LEVEL weight relation is DISTRIBUTED via [[GlobalRank]] (the
    * two-phase offset pattern shared with the SNM rank): range-
    * repartition by (weight desc, doc_id), per-partition row_number,
    * plus driver-prefix-summed per-partition offsets — no single-
    * partition global window anywhere (a top-⌈frac·n⌉ cut is itself
    * corpus-scaled, so x22's bounded heap cannot express it; the r18
    * verdict flagged the old `Window.orderBy` form as the one
    * scale-killer in the curation funnel).
    */
  def dsirSelect(docs: DataFrame, buckets: Int = 1024, frac: Double = 0.2): DataFrame = {
    // Consecutive non-empty-token bigrams as ONE array transform over the
    // filtered token array — order inside the array IS position order, so
    // this is pair-for-pair the old posexplode + per-doc lead() window,
    // minus that window's full position-scale sort (r22 x100 stage
    // profile: the two heaviest 32-wide stages, ~12 s task time each,
    // were this build; a per-doc sort of every token position is also
    // pure overhead at 100 TB — repetitionStats' bigram idiom, §4).
    // Spread before the CPU-heavy tokenize+explode (the x85 idiom): the
    // old window's exchange had forced parallelism as a side effect; the
    // pure-transform form otherwise inherits its input's width — ONE
    // partition off x90's single-file scan and off x100's AQE-coalesced
    // pool ckpt (r22 stage profile: three ~1.2 s single-task stages).
    val feat = graft.spreadNarrow(docs, col("doc_id"))
      .select(col("doc_id"), col("source"),
        filter(tokens(lower(col("text"))), t => t =!= "").as("t"))
      .select(col("doc_id"),
        (expr("CAST(substring(source, 4) AS INT)") < 10).as("in_t"),
        explode(expr(
          "case when size(t) >= 2 then transform(sequence(1, size(t) - 1), " +
            "i -> array_join(slice(t, i, 2), ' ')) else array() end")).as("bg"))
      .select(col("doc_id"), col("in_t"),
        (conv(substring(md5(col("bg")), 1, 8), 16, 10)
          .cast("long") % buckets).as("f"))
    // materialized ONCE: the fc (model counts) and wdoc (scoring) branches
    // both consume dtf, and their post-aggregate shapes diverge enough
    // that ReuseExchange never fires — without the ckpt the whole
    // tokenize+explode+count chain ran twice (r22 x100 stage profile:
    // 15.5 s + 6.0 s task time on the same 533 KiB input)
    val dtf = feat.groupBy(col("doc_id"), col("in_t"), col("f"))
      .agg(count(lit(1)).as("cnt"))
      .ckpt()
    val fc = dtf.groupBy(col("f")).agg(
      sum(when(col("in_t"), col("cnt")).otherwise(0L)).as("c_t"),
      sum(when(!col("in_t"), col("cnt")).otherwise(0L)).as("c_s"))
    val totals = fc.agg(sum(col("c_t")).as("n_t"), sum(col("c_s")).as("n_s"))
    val lam = fc.crossJoin(broadcast(totals))
      .withColumn("lam",
        floor(log(((col("c_t") + lit(1.0)) / (col("n_t") + lit(buckets))) /
          ((col("c_s") + lit(1.0)) / (col("n_s") + lit(buckets)))) * lit(1000000.0))
          .cast("long"))
      .select(col("f"), col("lam"))
    val wdoc = dtf.filter(!col("in_t"))
      .join(broadcast(lam), "f") // bounded at B rows — safe by construction
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_feats"),
        sum(col("cnt") * col("lam")).as("weight_micro"))
    // global (weight desc, doc_id) rank WITHOUT any single-partition
    // window (the r18 verdict's x90 flag): [[GlobalRank.withRank]] —
    // the two-phase offset pattern shared with the SNM rank. Its
    // prefix-sum total doubles as n_raw, so the weight pipeline
    // evaluates exactly ONCE (the old global-window form paid a second
    // full evaluation for its count side).
    val (ranked, nRaw) = GlobalRank.withRank(wdoc,
      col("weight_micro").desc, col("doc_id"))
    val cut = math.ceil(frac * nRaw).toLong // same IEEE product+ceil as the SQL form
    ranked
      .withColumn("selected", col("rn") <= lit(cut))
      .select(col("doc_id"), col("n_feats"), col("weight_micro"), col("selected"))
      .orderBy("doc_id")
  }

  /** x74: token-distribution DRIFT between two corpus slices — the
    * monitoring pass a data pipeline runs when a new crawl lands: which
    * tokens' relative frequencies moved most between the reference
    * corpus (sources 0-9) and the candidate slice (sources 10-19)?
    * Per-token drift is |c_a/n_a − c_b/n_b| — every term an EXACT
    * integer division, every comparison between two deterministic
    * doubles, NO cross-token float sum anywhere (the KL/χ² forms were
    * rejected on exactly that ground: their Σ over tokens is
    * reduction-order-dependent and cannot hash-match an oracle). One
    * token-count shuffle with map-side combine; totals ride as a
    * broadcast 1-row aggregate; a min-support filter keeps rare-token
    * noise out of the ranking.
    */
  def tokenDrift(docs: DataFrame, k: Int = 20, minSupport: Int = 20): DataFrame = {
    val toks = docs
      .select((expr("CAST(substring(source, 4) AS INT)") < 10).as("in_a"),
        explode(tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
    val counts = toks.groupBy(col("token")).agg(
      sum(when(col("in_a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("in_a"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    counts.filter(col("c_a") + col("c_b") >= minSupport)
      .crossJoin(broadcast(totals))
      .withColumn("fa", col("c_a").cast("double") / col("n_a"))
      .withColumn("fb", col("c_b").cast("double") / col("n_b"))
      .withColumn("drift", abs(col("fa") - col("fb")))
      .orderBy(col("drift").desc, col("token"))
      .limit(k)
      .select(col("token"), col("c_a"), col("c_b"), col("fa"), col("fb"), col("drift"))
  }

  /** x89: bigram-LM perplexity scoring — the CCNet/KenLM-style quality
    * filter (Wenzek et al. 2020, arXiv:1911.00359): train an add-one-
    * smoothed bigram model on the corpus itself, score every document by
    * its average per-token negative log-likelihood, and the tails of
    * that ranking are the curation verdicts (low = boilerplate-like /
    * repetitive, high = noise). P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V).
    *
    * Determinism (the reason this row can hash-gate despite ln): each
    * bigram's NLL is quantized ONCE to micro-nats —
    * `floor(-ln(p)·10⁶)` as a long — and the per-document total is an
    * exact INTEGER sum, order-independent across partitionings and
    * engines (x75's fixed-point pattern; the x74 scaladoc rejected raw
    * float Σ for exactly this). ln's engine agreement holds well past
    * the 10⁻⁶ quantum (the x72 precedent), and p is an exactly-rounded
    * IEEE quotient of two integers, identical on both sides.
    *
    * Scale shape: token positions explode once; bigrams form by a `lead`
    * window per document (partitions bounded by document length); the
    * model trains as ONE (w₁,w₂) shuffle with map-side combine over the
    * per-doc-REDUCED bigram tf relation (instances never cross the wire
    * twice); c(w₁) derives from the reduced c₂ relation — no second
    * corpus pass; V rides as a broadcast 1-row aggregate; scoring joins
    * the doc-tf relation to the model on the bigram key (shuffle join —
    * the model is corpus-sized, never broadcast).
    */
  def bigramLmScore(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks0 = docs
      .select(col("doc_id"), posexplode(tokens(lower(col("text")))).as(Seq("p0", "token")))
      .filter(col("token") =!= "") // split artifact; survivors stay ordered by p0
    val wseq = Window.partitionBy("doc_id").orderBy("p0")
    val bi = toks0.withColumn("w2", lead(col("token"), 1).over(wseq))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"), col("token").as("w1"), col("w2"))
    val dtf = bi.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))
    val c2 = dtf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = toks0.agg(countDistinct(col("token")).as("vsz"))
    dtf.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("nll_u",
        floor(-log((col("c2") + lit(1.0)) / (col("c1") + col("vsz"))) * lit(1000000.0))
          .cast("long") * col("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("nll_u")).as("nll_micro"))
      .withColumn("avg_nll",
        round(col("nll_micro").cast("double") / col("n_bigrams").cast("double")
          / lit(1000000.0), 6))
      .orderBy("doc_id")
  }

  /** x77: URL parsing — the component extraction a web-corpus ingest
    * runs on every record (host for per-domain quotas and robots
    * policy, path/query for dedup keys and tracking-param stripping).
    * The fixture carries no URLs, so each doc derives one in-plan
    * (host from doc_id mod classes, a query param from its own text —
    * both engines build the identical string), then Spark's `parse_url`
    * extracts HOST / PATH / QUERY / the named parameter, and the rows
    * aggregate per host: the per-domain quota view. The oracle rebuilds
    * the components by CONSTRUCTION — what the builder put in is
    * exactly what parse_url must get back out — so a parser that
    * mangles any component fails the hash. Pure projection + one
    * aggregate; parse_url is codegen'd, no UDF.
    */
  def urlParse(docs: DataFrame): DataFrame =
    docs
      .withColumn("tld", expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.com' " +
        "WHEN 1 THEN '.org' ELSE '.net' END"))
      .withColumn("qtok", expr("regexp_replace(substring(text, 1, 8), '[^a-z]', '')"))
      .withColumn("url", expr("concat('https://w', CAST(doc_id % 50 AS STRING), " +
        "'.example', tld, '/p/', CAST(doc_id AS STRING), '?q=', qtok)"))
      .select(col("doc_id"), col("url"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'q')").as("q_param"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        countDistinct(col("path")).as("n_paths"),
        max(length(col("q_param"))).as("max_q_len"))
      .orderBy("host")

  /** x24: per-source DEFLATE compressibility (custom
    * [[graft.functions.ArrayExpressions.DeflateRatio]] expression), the
    * Gopher/C4-style junk signal, in driver-oracle form: the zlib ratio VALUES
    * are engine-internal (they depend on the JVM's deflate), but the
    * per-source doc counts and the bound/ordering invariants of the ratios
    * are not — emitted as booleans, they hash-compare against a DuckDB
    * oracle of constants, so a zlib misbehavior or operator bug flips a
    * value and fails the driver gate instead of hiding behind a rows-only
    * check.
    *
    * The upper bound is deflate's actual worst case PER DOCUMENT — stored
    * blocks cost ≤ 5·⌈n/16383⌉ + 6 bytes of overhead, so ratio ≤
    * ~1.0003 + 11/n; checked per doc as `ratio ≤ 1.0005 + 12/n` (never
    * data-dependent slack: a fixed constant like 1.25 holds only for docs
    * ≥ 44 bytes and would flip on any corpus with one short incompressible
    * document).
    */
  def compressionInvariants(docs: DataFrame): DataFrame = {
    docs
      .select(col("source"),
        graft.functions.ArrayExpressions.deflateRatio(col("text")).as("r"),
        length(encode(col("text"), "UTF-8")).as("n"))
      .withColumn("ok_doc",
        col("r") > 0 &&
          col("r") <= lit(1.0005) + lit(12.0) / greatest(col("n"), lit(1)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("ok_doc")).as("all_docs_in_bounds"),
        (avg(col("r")) >= min(col("r")) && avg(col("r")) <= max(col("r"))).as("avg_within"))
      .orderBy("source")
  }

  // PII patterns chosen to mean the same thing in Java regex and RE2
  // (DuckDB): no backreferences, no lookaround, plain classes + \b only.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b"

  /** PII detection + redaction: per-document counts of email / IPv4 /
    * phone-shaped spans and the md5 of the text after replacing them with
    * typed placeholders (email → ip → phone, fixed order). The scrub every
    * training-data pipeline runs before anything else ships. Counts are
    * measured on the ORIGINAL text (the three patterns cannot overlap:
    * emails contain no spaces/dashes-digit runs, IPs no dashes), so count
    * and redaction order are independent. Pure columnar regex projection —
    * scan-dominated, no shuffle at all beyond the output sort, which a
    * pipeline consumer would drop.
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>")).as("redacted_md5"))
      .withColumn("n_pii", col("n_emails") + col("n_ips") + col("n_phones"))
      .orderBy("doc_id")

  /** x70: CHECKSUM-VALIDATED PII redaction — the Luhn upgrade to x32's
    * shape-only scrub: a 13-19 digit run is only redacted if its Luhn
    * checksum validates (`luhn_check`), the filter that keeps card
    * scrubbing from destroying order ids, tracking numbers and other
    * benign digit runs (at 100 TB the false-positive mass of shape-only
    * matching is enormous). The ASCII fixture carries no card numbers,
    * so candidates are DERIVED in-plan, identically in both engines: a
    * 15-digit base from doc_id gets its correct Luhn check digit on
    * `doc_id % 3 == 0` and an always-wrong one (+5 mod 10) otherwise —
    * about a third of the shape-matched candidates validate, and the
    * redaction must fire ONLY on those. Redaction itself is a fold over
    * the validated matches (`aggregate` with string `replace`), the form
    * that extends to any number of hits per document. Pure per-row
    * projection — scan-dominated, zero exchanges before the output sort.
    */
  def luhnRedact(docs: DataFrame): DataFrame =
    docs
      .withColumn("base",
        expr("concat('4', lpad(CAST(doc_id * 37 % 100000000000000 AS STRING), 14, '0'))"))
      // exactly one of the ten digits completes a valid Luhn number
      .withColumn("good",
        expr("element_at(filter(sequence(0, 9), " +
          "d -> luhn_check(concat(base, CAST(d AS STRING)))), 1)"))
      .withColumn("cand",
        expr("concat(base, CAST(CASE WHEN doc_id % 3 = 0 THEN good " +
          "ELSE (good + 5) % 10 END AS STRING))"))
      .withColumn("seeded", expr("concat(text, ' card=', cand)"))
      .withColumn("matches",
        expr("regexp_extract_all(seeded, '\\\\b\\\\d{13,19}\\\\b', 0)"))
      .withColumn("valid", expr("filter(matches, c -> luhn_check(c))"))
      .select(col("doc_id"),
        size(col("matches")).as("n_candidates"),
        size(col("valid")).as("n_valid"),
        expr("md5(aggregate(valid, seeded, " +
          "(acc, c) -> replace(acc, c, repeat('X', length(c)))))").as("redacted_md5"))
      .orderBy("doc_id")

  /** Benchmark decontamination: flags corpus documents sharing any
    * `n`-token run with a held-out benchmark set (here the deterministic
    * doc_id % benchMod == benchRem slice — in production, the eval sets).
    * The standard pre-training hygiene pass: a document that contains a
    * benchmark passage leaks the eval into training.
    *
    * Shape at 100 TB: corpus side explodes to DISTINCT per-doc n-grams
    * (array_distinct before the explode — the shuffle never carries a
    * doc's internal repetition), benchmark side is distinct-reduced and
    * BROADCAST (eval sets are tiny next to the corpus; a shuffle join on
    * gram would move the whole corpus's gram table for a few thousand
    * benchmark grams). Grams join as strings so the DuckDB oracle
    * reproduces the counts exactly; a production run would join on
    * xxhash64(gram) to shrink the broadcast — same plan, 8 bytes per gram.
    */
  def contamination(docs: DataFrame, n: Int = 8,
                    benchMod: Int = 17, benchRem: Int = 3): DataFrame = {
    val grams = distinctDocGrams(docs, n)
    val bench = grams.filter(col("doc_id") % benchMod === benchRem)
      .select(col("gram")).distinct()
    grams.filter(col("doc_id") % benchMod =!= benchRem)
      .join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits")) // grams pre-distinct'd per doc
      .orderBy("doc_id")
  }

  /** x96: FUZZY benchmark decontamination — the near-match complement of
    * [[contamination]]'s exact 8-gram overlap (x33), and the method the
    * GPT-3/Llama-class training reports actually describe: a training
    * document is contaminated if it is NEAR-DUPLICATE of any eval
    * document, not only if it shares a verbatim gram. "Near" is
    * deliberately x4's exact definition — [[Dedup.minhashLshPairs]]'s
    * candidate generation (banded MinHash-LSH, star-edge hubs for
    * template families) and exact-Jaccard verification — reused as ONE
    * code path, so decontamination and dedup can never disagree about
    * what counts as a near-duplicate; the oracle reuses x4's full
    * pipeline replay and filters the eval-boundary crossings.
    *
    * Output: one row per CONTAMINATED CORPUS doc — (doc_id,
    * n_eval_matches, max_jaccard), doc-ordered. Eval slice =
    * doc_id % 17 == 3, x33's definition.
    *
    * Scale note: at 100 TB the eval set is tiny and fixed; a production
    * run restricts candidate generation to buckets CONTAINING an eval
    * band signature (a broadcast semi-filter on (band, sig)) before the
    * bucket join — a strict subset of the same candidates, worth a
    * corpus-sized cut of the pair work. Kept on the shared path here so
    * the ledger row pins the canonical semantics the restriction must
    * preserve.
    */
  def fuzzyContamination(docs: DataFrame, threshold: Double = 0.6,
                         benchMod: Int = 17, benchRem: Int = 3): DataFrame = {
    val isEval = (c: Column) => c % benchMod === benchRem
    graft.operators.Dedup.minhashLshPairs(docs, threshold = threshold)
      .filter(isEval(col("doc_a")) =!= isEval(col("doc_b")))
      .select(
        when(isEval(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("doc_id"),
        col("jaccard"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jaccard")).as("max_jaccard"))
      .orderBy("doc_id")
  }

  /** DISTINCT per-doc lowercased whitespace `n`-grams, one row per
    * (doc_id, gram). `array_distinct` runs BEFORE the explode, so the
    * shuffle never carries a document's internal repetition — shared by
    * [[contamination]] and [[boilerplateCoverage]] so "gram" cannot drift
    * between the two.
    */
  private def distinctDocGrams(docs: DataFrame, n: Int): DataFrame = docs
    .select(col("doc_id"), filter(tokens(lower(col("text"))), t => t =!= "").as("t"))
    .select(col("doc_id"), explode(array_distinct(expr(
      s"case when size(t) >= $n then transform(sequence(1, size(t) - ${n - 1}), " +
        s"i -> array_join(slice(t, i, $n), ' ')) else array() end"))).as("gram"))

  /** Cross-document boilerplate profile: for each document, how much of it
    * is made of `n`-grams that also appear in >= `minDocs` OTHER-or-same
    * documents — headers, footers, license blocks, templated spans. The
    * CCNet/RefinedWeb-style boilerplate signal, at the n-gram level the
    * fixture's newline-free text supports.
    *
    * Shape at 100 TB: per-doc distinct grams (ONE explode, repetition
    * removed pre-shuffle), ONE explicit exchange on `gram` that BOTH the
    * df aggregate and the join-back consume (ReuseExchange dedupes the
    * identical subtree, so the corpus is scanned and exploded once —
    * plan-pinned in SkewSpec), then a hint-forced sort-merge join back.
    * Three deliberate choices, each a 100-TB survival property:
    *
    *  - df via `groupBy(gram)`, NOT `count() over (partition by gram)`:
    *    the aggregate's map-side combine reduces a mega-gram (site-wide
    *    boilerplate in EVERY doc) to one partial row per task before the
    *    exchange, and the final agg is numTasks rows — where the window
    *    form funnels ALL of that gram's corpus-wide rows into ONE
    *    unsplittable window partition (spillable, but single-task: the
    *    r10 verdict's watch-item).
    *  - join-back instead of window df-attach: a join probe STREAMS (no
    *    per-partition buffering), and AQE's skew-join split can carve a
    *    hot gram's probe partition into chunks — a window partition can
    *    never be split without breaking its semantics.
    *  - `merge` hint on the df side: gram→df is a DATA-DEPENDENT
    *    corpus-scale relation (boilerplate vocabularies grow with the
    *    corpus), so letting AQE broadcast it because the FIXTURE fits is
    *    exactly the silent 100-TB driver-OOM the round-5 audit killed the
    *    naive join-back for. Sort-merge keeps the honest shape; both
    *    sides are already partitioned by gram, so the hint costs two
    *    in-partition sorts and zero exchanges.
    *
    * The final per-doc reduce is one more bounded shuffle on doc_id.
    * `boiler_frac` ships UNROUNDED (exact small-integer division — the
    * q32/x55 decimal-tie divergence class).
    */
  def boilerplateCoverage(docs: DataFrame, n: Int = 8, minDocs: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val grams = distinctDocGrams(docs, n)
      .repartition(graft.spreadWidth(spark), col("gram"))
    // count(DISTINCT doc_id) — the literal document-frequency definition
    // (identical value here: grams are pre-distinct'd per doc), chosen
    // over count(*) deliberately: it references doc_id in a way the
    // optimizer cannot fold away (count(doc_id) rewrites to count(1) on a
    // non-nullable input), so ColumnPruning keeps doc_id below THIS
    // branch's exchange and both branches hang off canonically identical
    // subtrees — which is what lets ReuseExchange/stage-reuse run the
    // scan+explode ONCE (plan-pinned in QueriesSpec's x37 skew test).
    // No extra exchange: HashPartitioning(gram) satisfies the rewrite's
    // (gram, doc_id) clustering, and the dedup pass is a no-op on
    // already-distinct rows.
    val gramDf = grams.groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("df"))
    grams.join(gramDf.hint("merge"), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_grams")).as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** Cross-document boilerplate REMOVAL — the remediation step to x37's
    * diagnostic score: rewrite each document dropping every token covered
    * by an `n`-gram that appears in >= `minDocs` documents (the
    * RefinedWeb/CCNet line-removal pass, at the token-span level the
    * fixture's newline-free text supports). A token at position j is
    * covered iff ANY shared gram starts in [j-n+1, j]; the rebuilt text
    * is pinned by md5 so the oracle checks the exact post-removal bytes,
    * not just counts. `kept_frac` ships unrounded (exact int/int — the
    * q32/x55 decimal-tie class).
    *
    * Scale shape (same survival properties as x37, which this shares its
    * gram definition with): ONE scan+tokenize feeds both branches — the
    * per-start gram relation is explicitly repartitioned on `gram`, and
    * the df aggregate deliberately references every column of that
    * relation (`countDistinct(doc_id)` + a consumed-then-dropped
    * `max(start)`) so ColumnPruning cannot diverge the two subtrees and
    * ReuseExchange runs the explode ONCE; the df side joins back under a
    * `merge` hint (gram→df is corpus-scale and data-dependent — no
    * AQE-fits-the-fixture broadcast), coverage expansion is a bounded ×n
    * explode of SHARED starts only, and the final rebuild is one
    * (doc_id, pos)-keyed join + one doc_id aggregate. A mega-df gram
    * costs O(its starts), never an unsplittable window partition.
    */
  def boilerplateRemove(docs: DataFrame, n: Int = 8, minDocs: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    val tokArr = docs.select(col("doc_id"),
      filter(tokens(lower(col("text"))), t => t =!= "").as("t"))
    // (doc_id, start, gram): one row per gram START (1-based), positions
    // aligned with the token index space used below
    val startGrams = tokArr
      .select(col("doc_id"), explode(expr(
        s"case when size(t) >= $n then transform(sequence(1, size(t) - ${n - 1}), " +
          s"i -> struct(i as start, array_join(slice(t, i, $n), ' ') as gram)) " +
          "else array() end")).as("g"))
      .select(col("doc_id"), col("g.start").as("start"), col("g.gram").as("gram"))
      .repartition(graft.spreadWidth(spark), col("gram"))
    // document frequency over the SAME subtree (max(start) is consumed
    // then dropped purely so both branches keep identical column sets —
    // that is what lets ReuseExchange dedupe the scan+explode)
    // `_mx >= 1` is a data-dependent tautology (starts are 1-based) whose
    // only job is to keep max(start) ALIVE through ColumnPruning — an
    // unreferenced aggregate gets eliminated, which prunes `start` from
    // this branch's subtree and breaks the exchange reuse
    val gramDf = startGrams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("df"), max(col("start")).as("_mx"))
      .filter(col("df") >= minDocs && col("_mx") >= 1)
      .select(col("gram"))
    val coveredPos = startGrams.join(gramDf.hint("merge"), "gram")
      .select(col("doc_id"), explode(expr(s"sequence(start, start + ${n - 1})")).as("pos"))
      .distinct()
    val toks = tokArr.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    toks.join(coveredPos.withColumn("cov", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov").isNull, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("cov").isNull, struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("clean_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        (col("n_kept").cast("double") / col("n_tokens")).as("kept_frac"),
        col("clean_md5"))
      .orderBy("doc_id")
  }

  /** x66: character-trigram NOVELTY score — the fraction of a document's
    * char-trigram occurrences whose corpus-wide frequency is below
    * `rareMax`: the language-model-free stand-in for perplexity-based
    * quality gating (gibberish, encoding noise, and foreign-script spans
    * are made of trigrams the corpus has rarely seen; natural text sits
    * on the high-frequency head). Integer-exact end to end, `rare_frac`
    * unrounded (the q32/x55 class).
    *
    * Scale shape — x37's reused-exchange join-back, NOT a broadcast.
    * The earlier broadcast form argued the freq table is bounded by
    * |alphabet|³, but that bound is only data-independent for a fixed
    * small alphabet: a multilingual web corpus observes tens of
    * thousands of codepoints, and its distinct-trigram table reaches
    * 10⁸⁺ rows — a driver/executor OOM, the q29-class scale killer.
    * Instead, ONE scan+explode+per-doc-count feeds both branches: the
    * positions collapse to (doc_id, tri, cnt) exchange-free off the
    * doc_id spread, THAT pair relation is explicitly repartitioned on
    * `tri`, the freq aggregate deliberately consumes `doc_id` (a dropped
    * `max`) so ColumnPruning cannot diverge the two subtrees and
    * ReuseExchange runs the explode ONCE, and the freq side joins back
    * under a `merge` hint (tri→n is data-dependent corpus-scale — no
    * AQE-fits-the-fixture broadcast). Cost: one tri exchange of distinct
    * per-doc pairs (reused), one sort-merge join that is already
    * co-partitioned, one doc_id aggregate.
    */
  def charTrigramNovelty(docs: DataFrame, rareMax: Int = 50): DataFrame = {
    val spark = docs.sparkSession
    // Positions collapse to (doc_id, tri, cnt) BEFORE any exchange: the
    // doc_id spread satisfies the (doc_id, tri) aggregate's distribution
    // (HashPartitioning(doc_id) clusters (doc_id, tri)), so the count runs
    // exchange-free right after the explode and the ONE explicit tri
    // exchange below ships distinct per-doc trigram pairs, never
    // positions — the r21 broadcast rewrite's map-side-combine win
    // (guide §2.3 "aggregate before you shuffle") without its broadcast.
    // That broadcast was the q29-class scale killer: tri→n is a
    // DATA-DEPENDENT corpus-scale relation (a multilingual alphabet
    // observes 10⁸⁺ distinct trigrams), and a forced broadcast() ignores
    // autoBroadcastJoinThreshold — plan shape pinned by two QueriesSpec
    // tests. The shared tri exchange feeds BOTH the freq aggregate and
    // the SMJ probe (ReuseExchange; x37's join-back pattern), already
    // co-partitioned, so the join adds no exchange.
    val pairs = graft.spreadNarrow(docs, col("doc_id"))
      .select(col("doc_id"), lower(col("text")).as("tx"))
      .select(col("doc_id"), explode(expr(
        "case when length(tx) >= 3 then transform(sequence(1, length(tx) - 2), " +
          "i -> substring(tx, i, 3)) else array() end")).as("tri"))
      .groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("cnt"))
      .repartition(graft.spreadWidth(spark), col("tri"))
    // corpus frequency per trigram = sum of the per-doc counts; max(cnt)
    // is consumed-then-dropped via the tautological filter purely so this
    // branch's subtree stays canonically identical to the probe side
    // below the tri exchange (the boilerplateRemove/x37 ReuseExchange
    // trick — an unreferenced column gets pruned, the subtrees diverge,
    // and the scan+explode+aggregate runs twice).
    val freq = pairs.groupBy(col("tri"))
      .agg(sum(col("cnt")).as("n"), max(col("doc_id")).as("_mx"))
      .filter(col("_mx").isNotNull).select(col("tri"), col("n"))
    pairs.join(freq.hint("merge"), "tri")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tri"),
        sum(when(col("n") < rareMax, col("cnt")).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tri"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_tri")).as("rare_frac"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition profile: each document's dominant token
    * bigram and the fraction of bigram slots it occupies — the
    * "most-common-n-gram coverage" rule used to drop boilerplate and
    * degenerate repetition. One shuffle on (doc_id, bigram) with map-side
    * combine; the per-doc argmax is a window over each document's own
    * bigrams (count desc, bigram asc tie-break for determinism), and the
    * slot total rides the same window — no second pass, no join back.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val bigrams = docs
      .select(col("doc_id"), filter(tokens(lower(col("text"))), t => t =!= "").as("t"))
      .select(col("doc_id"), explode(expr(
        "case when size(t) >= 2 then transform(sequence(1, size(t) - 1), " +
          "i -> array_join(slice(t, i, 2), ' ')) else array() end")).as("bigram"))
    val counts = bigrams.groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("n"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    counts
      .withColumn("n_bigrams", sum(col("n")).over(byDoc))
      .withColumn("_rk", row_number().over(byDoc.orderBy(col("n").desc, col("bigram").asc)))
      .filter(col("_rk") === 1)
      .select(col("doc_id"), col("n_bigrams"), col("bigram").as("top_bigram"),
        col("n").as("top_n"),
        // unrounded: exact int/int division, the q32/x55 tie class
        (col("n").cast("double") / col("n_bigrams")).as("top_frac"))
      .orderBy("doc_id")
  }

  /** x67: per-document character-diversity profile — total/distinct code
    * points, top-character fraction, Simpson diversity 1 − Σc²/n². The
    * cheap gibberish/degeneracy detector a quality gate runs besides the
    * token-level scores: natural prose sits near Simpson ≈ 0.92-0.95 with
    * no character above ~20%, while `"aaaa…"` spam collapses to 0 and
    * base64/noise blobs push diversity ABOVE prose with a flat profile.
    * All counting happens in the
    * [[graft.functions.ArrayExpressions.CharDiversity]] kernel — one pass
    * per row inside whole-stage codegen, ZERO exchanges (the naive
    * explode-chars + groupBy form shuffles one row per character — a
    * ~5000× blow-up that dies first at corpus scale). The two double
    * scores are single IEEE divisions of exact integers, so they replay
    * bit-exact in any engine; an entropy variant (transcendental per
    * term) could not be pinned cross-engine and was rejected for the
    * gate on purpose.
    */
  def charDiversityStats(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.ArrayExpressions.charDiversity(col("text")).as("s"))
      .select(col("doc_id"),
        col("s").getItem(0).as("n_chars"),
        col("s").getItem(1).as("n_distinct"),
        when(col("s").getItem(0) > 0,
          col("s").getItem(2).cast("double") / col("s").getItem(0).cast("double"))
          .as("top_char_frac"),
        when(col("s").getItem(0) > 0,
          lit(1.0d) - col("s").getItem(3).cast("double") /
            (col("s").getItem(0) * col("s").getItem(0)).cast("double"))
          .as("simpson"))
      .orderBy("doc_id")
  }

  /** x69: Unicode normalization audit — the ingest step that decides
    * whether byte-equality dedup (x1) sees through encoding variance.
    * The fixture corpus is pure ASCII, so the decomposed input is
    * DERIVED in-plan (every `e` gains a combining acute, U+0301 — both
    * engines build the identical string), then round-tripped:
    * NFC-compose ([[graft.functions.ArrayExpressions.UnicodeNormalize]]
    * fuses each `e`+mark pair to a precomposed `é`, shrinking the
    * length back to the original), accent-strip
    * ([[graft.functions.ArrayExpressions.StripAccents]]) and compare to
    * the raw segment — `restored_ok` proves normalize∘strip is the
    * identity on this plane. Per-row codegen kernels, zero exchanges;
    * the NFC kernel's `isNormalized` fast path makes the common case
    * (already-NFC corpus) a read-only scan.
    */
  def unicodeNormalizeAudit(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), substring(col("text"), 1, 40).as("seg"))
      .withColumn("decomposed", regexp_replace(col("seg"), "e", "e\u0301"))
      .withColumn("nfc",
        graft.functions.ArrayExpressions.unicodeNormalize(col("decomposed"), "NFC"))
      .select(col("doc_id"),
        length(col("seg")).as("n_raw"),
        length(col("decomposed")).as("n_dec"),
        length(col("nfc")).as("n_nfc"),
        (col("nfc") =!= col("decomposed")).as("composed"),
        (graft.functions.ArrayExpressions.stripAccents(col("nfc")) === col("seg"))
          .as("restored_ok"))
      .orderBy("doc_id")
  }

  /** Content fingerprint: md5 over the sorted distinct 4-gram shingle set —
    * stable under shingle reordering, the key for fingerprint-based dedup.
    * Fused kernel ([[graft.functions.ArrayExpressions.DocFingerprint]]):
    * the HOF chain (transform → distinct → sort → concat → md5) built one
    * UTF8String per shingle per stage and was the single most expensive
    * text operator once the bench consumed values.
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.ArrayExpressions.docFingerprint(col("text"), 4).as("fingerprint"))
      .orderBy("doc_id")
  }
}

package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for reproducible training-data pipelines.
  *
  * Random sampling (`df.sample`, reservoir) is not reproducible across
  * engines, retries, or partitionings — a curation run that must be
  * audited or diffed needs sampling that is a pure function of the data.
  * Hash-order sampling delivers that: rank rows by a multiplicative hash
  * of their id and keep the first k per group. The hash is plain integer
  * arithmetic, so any engine (including the DuckDB oracle) reproduces the
  * exact same sample.
  */
object Sampling {

  /** 2^31−1 (Mersenne prime) and an odd multiplier below 2^31: the
    * product (id mod P)·A stays under 2^62, so the arithmetic can NEVER
    * overflow a 64-bit signed integer — safe under ANSI mode for any id
    * (the repo invariant: hash coefficients < 2^31). Multiplication by A
    * is a bijection on [1, P) since P is prime.
    */
  val P = 2147483647L
  val A = 1640531527L

  /** Multiplicative hash of an id column, in [0, 2^31): integer
    * arithmetic only — portable across engines bit-for-bit, and
    * overflow-free for the full bigint id domain.
    */
  def multHash(id: Column): Column =
    pmod(pmod(id, lit(P)) * lit(A), lit(P))

  /** Deterministic k-per-group sample: the k rows with the smallest
    * [[multHash]] per group (ties by id). Implemented with the
    * bounded-heap [[graft.functions.TopKByScore]] aggregate, so each map
    * task shrinks its slice to k rows per group before the shuffle —
    * sampling a 100 TB corpus shuffles k·groups·tasks rows, not the
    * corpus.
    */
  def kPerGroup(df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    // TopKByScore keeps the LARGEST scores: negate the hash to keep the
    // smallest-hash rows (deterministic "uniform" order).
    df.groupBy(col(groupCol))
      .agg(graft.functions.ArrayExpressions
        .topKByScore(-multHash(col(idCol)).cast("double"), col(idCol), k).as("top"))
      .select(col(groupCol), explode(col("top")).as("t"))
      .select(col(groupCol), col("t.id").as(idCol))
  }

  /** Second independent multiplier (classic LCG constant, odd, < 2^31 —
    * same ANSI-overflow-safety argument as [[A]]): mixture selection must
    * not correlate with the [[stratifiedSplit]] hash, or downweighted
    * sources would be downweighted disproportionately from one split.
    */
  val A2 = 1103515245L

  /** Fourth independent multiplier (Borland LCG constant) for the
    * weighted-sampling uniform — independent of [[multHash]],
    * [[mixHash]], and [[shuffleHash]] so weighted selection correlates
    * with none of the uniform sample, mixture/split, or shard-order
    * decisions.
    */
  val A4 = 1566083941L

  private def wHash(id: Column): Column =
    pmod(pmod(id, lit(P)) * lit(A4), lit(P))

  /** x84: WEIGHTED k-per-group sampling — priority sampling
    * (Duffield-Lund-Thorup): each row draws a deterministic uniform
    * `u ∈ [1, 2^31)` from its id and gets priority `w / u`; the k
    * highest-priority rows per group are the sample. Inclusion
    * probability is ∝ min(1, w·τ) — the quality-weighted corpus
    * subsample ("prefer longer/higher-scoring documents, but never
    * deterministically exclude") that a curation pipeline runs where
    * uniform sampling (x23) would drown the tail. The weight here is
    * the document's character length floored at 1 — a real quality
    * proxy the oracle can recompute.
    *
    * Engine-portability of the ORDER: `u` is exact integer arithmetic
    * (bijective mod the prime, so u values are distinct within any id
    * range < P) and `w / u` is ONE IEEE-754 division — correctly
    * rounded and therefore bit-identical in any engine, unlike a
    * log/pow formulation (Efraimidis-Spirakis keys `u^(1/w)` depend on
    * libm and can flip borderline ranks across engines). Ties break
    * toward the smaller id on both sides. Scale shape: the bounded-heap
    * [[graft.functions.TopKByScore]] aggregate shrinks every map task
    * to k rows per group before the shuffle — k·groups·tasks rows
    * cross the wire, never the corpus.
    */
  def prioritySample(docs: DataFrame, k: Int = 25): DataFrame = {
    val base = docs.select(col("source"), col("doc_id"),
      greatest(length(col("text")).cast("long"), lit(1L)).as("w"),
      (wHash(col("doc_id")) + 1L).as("u"))
    base.groupBy(col("source"))
      .agg(graft.functions.ArrayExpressions
        .topKByScore(col("w").cast("double") / col("u").cast("double"), col("doc_id"), k)
        .as("top"))
      .select(col("source"), explode(col("top")).as("t"))
      .select(col("source"), col("t.id").as("doc_id"))
      .join(base.select(col("doc_id"), col("w"), col("u")), "doc_id")
      .select(col("source"), col("doc_id"), col("w"), col("u"))
      .orderBy("source", "doc_id")
  }

  /** Multiplicative hash for mixture decisions, independent of
    * [[multHash]] (different multiplier → different bijection of id space).
    */
  def mixHash(id: Column): Column =
    pmod(pmod(id, lit(P)) * lit(A2), lit(P))

  /** Deterministic domain-mixture resampling: downsample each source to a
    * target weight (fraction kept, in [0,1]) by hash thresholding — the
    * "data mixing" step that rebalances web/books/code/wiki proportions
    * before training. Keep/drop is a pure function of (source weight,
    * doc_id): reproducible across engines, retries, partitionings, and
    * corpus growth, and independent of the train/val/test split hash.
    *
    * Output pins the per-source decisions, not just the marginals: count
    * kept + bit_xor fingerprint of the kept ids. One map-side-combined
    * aggregation; the per-row keep column is the intermediate `select`
    * for pipelines that need the rows themselves.
    */
  def mixtureResample(docs: DataFrame, weights: Map[String, Double],
                      defaultWeight: Double = 1.0): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(w => w >= 0 && w <= 1))
    // weights in basis points: integer thresholds, no float boundary risk
    val thr = weights.toSeq.sortBy(_._1).foldLeft(lit((defaultWeight * 10000).round)) {
      case (acc, (s, w)) => when(col("source") === s, lit((w * 10000).round)).otherwise(acc)
    }
    docs
      .select(col("source"), col("doc_id"),
        (pmod(mixHash(col("doc_id")), lit(10000L)) < thr).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr("bit_xor(CASE WHEN keep THEN doc_id ELSE 0 END)").as("kept_id_xor"))
      .orderBy("source")
  }

  /** Deterministic stratified train/val/test split: each document's split
    * is a pure function of its id (hash bucket in [0,100)), so the split
    * is reproducible across engines, retries, partitionings, and corpus
    * growth — a document keeps its split when new data arrives, which is
    * what makes incremental training-set builds auditable. Fractions are
    * hash-uniform approximations of trainPct/valPct (exact reproducibility
    * is the contract, not exact proportions).
    *
    * Output is the per-(source, split) summary: count + an id fingerprint
    * (bit_xor/min/max), so the oracle pins the individual assignments,
    * not just the marginals. One map-side-combined aggregation — at
    * 100 TB the shuffle carries |sources|·3 rows per task. The assignment
    * itself (`doc_id, split`) is the intermediate `select` and can be
    * joined/written directly by pipelines that need per-row labels.
    */
  def stratifiedSplit(docs: DataFrame, trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    val bucket = pmod(multHash(col("doc_id")), lit(100L))
    val split = when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")
    docs.select(col("source"), col("doc_id"), split.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("id_xor"),
        min(col("doc_id")).as("id_min"),
        max(col("doc_id")).as("id_max"))
      .orderBy("source", "split")
  }

  /** Third independent multiplier (odd, < 2^31 — same ANSI-overflow
    * argument as [[A]]/[[A2]]): the training-shuffle order must correlate
    * with neither the split hash nor the mixture hash, or one split's
    * documents would cluster inside shards.
    */
  val A3 = 741103597L

  /** Multiplicative hash for the global training shuffle, independent of
    * [[multHash]] and [[mixHash]].
    */
  def shuffleHash(id: Column): Column =
    pmod(pmod(id, lit(P)) * lit(A3), lit(P))

  /** x59: deterministic global shuffle + shard manifest — the step between
    * a curated corpus and a data loader. Training wants documents in a
    * pseudo-random order (no source runs, no curriculum accidents) split
    * into `nShards` loader files; `df.sample`/`repartition`-style
    * randomness is irreproducible across engines, retries, and
    * partitionings, so the shuffle here is a pure function of doc_id: the
    * shard is `shuffleHash(doc_id) mod nShards` and the within-shard
    * position is the rank by (hash, doc_id). Every engine — including the
    * DuckDB oracle — reproduces the exact manifest row for row, which is
    * what makes a training run auditable and resumable.
    *
    * Scale shape: one exchange on the shard key, one per-shard sort of
    * |corpus|/nShards rows (spillable; a manifest REQUIRES a total order
    * within each shard — this is the unavoidable sort, paid once at
    * manifest build). Output is the manifest itself (input-sized, written
    * to storage by a real pipeline — the loader's index, not a driver
    * result). Interleaving is a consequence of hash independence:
    * consecutive positions within a shard mix sources (spec-pinned).
    */
  def shuffleShards(docs: DataFrame, nShards: Int = 8): DataFrame = {
    require(nShards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"), shuffleHash(col("doc_id")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
      .select(col("doc_id"), col("source"), col("shard"),
        row_number().over(w).cast("bigint").as("pos"))
      .orderBy("shard", "pos")
  }

  /** Deterministic concat-and-chunk sequence packing: documents are laid
    * end-to-end in doc_id order and cut into fixed `budget`-token training
    * sequences — the packing step between a curated corpus and a trainer's
    * fixed-length batches. Each document's placement (starting token
    * offset, first pack, packs spanned) is a pure function of the corpus
    * content, so the layout is reproducible across engines, retries, and
    * partitionings.
    *
    * Streams are packed per (source, shard) with `shard = doc_id % nShards`
    * — shard assignment is again a pure function of doc_id. That is the
    * 100-TB shape: a single running sum per source would serialize each
    * source through one window partition (one task per source, unbounded
    * partition size); sharding bounds every window partition at
    * |source|/nShards docs while keeping full determinism, at the cost of
    * at most one partially-filled trailing pack per shard (the same waste
    * any parallel packer accepts). The window's running sum is
    * shuffle-partitioned on (source, shard) and sorted by doc_id — one
    * exchange, one sort, no join.
    */
  def sequencePacking(docs: DataFrame, budget: Int = 256, nShards: Int = 4): DataFrame =
    packBy(docs,
      size(filter(graft.operators.TextAnalysis.tokens(lower(col("text"))),
        t => t =!= "")),
      budget, nShards)

  /** x111: [[sequencePacking]] denominated in REAL subword tokens — the
    * trainer-facing layout a pipeline actually ships once a tokenizer
    * exists (x38's whitespace counts systematically under-fill packs vs
    * the true token budget). Same deterministic layout arithmetic; the
    * per-doc count is x103's shuffle-free replace-chain encode.
    */
  def bpeSequencePacking(docs: DataFrame, merges: Seq[Bpe.Merge],
                         budget: Int = 256, nShards: Int = 4): DataFrame =
    packBy(docs, Bpe.tokenCount(col("text"), merges), budget, nShards)

  /** The packing core: lay documents end-to-end in doc_id order per
    * (source, shard) under the given per-doc token-count column. The
    * count column's type is preserved (x38 ships int, x111 long).
    */
  private def packBy(docs: DataFrame, nTokens: Column, budget: Int, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("source"), col("doc_id"), pmod(col("doc_id"), lit(nShards)).as("shard"),
        nTokens.as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      // an empty doc occupies no slots but still "lands" at its offset's
      // pack; greatest(n_tokens, 1) keeps the span formula total
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division — exact
      // integer pack arithmetic must not round-trip through a float
      .select(col("source"), col("shard"), col("doc_id"), col("n_tokens"), col("tok_start"),
        expr(s"tok_start div $budget").as("pack_id"),
        expr(s"(tok_start + greatest(n_tokens, 1) - 1) div $budget").as("last_pack"))
      .withColumn("packs_spanned", col("last_pack") - col("pack_id") + 1)
      .drop("last_pack")
      .orderBy("doc_id")
  }

  /** Fifth independent multiplier (the classic LCG constant — odd,
    * < 2^31 per the repo's ANSI overflow invariant): negative-candidate
    * draws must be independent of the sampling/split/shuffle hashes or
    * the "random" negatives would correlate with train/val membership.
    */
  val A5 = 1103515245L

  /** x101: contrastive TRIPLET mining — the (anchor, positive, negative)
    * export behind embedding-model training (SimCSE/SBERT-style hard
    * pairs): for every document with at least one near-duplicate, the
    * positive is its MOST similar partner and the negative is a
    * hash-drawn document VERIFIED not to be a near-dup of the anchor.
    * "Near-dup" is deliberately x4's canonical definition (the LSH
    * pipeline + exact-Jaccard verify), so the positives, the exclusion
    * set, and the dedup row can never disagree — and everything is a
    * pure function of the data: the training set is reproducible and
    * auditable across engines, retries, and partitionings (the module's
    * charter), with the oracle replaying pairs, argmax, candidate draws,
    * and exclusion bit-for-bit.
    *
    * Negative draws: candidates c_j = multhash_{A5}(anchor·k + j) mod n
    * for j < `nCand` (n from a 1-row broadcast aggregate, ids contiguous
    * by the fixture contract); the first j surviving {≠ anchor} and the
    * anti-join against the anchor's partner set wins — deterministic,
    * and an anchor with all `nCand` draws colliding (vanishingly rare)
    * drops rather than degrades. Scale shape: pairs are LSH-bounded,
    * positives one window over the pair relation, negatives ≤
    * nCand·|anchors| rows anti-joined against the same ckpt'd relation.
    */
  def tripletMine(docs: DataFrame, nCand: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.minhashLshPairs(docs)
    val pp = pairs.select(explode(array(
        struct(col("doc_a").as("anchor"), col("doc_b").as("partner"), col("jaccard")),
        struct(col("doc_b").as("anchor"), col("doc_a").as("partner"), col("jaccard")))).as("e"))
      .select(col("e.anchor"), col("e.partner"), col("e.jaccard"))
      .ckpt() // read for the positives AND the exclusion anti-join
    val wpos = Window.partitionBy(col("anchor"))
      .orderBy(col("jaccard").desc, col("partner"))
    val pos = pp.withColumn("rk", row_number().over(wpos)).filter(col("rk") === 1)
      .select(col("anchor"), col("partner").as("positive"),
        col("jaccard").as("pos_jaccard"))
    val nRel = docs.agg(count(lit(1)).as("n"))
    val cand = pos.select(col("anchor")).crossJoin(broadcast(nRel))
      .select(col("anchor"), col("n"),
        explode(expr(s"sequence(0, ${nCand - 1})")).as("j"))
      .withColumn("cand",
        pmod(pmod(col("anchor") * nCand + col("j"), lit(P)) * lit(A5), lit(P)) % col("n"))
    val valid = cand.filter(col("cand") =!= col("anchor"))
      .join(pp.select(col("anchor"), col("partner").as("cand")),
        Seq("anchor", "cand"), "left_anti")
    val wneg = Window.partitionBy(col("anchor")).orderBy(col("j"))
    val neg = valid.withColumn("rk", row_number().over(wneg)).filter(col("rk") === 1)
      .select(col("anchor"), col("cand").as("negative"))
    pos.join(neg, "anchor").orderBy("anchor")
  }
}

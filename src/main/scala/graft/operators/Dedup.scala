package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for LLM training-data pipelines.
  *
  * All of these are pure columnar compositions (no UDFs) so they stay inside
  * whole-stage codegen and scale by partitioning:
  *
  *  - exact dedup: one hash-aggregate (map-side partial + final);
  *  - MinHash+LSH near-dup: shingles → k minhashes → banded signatures →
  *    bucket self-join (shuffle on (band, signature), never all-pairs) →
  *    exact-Jaccard verification of candidates only;
  *  - SimHash: 64-bit sign-of-sums fingerprint, computed with
  *    `aggregate`/`zip_with` over the token array.
  *
  * At 100 TB the all-pairs check is impossible (O(n²)); the LSH bucket join
  * keeps the shuffle proportional to Σ bucket² which stays near-linear for
  * reasonable band/row settings (b=8, r=4 here targets J ≈ 0.8 pairs).
  */
object Dedup {

  /** SQL fragment: raw character n-gram list of `colName` (with dups). */
  def shingleSql(colName: String, n: Int): String =
    s"""CASE WHEN length($colName) < $n THEN array()
        ELSE transform(sequence(1, length($colName) - ${n - 1}), i -> substring($colName, i, $n)) END"""

  /** Character n-gram shingle set of `col` as a sorted distinct array. */
  def shingles(colName: String, n: Int): Column =
    expr(s"array_sort(array_distinct(${shingleSql(colName, n)}))")

  /** Exact-duplicate summary over the full text: one row of corpus stats. */
  def exactDupStats(docs: DataFrame): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dup_docs"))

  /** Normalization-key dedup: groups sharing the same first-40-chars key
    * (a cheap canonicalization; the synthetic corpus has no full-text dups
    * but does collide on prefixes). Emits only groups with > 1 member.
    */
  def normalizedDupGroups(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(substring(col("text"), 1, 40)).as("norm_key"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper_doc_id"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_docs") > 1)
      .orderBy("norm_key")

  /** Exact n-gram Jaccard similarity for every pair in a deterministic
    * doc_id-modulo subset (the all-pairs oracle-checkable baseline; the LSH
    * path below is the scale path). |A∩B| / (|A|+|B|−|A∩B|) on distinct
    * trigram sets.
    */
  def ngramJaccardPairs(docs: DataFrame, mod: Int, threshold: Double): DataFrame = {
    // Intersect SORTED 64-bit shingle hashes, not strings: for n <= 3 the
    // packed-code-point hash is injective, so counts EQUAL the string-set
    // values, and the custom merge-walk expression
    // (graft.functions.ArrayExpressions) costs no hashing or boxing per pair.
    val d = graft.spreadNarrow(docs.filter(col("doc_id") % mod === 0), col("doc_id"))
      // single-file inputs scan as one partition; spread the (CPU-heavy)
      // shingling across every core (scale-guarded: graft.spreadNarrow).
      .select(col("doc_id"),
        graft.functions.ArrayExpressions.shingleHashesSorted(col("text"), 3).as("sh"))
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    verifiedJaccard(a.join(b, col("doc_a") < col("doc_b")), "sh_a", "sh_b", threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** x55: exact n-gram CONTAINMENT pairs — the overlap coefficient
    * |A∩B| / min(|A|,|B|) (Szymkiewicz–Simpson) on distinct trigram
    * sets, over the same deterministic doc_id-modulo subset shape as
    * [[ngramJaccardPairs]]. The metric is the asymmetric complement of
    * Jaccard: a short document quoted wholesale inside a much longer one
    * scores overlap 1.0 while its Jaccard tends to 0 — the
    * quotation/subset duplication a training-data pipeline must catch
    * that symmetric near-dup misses. `minShingles` drops trivially-
    * contained tiny documents. All-integer intersection counts + one
    * IEEE double division, so the oracle replays it exactly. No length
    * prefilter is possible (any size ratio can reach the gate — that is
    * the point of the metric), so the bounded subset IS the scale
    * control, exactly as for x3's all-pairs Jaccard baseline.
    */
  def ngramContainmentPairs(docs: DataFrame, mod: Int, threshold: Double,
                            minShingles: Int = 10): DataFrame = {
    val d = graft.spreadNarrow(docs.filter(col("doc_id") % mod === 0), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.ArrayExpressions.shingleHashesSorted(col("text"), 3).as("sh"))
      // materialize ONCE: both self-join sides read the shingled relation
      // (without the barrier each side re-shingles the subset), and the
      // min-shingle gate must sit ABOVE it — pushed below the repartition
      // it would re-run the shingle kernel on the single-partition map
      // side (the shingledDocs pushdown gotcha)
      .ckpt()
      .filter(size(col("sh")) >= minShingles)
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_a") < col("doc_b"))
      .withColumn("n_common",
        graft.functions.ArrayExpressions.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("overlap",
        col("n_common").cast("double") / least(size(col("sh_a")), size(col("sh_b"))))
      .filter(col("overlap") >= threshold)
      // shipped UNROUNDED: overlap is an exact small-integer division, so it
      // can land on exact decimal ties (x/640 -> .5203125) where Spark's
      // HALF_UP-on-shortest-repr round and DuckDB's binary-double round
      // disagree — the q32 cume_dist divergence class (commit f50a86b).
      // Both engines compute the identical IEEE double; ship that.
      .select(col("doc_a"), col("doc_b"), col("overlap"))
      .orderBy("doc_a", "doc_b")
  }

  /** x85: scalable EXACT containment join — the production path for
    * x55's overlap-coefficient dedup (quote-inside-page duplication),
    * which until now only existed as a mod-filtered all-pairs baseline.
    * PPJoin-style prefix filtering (Xiao et al.'s exact set-similarity
    * family) on word 5-gram sets: for overlap(A,B) = |A∩B|/min(|A|,|B|)
    * ≥ t with |A| ≤ |B|, A can miss at most ⌊(1-t)·|A|⌋ of its own
    * shingles, so ANY (⌊(1-t)·|A|⌋+1)-subset of A must intersect A∩B —
    * bucketing each doc's prefix (its globally-RAREST shingles, df
    * ascending, so buckets stay tiny) against the full inverted index
    * of LARGER docs finds every qualifying pair. Recall is exactly 1 by
    * pigeonhole — this is an exact algorithm, not an approximation — so
    * the DuckDB oracle recomputes the pair set with ITS OWN prefix
    * choice (losslessness is subset-agnostic) and must match row for
    * row, overlap values included.
    *
    * Scale shape: ONE gram exchange feeds the df aggregate, the
    * df-annotated probe, and the inverted index (the x37/x66
    * reused-exchange pattern, keep-alive trick included); the per-doc
    * prefix selection is a window bounded by each document's own gram
    * count; candidate volume is Σ over rare grams of
    * (prefix-occurrences × postings) — df-ascending prefixes make the
    * hot boilerplate grams never probe, the inverse of the naive
    * bucket-everything join. Word 5-grams (not x55's char trigrams)
    * because prefix filtering needs a sparse shingle space: char
    * trigrams saturate |alphabet|³ and every prefix becomes a hot key.
    * On top of the prefix, the production path applies PPJoin's
    * POSITIONAL filter (see [[containmentCandidates]]): matched prefix
    * grams whose remaining-overlap bound cannot reach ⌈t·sz⌉ are pruned
    * before the distinct — still exactly lossless; the candidate
    * reduction at 1×/3×/10× is recorded in BASELINE.md, "Round-14: the
    * carried directive list executed", x85 positional filter (PPJoin).
    */
  def containmentJoin(docs: DataFrame, threshold: Double = 0.8,
                      minShingles: Int = 10): DataFrame = {
    val d = shingledDocs(docs, minShingles)
    val cand = containmentCandidates(d, threshold, positional = true)
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("sz").as("sz_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("n_common",
        graft.functions.ArrayExpressions.sortedLongIntersectCount(col("sh_a"), col("sh_b")))
      // unrounded: exact small-integer division, the x55 tie class
      .withColumn("overlap",
        col("n_common").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("overlap") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("overlap"))
      .orderBy("doc_a", "doc_b")
  }

  /** x85's shingling front end: (doc_id, sh sorted-distinct word-5-gram
    * hashes, sz), materialized once — read by the gram explode AND twice
    * at verify.
    */
  private[graft] def shingledDocs(docs: DataFrame, minShingles: Int): DataFrame =
    // spread the CPU-heavy word-5-gram shingling across every core before
    // computing it (r21 stage profile: this ckpt ran 4.4 s as ONE task off
    // the single-file scan) — same idiom + rationale as shingleFingerprints;
    // scale-guarded (graft.spreadNarrow): a no-op once the scan is wide
    graft.spreadNarrow(docs, col("doc_id"))
    .select(col("doc_id"),
      filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("t"))
    .select(col("doc_id"), expr(
      "array_sort(array_distinct(transform(" +
        "case when size(t) >= 5 then transform(sequence(1, size(t) - 4), " +
        "i -> array_join(slice(t, i, 5), ' ')) else array() end, " +
        "g -> xxhash64(g))))").as("sh"))
    .withColumn("sz", size(col("sh")))
    .ckpt()
    // the min-shingle gate sits ABOVE the ckpt barrier: below it,
    // PushPredicateThroughNonJoin pushes the (deterministic) predicate
    // through the RepartitionByExpression, substituting the whole shingle
    // chain into the condition — which re-serializes the CPU-heavy
    // shingling onto the single-partition map side (r21 stage profile:
    // one 3.75 s task doing exactly that). Filtering the materialized
    // relation costs one int compare per row.
    .filter(col("sz") >= minShingles)

  /** x85's candidate generation over a [[shingledDocs]] relation, at
    * one of two pruning levels:
    *
    *  - `positional = false`: prefix filter only — each doc's
    *    (⌊(1-t)·sz⌋+1) globally-rarest grams probe the full inverted
    *    index.
    *  - `positional = true` (the production path): PPJoin's POSITIONAL
    *    filter on top. Both sides carry each gram's rank in the global
    *    (df asc, h asc) order restricted to their own doc, and a matched
    *    gram row survives only if `1 + min(sz_s − rn_s, sz_f − rn_f) ≥
    *    ⌈t·sz_s⌉` — the remaining-overlap upper bound the prefix alone
    *    cannot see. EXACTNESS: the global order induces the same
    *    relative order of A∩B in both docs, so the pair's FIRST common
    *    gram g₁ (a) must sit inside the smaller doc's prefix (else
    *    |A∩B| ≤ sz_s − prefix_len < t·sz_s), and (b) has zero common
    *    grams before it on EITHER side, so its row satisfies
    *    o ≤ 1 + min(remaining) exactly — every qualifying pair keeps at
    *    least the g₁ row. The ε slack on ⌈t·sz_s⌉ only under-prunes
    *    (float-product guard), never drops a qualifying pair.
    *
    * The positional variant materializes the ranked inverted index
    * ([[graft.ckpt]]) because both the prefix side and the probe side
    * read it — the PPJoin index build, one corpus pass.
    */
  private[graft] def containmentCandidates(d: DataFrame, threshold: Double,
                                           positional: Boolean): DataFrame = {
    val spark = d.sparkSession
    val ex = d.select(col("doc_id"), col("sz"), explode(col("sh")).as("h"))
      .repartition(graft.spreadWidth(spark), col("h"))
    // document frequency per gram; max(doc_id) consumed-then-dropped via
    // the tautological filter so ColumnPruning keeps both branches
    // identical below the exchange (the x66/boilerplateRemove trick)
    val dfc = ex.groupBy(col("h"))
      .agg(count(lit(1)).as("dfc"), max(col("doc_id")).as("_mx"))
      .filter(col("_mx").isNotNull).select(col("h"), col("dfc"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("dfc").asc, col("h").asc)
    val prefixLen = (floor((lit(1.0) - lit(threshold)) * col("sz")) + 1).cast("int")
    if (!positional) {
      val sig = ex.join(dfc.hint("merge"), "h")
        .withColumn("_rn", row_number().over(byDoc))
        .filter(col("_rn") <= prefixLen)
        .select(col("doc_id").as("doc_s"), col("sz").as("sz_s"), col("h"))
      // probe the smaller side's prefix against the full inverted index
      sig
        .join(ex.select(col("doc_id").as("doc_f"), col("sz").as("sz_f"), col("h")), "h")
        .filter(col("sz_s") < col("sz_f") ||
          (col("sz_s") === col("sz_f") && col("doc_s") < col("doc_f")))
        .select(least(col("doc_s"), col("doc_f")).as("doc_a"),
          greatest(col("doc_s"), col("doc_f")).as("doc_b"))
        .distinct()
    } else {
      val ranked = graft.ckpt(ex.join(dfc.hint("merge"), "h")
        .withColumn("_rn", row_number().over(byDoc)))
      val sig = ranked.filter(col("_rn") <= prefixLen)
        .select(col("doc_id").as("doc_s"), col("sz").as("sz_s"),
          col("h"), col("_rn").as("rn_s"))
      sig
        .join(ranked.select(col("doc_id").as("doc_f"), col("sz").as("sz_f"),
          col("h"), col("_rn").as("rn_f")), "h")
        .filter(col("sz_s") < col("sz_f") ||
          (col("sz_s") === col("sz_f") && col("doc_s") < col("doc_f")))
        .filter(lit(1) + least(col("sz_s") - col("rn_s"), col("sz_f") - col("rn_f")) >=
          ceil(lit(threshold) * col("sz_s") - lit(1e-9)))
        .select(least(col("doc_s"), col("doc_f")).as("doc_a"),
          greatest(col("doc_s"), col("doc_f")).as("doc_b"))
        .distinct()
    }
  }

  /** Exact-Jaccard verification of candidate pairs carrying sorted shingle
    * arrays in `shA`/`shB` — the ONE definition every verification path
    * (x3 all-pairs baseline, x4 LSH, x31 incremental) runs through. A
    * PPJoin-style length prefilter comes first: J(a,b) = |∩|/|∪| ≤
    * min(|a|,|b|)/max(|a|,|b|), so J ≥ t implies min ≥ t·max — an IMPLIED
    * predicate (result set unchanged) that costs two `size` reads and
    * skips the O(|a|+|b|) merge-walk intersection for hopeless pairs; at
    * 100 TB most star-edge hub candidates die here for free.
    */
  private[operators] def verifiedJaccard(pairs: DataFrame, shA: String, shB: String,
                                         threshold: Double): DataFrame =
    pairs
      .filter(least(size(col(shA)), size(col(shB))).cast("double") >=
        lit(threshold) * greatest(size(col(shA)), size(col(shB))))
      .withColumn("n_common",
        graft.functions.ArrayExpressions.sortedLongIntersectCount(col(shA), col(shB)))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (size(col(shA)) + size(col(shB)) - col("n_common")))
      .filter(col("jaccard") >= threshold)

  /** MinHash + banded LSH near-duplicate candidate generation + exact
    * verification. numPerms minhashes from one base 64-bit hash via
    * (a_i·h + b_i) mod p; bands of `rowsPerBand` hashed into bucket
    * signatures; docs sharing any (band, signature) bucket become
    * candidates; candidates verified with exact Jaccard >= threshold.
    */
  /** Sorted distinct shingle-hash fingerprints (doc_id, hashes): the
    * shared input of LSH banding AND exact verification. Spread across
    * every core (single-file scans are one partition, and AQE would
    * coalesce a count-less repartition of small-bytes/heavy-CPU data right
    * back) and materialized once — the shingling is the dominant CPU cost
    * and several consumers read it. graft.ckpt (not persist) so the
    * blocks auto-clean when the query's RDD is GC'd.
    */
  private[graft] def shingleFingerprints(docs: DataFrame): DataFrame =
    graft.spreadNarrow(docs, col("doc_id"))
    .select(col("doc_id"),
      graft.functions.ArrayExpressions.shingleHashesSorted(col("text"), 3).as("hashes"))
    .ckpt()
    // above the barrier for the same reason as [[shingledDocs]]: pushed
    // below the repartition, this predicate would re-run the shingle
    // kernel on the single-partition map side
    .filter(size(col("hashes")) > 0)

  /** (doc_id, band, sig) band signatures from fingerprints — all numPerms
    * permuted minima in ONE fused pass (custom expression), then each
    * band's slice hashed to one 64-bit signature. Shared by the in-query
    * LSH below AND the persisted band store ([[IncrementalDedup]]), so
    * the two can never band differently.
    */
  private[graft] def bandSignatures(fingerprints: DataFrame, numPerms: Int,
                                        rowsPerBand: Int): DataFrame = {
    val numBands = numPerms / rowsPerBand
    val sigs = fingerprints.select(col("doc_id"),
      graft.functions.ArrayExpressions.minhashSignature(col("hashes"), numPerms).as("mhs"))
    val bandCols = (0 until numBands).map { bnd =>
      expr(s"named_struct('band', $bnd, 'sig', xxhash64(slice(mhs, ${bnd * rowsPerBand + 1}, $rowsPerBand)))")
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
  }

  private[graft] def bandedCandidatePairs(fingerprints: DataFrame, numPerms: Int,
                                   rowsPerBand: Int, maxBucket: Int): DataFrame = {
    // Bucket size and hub come from a WINDOW over (band, sig), not from
    // collecting the membership and inspecting it: collect_list builds its
    // whole bucket as ONE aggregation-row value that must fit in memory,
    // so a degenerate signature (empty/near-empty docs, a boilerplate
    // header shared by millions) is a multi-GB row at 100 TB. WindowExec
    // buffers each (band, sig) group through a spillable sorter instead —
    // a mega-bucket costs spilled disk pages, never one unbounded row —
    // and the only arrays ever materialized are small-bucket memberships,
    // ≤ maxBucket elements by construction (BucketBoundSpec pins this on
    // an adversarial all-docs-one-signature fixture).
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("sig"))
    val members = bandSignatures(fingerprints, numPerms, rowsPerBand)
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("hub", min(col("doc_id")).over(w))
      .filter(col("n") >= 2)
    // Small buckets emit all member pairs (O(bucket²), bounded by the
    // cap); the groupBy rides the window's (band, sig) partitioning — no
    // second exchange. `hub` rides as a (per-bucket-constant) grouping
    // column ONLY so both union branches keep the identical window
    // subtree: without it, column pruning drops `hub` from this branch,
    // the two exchange subtrees stop canonicalizing equal, and the band
    // stream (minhash included) is shuffled and computed twice instead of
    // hitting ReuseExchange.
    val smallPairs = members.filter(col("n") <= maxBucket)
      .groupBy(col("band"), col("sig"), col("hub"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> " +
          "named_struct('doc_a', least(x, y), 'doc_b', greatest(x, y)))))")).as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"))
    // OVERSIZED buckets emit STAR edges to the bucket's smallest doc
    // instead of being skipped: a signature shared by hundreds of docs is
    // a template/boilerplate family — exactly what a 100-TB dedup must
    // catch — and round 4's skip-entirely policy silently dropped EVERY
    // pair inside such families (measured at sf0.1: 57 % of (doc, band)
    // entries sat in capped buckets; even a J=0.9 pair was lost). Star
    // edges keep the blow-up linear in bucket size while preserving
    // cluster CONNECTIVITY through the hub, so the pair→cluster
    // resolution ([[dupClusters]]) still finds the family; each hub edge
    // is exact-verified downstream like any candidate. Emitted straight
    // off the member rows — no membership array of any size.
    val starPairs = members.filter(col("n") > maxBucket && col("doc_id") =!= col("hub"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
    // Explicit-width repartition on the FULL distinct key: the aggregate
    // rides it (hash(doc_a,doc_b) satisfies the distinct's required
    // distribution — same exchange count), but a user repartition is
    // never AQE-coalesced, where the bare distinct's small-bytes exchange
    // was squeezed to ONE partition and serialized the downstream
    // merge-walk verification (r21 stage profile: a 0.55 s single-task
    // intersect stage in x4). Small bytes here ≠ small CPU (guide §2.5).
    smallPairs.unionByName(starPairs)
      .repartition(graft.spreadWidth(fingerprints.sparkSession),
        col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** The candidate stage alone (no exact verification) — the quantity the
    * Σ bucket² bound governs; its growth is recorded in BASELINE.md, "LSH
    * scale table refreshed for star edges (round 5)".
    */
  def minhashLshCandidates(docs: DataFrame, numPerms: Int = 32, rowsPerBand: Int = 4,
                           maxBucket: Int = 64): DataFrame = {
    require(numPerms % rowsPerBand == 0)
    bandedCandidatePairs(shingleFingerprints(docs), numPerms, rowsPerBand, maxBucket)
  }

  def minhashLshPairs(docs: DataFrame, numPerms: Int = 32, rowsPerBand: Int = 4,
                      threshold: Double = 0.6, maxBucket: Int = 64): DataFrame = {
    require(numPerms % rowsPerBand == 0)
    // Sorted distinct shingle hashes, computed ONCE: minhash is
    // order-independent, and the sorted form feeds the merge-walk
    // verification directly.
    val withShingles = shingleFingerprints(docs)
    val candidates = bandedCandidatePairs(withShingles, numPerms, rowsPerBand, maxBucket)
    // Exact verification of the (small) candidate set only, on the SAME
    // sorted hashed sets via the custom merge-walk intersect expression.
    // Plain shuffle joins on doc_id, NOT a broadcast of the fingerprint
    // table: fingerprints are the full corpus (wide arrays) and
    // broadcasting them is a driver/executor OOM at scale, while the
    // candidate side is already bounded by maxBucket² per bucket — the
    // exchange ships |candidates| + 2·|corpus| rows once. AQE still
    // broadcast-converts the join when the runtime size happens to fit.
    val sh = withShingles.select(col("doc_id"), col("hashes").as("sh"))
    verifiedJaccard(candidates
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b"),
      "sh_a", "sh_b", threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Resolve duplicate PAIRS into duplicate CLUSTERS: connected components
    * by min-label propagation WITH label-path compression (pointer
    * doubling): each round every doc adopts min(own label, neighbors'
    * labels), then jumps to its label's label. The jump doubles the
    * propagation distance per round, so convergence is O(log diameter) —
    * a chain of length 2^k resolves in ~k rounds, not 2^k. Returns
    * (doc_id, cluster_id = min doc_id of its component); singleton docs
    * are omitted.
    *
    * Convergence is verified, not assumed: labels only ever decrease, so
    * sum(cluster_id) is a monotone potential and an unchanged sum after a
    * full round proves a fixed point. If the potential is still moving at
    * `maxIters` (2^maxIters ≫ any real component diameter) the operator
    * throws rather than return non-minimal cluster ids.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // Undirected edge list in ONE pass over the pair subtree: explode each
    // pair into both directions (a union of two selects would evaluate the
    // expensive pair-generation subtree twice). No distinct: mirroring
    // unique (doc_a < doc_b) pairs cannot collide, and min-label
    // propagation is idempotent to duplicate edges anyway — the old
    // distinct was a full extra shuffle + materialization for nothing.
    // Edge layout, measured three ways in r21 (x20/x56/x65/x87 profile
    // mins): layout-visible edges + labels (graft.ckptBy both, SHJ hint)
    // 10.4 s, layout-visible edges only 12.4 s, this exchange-per-round
    // form 9.3 s — on local[32] the per-round re-exchange of the small
    // edge list (AQE-coalesced, balanced) beats LogicalRDD-direct join
    // stages. On a real cluster swap to `.ckptBy(par, "dst")` to make
    // the layout visible and keep the edge list from re-shuffling every
    // round (the ckpt'd LogicalRDD reports UnknownPartitioning under
    // AQE, so the repartition below is otherwise planner-invisible).
    val par = graft.spreadWidth(pairs.sparkSession)
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(par, col("dst")).ckpt()
    // Seed labels with the neighbor minimum directly (labels(x) = x
    // initially, so the first propagation needs no join — one groupBy).
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("n_min"))
      .select(col("src").as("doc_id"),
        least(col("src"), col("n_min")).as("cluster_id"))
      .ckpt()

    // compression: cluster_id := min(cluster_id, label(cluster_id)).
    // Every label value is itself a node's doc_id, so the self-join hits;
    // the coalesce only guards the (impossible) unmatched case.
    def compress(ls: DataFrame): DataFrame = {
      val byId = ls.select(col("doc_id").as("_lid"), col("cluster_id").as("_lbl"))
      ls.join(byId, col("cluster_id") === col("_lid"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("_lbl"), col("cluster_id"))).as("cluster_id"))
    }

    // One round = neighbor-min propagation + label-path compression (the
    // compression doubles the pointer jump per round → O(log diameter)
    // rounds total). Propagation is a union + one groupBy (each node's
    // own label rides along as an extra candidate) — one exchange fewer
    // than the join-then-left-join formulation.
    def round(ls: DataFrame): DataFrame = {
      val viaEdges = edges
        .join(ls.withColumnRenamed("doc_id", "dst"), "dst")
        .select(col("src").as("doc_id"), col("cluster_id"))
      val propagated = viaEdges.unionByName(ls)
        .groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
      compress(propagated)
        .ckpt() // truncate the growing lineage each round
    }

    // No pairs => no clusters (and the sum-based convergence probe below
    // would read sum(empty) = null).
    if (labels.head(1).isEmpty) return labels

    var prevSum = Long.MinValue
    var i = 0
    var converged = false
    while (!converged && i < maxIters) {
      labels = round(labels); i += 1
      val s = labels.agg(sum(col("cluster_id"))).head().getLong(0)
      converged = s == prevSum
      prevSum = s
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge after $maxIters pointer-doubling rounds " +
          "(component diameter would exceed 2^" + maxIters + " — inspect the pair input)")
    labels.orderBy("doc_id")
  }

  /** SimHash near-duplicate PAIRS via banded lookup (Manku et al.):
    * documents sharing any of the 4 16-bit bands become candidates; the
    * exact Hamming distance over the full 64-bit fingerprint verifies.
    * By pigeonhole, any pair within Hamming distance 3 differs in at most
    * 3 of the 4 bands, so it MUST share one — recall is exactly 1 for
    * `maxHamming` <= 3, while the shuffle stays a near-linear bucket join
    * (the same scale shape as the MinHash LSH).
    */
  def simhashNearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall 1 only up to Hamming distance 3")
    // On a dense corpus band buckets are large, so the probe side does
    // O(Σ bucket²) comparisons — it MUST be spread across cores. The
    // explicit repartition count keeps AQE from coalescing this
    // small-bytes/CPU-heavy stage to one partition (same gotcha as the
    // shingling operators).
    val sh = graft.spreadNarrow(simhashRaw(docs), col("doc_id"))
      .select(col("doc_id"), col("simhash64"),
        // single primitive bucket key (band index tag + 16-bit value):
        // a long-keyed hashed relation probes far faster than struct keys
        explode(array((0 until 4).map(b =>
          lit(b.toLong * 65536L) + col(s"band$b")): _*)).as("band"))
      // both join sides consume this — materialize the fingerprints once
      .ckpt()
    val a = sh.select(col("band").as("ba"), col("doc_id").as("doc_a"), col("simhash64").as("ha"))
    val b = sh.select(col("band").as("bb"), col("doc_id").as("doc_b"), col("simhash64").as("hb"))
    // Hamming check INSIDE the join condition: on a dense corpus a band
    // bucket can hold thousands of docs, and materializing + deduping the
    // O(bucket²) candidates before filtering dominates; evaluated in the
    // probe loop, failing candidates never leave the join operator.
    a.join(b, col("ba") === col("bb") && col("doc_a") < col("doc_b") &&
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash per document over whitespace tokens, plus its 4 16-bit
    * bands (for banded Hamming-neighbor lookup à la Manku et al.).
    * The fingerprint comes from the fused
    * [[graft.functions.ArrayExpressions.SimHash64]] kernel — one hash per
    * token; the earlier higher-order-function form re-hashed every token
    * once per bit position.
    */
  /** Unordered fingerprints — the building block for pair generation,
    * which repartitions anyway (a global sort here would be a wasted
    * range-exchange on the hot path).
    */
  def simhashRaw(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      graft.functions.ArrayExpressions.simhash64(
        split(col("text"), "\\s+")).as("simhash64"))
      .withColumn("band0", expr("shiftright(simhash64, 48) & 65535"))
      .withColumn("band1", expr("shiftright(simhash64, 32) & 65535"))
      .withColumn("band2", expr("shiftright(simhash64, 16) & 65535"))
      .withColumn("band3", expr("simhash64 & 65535"))
  }

  def simhash(docs: DataFrame): DataFrame =
    simhashRaw(docs).orderBy("doc_id")

  /** x68: EDIT-DISTANCE near-dup — fuzzy duplicate detection by
    * Levenshtein distance on document prefixes, with simhash band-0 (top
    * 16 fingerprint bits) as the blocking key. The composite every
    * title/snippet dedup runs: LSH-style blocking bounds the candidate
    * set (Σ per-bucket n² over 65536 buckets — the x25 band machinery,
    * so near-identical token streams land together), then the THRESHOLD
    * form `levenshtein(a, b, maxDist)` scores only in-bucket pairs,
    * banding the DP cost to O(maxDist·prefixLen) per pair and returning
    * -1 early for anything beyond the threshold instead of filling the
    * full matrix. Edit distance is integer-exact, so the pair relation
    * hash-matches a foreign oracle with no float discipline needed.
    */
  def editDistanceNearDupPairs(docs: DataFrame, prefixLen: Int = 64, maxDist: Int = 20): DataFrame = {
    val sig = docs.select(col("doc_id"),
        substring(col("text"), 1, prefixLen).as("pfx"),
        graft.functions.ArrayExpressions.simhash64(
          split(col("text"), "\\s+")).as("sh"))
      .select(col("doc_id"), col("pfx"),
        expr("shiftright(sh, 48) & 65535").as("band0"))
      // both self-join sides consume this — fingerprint ONCE (the x25
      // pattern: without it each join side re-tokenizes and re-hashes the
      // whole corpus); pre-spread so AQE can't coalesce the CPU-heavy
      // small-bytes stage to one partition
      .repartition(graft.spreadWidth(docs.sparkSession), col("doc_id"))
      .ckpt()
    val a = sig.select(col("doc_id").as("doc_a"), col("pfx").as("pfx_a"), col("band0"))
    val b = sig.select(col("doc_id").as("doc_b"), col("pfx").as("pfx_b"), col("band0"))
    a.join(b, Seq("band0"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pfx_a"), col("pfx_b"), maxDist).as("lev"))
      .filter(col("lev") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  /** x65: KEEPER SELECTION — the final decision of a dedup pipeline:
    * given duplicate clusters (x20's exact-Jaccard graph resolved by
    * [[dupClusters]]) and the shared quality gate
    * ([[graft.operators.TextAnalysis.qualityScoreOn]] — x10/x17/x44's
    * exact definition), keep the highest-quality member of each cluster
    * (doc_id ascending tie-break) and mark every other member dropped.
    * Detect (x3) → cluster (x20) → SELECT KEEPER → drop list: this is the
    * row-level output a curation run actually applies.
    *
    * Scale shape: the per-cluster argmax is an AGGREGATE
    * (`max(struct(quality, -doc_id))` — map-side combinable, one row per
    * cluster after partial aggregation), NOT a window: an adversarial
    * mega-cluster (everything identical) costs one combinable group, never
    * an unsplittable window partition. The keeper join-back is
    * one-row-per-cluster — broadcastable at any corpus size because its
    * cardinality is bounded by the number of CLUSTERS, but left to AQE
    * since cluster counts are data-dependent.
    */
  def keeperSelection(docs: DataFrame): DataFrame = {
    val members = dupClusters(ngramJaccardPairs(docs, 10, 0.5))
      .join(docs.select(col("doc_id"),
        graft.operators.TextAnalysis.qualityScoreOn(col("text")).as("quality_score")), "doc_id")
    // argmax by (quality desc, doc_id asc): max over (quality, -doc_id)
    val keepers = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("neg"))).as("k"))
      .select(col("cluster_id"), (-col("k.neg")).as("keeper_doc_id"))
    members.join(keepers, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("doc_id") === col("keeper_doc_id")).as("is_keeper"))
      .orderBy("doc_id")
  }

  /** x88: exact SUBSTRING-SPAN dedup (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better"): every
    * `L`-char window that occurs more than once ANYWHERE in the corpus
    * (cross-document or self-repeat) marks its span duplicated;
    * overlapping marked spans merge per document (gaps-and-islands) and
    * the output reports each affected document's merged span count and
    * duplicated-char total — the exact character budget a span-removal
    * pass deletes. CHARACTER-level spans with interval merging, which no
    * set-based row here expresses: x3/x55/x85 compare documents as
    * n-gram SETS (document-pair verdicts), x37/x62 count shared token
    * 8-grams (no positions, no merging); this row localizes duplication
    * to exact char ranges WITHIN each document, the form the reference
    * suffix-array pipeline emits.
    *
    * Scale shape: the position explode is |text| rows per document — the
    * honest cost, identical to a suffix-array build's input scan. The
    * dup-gram detection is ONE shuffle on the gram key with map-side
    * combine; the gram join-back is a shuffle join (the dup-gram set is
    * data-dependent — no broadcast by convention); the island merge is a
    * per-document window whose partitions are bounded by document length,
    * never corpus size. Grams shuffle as their own `L`-char text: at
    * production scale the knob is hashing grams to 8 bytes before the
    * shuffle (×5 wire reduction at L=40) at the price of measure-zero
    * collision risk — kept exact here so the DuckDB oracle replays
    * byte-for-byte. Every quantity is integer arithmetic; the row
    * hash-gates with zero float tolerance.
    */
  def substringSpanStats(docs: DataFrame, L: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the raw docs before the per-position window explode: off
    // the single-file scan this stage ran as ONE 2 s task writing the
    // full 34 MB gram exchange (r21 stage profile — the x85 class);
    // scale-guarded (graft.spreadNarrow)
    val g2 = graft.spreadNarrow(docs.filter(length(col("text")) >= L), col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - (L - 1))).as("pos"),
        col("text"))
      .select(col("doc_id"), col("pos"), expr(s"substring(text, pos, $L)").as("gram"))
    // dup-gram detection as a count window over the gram partitioning:
    // ONE full shuffle of the gram relation, where a groupBy + join-back
    // would shuffle it twice (measured 8.9 → 2.9 s at sf0.1); skewed
    // grams hit both forms identically (the join would carry the same
    // hot key)
    val wg = Window.partitionBy("gram")
    val spans = g2.withColumn("c", count(lit(1)).over(wg))
      .filter(col("c") > 1)
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + (L - 1)).as("e"))
    // gaps-and-islands: island breaks where a span starts past the max
    // end seen so far (s is unique per doc, so the frame is deterministic)
    val wPrev = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("doc_id").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, 0)
    spans
      .withColumn("brk",
        when(col("s") > coalesce(max(col("e")).over(wPrev), lit(0)), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("ss"), max(col("e")).as("ee"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("ee") - col("ss") + 1).cast("long").as("dup_chars"))
      .orderBy("doc_id")
  }

  /** x94: Sorted-Neighborhood near-dup detection (Hernández & Stolfo,
    * SIGMOD 1995) — the SORT-based member of the candidate-geometry
    * family: hash keys (x2), LSH buckets (x4/x5), learned centroids
    * (x87), and rare-gram prefixes (x85) all bucket by CONTENT; SNM
    * instead totally orders the corpus by a blocking key (here the
    * whitespace-stripped 24-char prefix) and compares each record only
    * against the next `window`−1 records — candidate volume is a HARD
    * w·n bound regardless of key skew, the property none of the
    * hash-family generators can promise when a bucket goes hot.
    * Candidates verify by exact word-3-gram Jaccard ≥ 1/2, kept as the
    * integer test 2·|A∩B| ≥ |A∪B| — no float anywhere.
    *
    * Scale shape: ONE range-partitioned sort; the global contiguous rank
    * is the two-phase offset pattern ([[GlobalRank.withRank]]:
    * per-partition row_number + driver-prefix-summed per-partition
    * offsets over the config-bounded count relation — zero unpartitioned
    * windows anywhere; the range exchange is ckpt'd because
    * spark_partition_id is only meaningful for ONE materialization of
    * nondeterministically-sampled range boundaries, while the rank
    * itself is boundary-invariant).
    * Neighbor pairs come from q18's binned range join — each left row
    * lands in ≤2 rank buckets of size `window`, the right side in one,
    * so the join is equi on the bucket with constant fan-out: no nested
    * loop, no global-window lead() (which would single-partition the
    * corpus).
    *
    * Recall is the method's documented trade: a near-dup pair whose
    * blocking keys sort far apart is missed. The multi-pass SNM answer —
    * re-running under a second, structurally different key and unioning
    * the pair sets — is [[snmPairsTwoPass]]: pass 2 orders by the
    * REVERSED stripped text's 24-char prefix (i.e. the document's
    * suffix), so a near-dup family that diverges at the front but shares
    * its tail sorts adjacent exactly where pass 1 scattered it
    * ([[graft.SnmSpec]] plants such a family and pins that pass 1
    * provably misses it while the union catches it). On the fixture's
    * prefix-sharing duplicate families the single pass is exact, and
    * the fixture shows clean separation (no pairs between 0.3 and 0.5
    * Jaccard).
    */
  def snmPairs(docs: DataFrame, window: Int = 8): DataFrame =
    snmVerifiedNeighbors(snmKeyed(snmBase(docs), st => substring(st, 1, 24)), window)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("inter").cast("long").as("n_inter"), col("uni").cast("long").as("n_union"))
      .orderBy("doc_a", "doc_b")

  /** Multi-pass SNM: the union of two [[snmPairs]]-style passes under
    * complementary blocking keys — pass 1 the stripped-text 24-char
    * PREFIX, pass 2 the 24-char prefix of the REVERSED stripped text
    * (the suffix, reversed). Pairs are normalized to (min, max) doc
    * order before the union-dedup, and `n_passes` records how many
    * passes independently surfaced each pair (the Jaccard counts are
    * pair properties, identical whichever pass found them, so the
    * dedup is an exact max/count aggregate, never a tie-break). Cost is
    * exactly two hard-bounded w·n passes — multi-pass SNM buys recall
    * with a CONSTANT factor, never a blow-up, which is the whole appeal
    * of the sort-based geometry under skew.
    */
  def snmPairsTwoPass(docs: DataFrame, window: Int = 8): DataFrame = {
    // ONE shared base: the stripped text and the gram sets are
    // pass-independent, so the CPU-heavy derivation runs once and both
    // passes' blocking keys are cheap substrings over the materialization
    val base = snmBase(docs)
    val p1 = snmVerifiedNeighbors(snmKeyed(base, st => substring(st, 1, 24)), window)
    val p2 = snmVerifiedNeighbors(snmKeyed(base, st => substring(reverse(st), 1, 24)), window)
    p1.unionByName(p2)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("inter"), col("uni"))
      .groupBy("doc_a", "doc_b")
      .agg(max(col("inter")).cast("long").as("n_inter"),
        max(col("uni")).cast("long").as("n_union"),
        count(lit(1)).cast("long").as("n_passes"))
      .orderBy("doc_a", "doc_b")
  }

  /** (doc_id, bk, g) for one SNM pass: `bkOf` maps the lowercased
    * whitespace-stripped text to that pass's blocking key; `g` is the
    * distinct word-3-gram set the verify step intersects.
    */
  private def snmKeyed(base: DataFrame, bkOf: Column => Column): DataFrame =
    base.select(col("doc_id"), bkOf(col("st")).as("bk"), col("g"))

  /** The pass-INDEPENDENT half of [[snmKeyed]]: (doc_id, stripped text,
    * distinct word-3-gram set), spread across every core and materialized
    * ONCE. Without this, the regex+split+gram chain re-evaluated SERIALLY
    * (off the single-file local scan) for every consumer of the keyed
    * relation — `repartitionByRange`'s boundary-sampling job plus the
    * range exchange itself, per pass: four ~0.5 s single-task stages in
    * x104's r22 stage profile (guide §2.5 — the x85 single-task class).
    * The ckpt also lets x104's two passes share one derivation: blocking
    * keys are cheap substrings over `st` computed per pass.
    */
  private def snmBase(docs: DataFrame): DataFrame =
    graft.spreadNarrow(docs, col("doc_id"))
      .select(col("doc_id"), lower(col("text")).as("t"))
      .withColumn("st", regexp_replace(col("t"), "\\s+", ""))
      .withColumn("w", expr("filter(split(t, '\\\\s+'), x -> x != '')"))
      .withColumn("g", expr(
        """CASE WHEN size(w) >= 3
          |  THEN array_distinct(transform(sequence(1, size(w) - 2),
          |    p -> concat_ws(' ', slice(w, p, 3))))
          |  ELSE cast(array() as array<string>) END""".stripMargin))
      .select(col("doc_id"), col("st"), col("g"))
      .ckpt()

  /** The sort → global-rank → binned-window → exact-Jaccard-verify core
    * of one SNM pass (scale shape documented on [[snmPairs]]): emits
    * (da, db, inter, uni) in rank order, threshold 2·inter ≥ uni applied.
    */
  private def snmVerifiedNeighbors(base: DataFrame, window: Int): DataFrame = {
    // the shared two-phase offset rank (r19: extracted to GlobalRank,
    // whose driver-prefix-sum offsets also removed this method's one
    // remaining unpartitioned window over the counts relation)
    val ranked = GlobalRank.withRank(base, col("bk"), col("doc_id"))._1
      .select(col("doc_id"), col("g"), col("rn"))
      .ckpt() // both sides of the binned self-join
    val a = ranked
      .select(col("doc_id").as("da"), col("g").as("ga"), col("rn").as("ra"))
      .withColumn("bkt", explode(array_distinct(array(
        expr(s"ra div $window"), expr(s"(ra + ${window - 1}) div $window")))))
    val b = ranked
      .select(col("doc_id").as("db"), col("g").as("gb"), col("rn").as("rb"),
        expr(s"rb div $window").as("bkt"))
    a.join(b, Seq("bkt"))
      .filter(col("rb") > col("ra") && col("rb") <= col("ra") + lit(window - 1))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .withColumn("uni", size(col("ga")) + size(col("gb")) - col("inter"))
      .filter(col("uni") > 0 && col("inter") * 2 >= col("uni"))
      .select(col("da"), col("db"), col("inter"), col("uni"))
  }
}

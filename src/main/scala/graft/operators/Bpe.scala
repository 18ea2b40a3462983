package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic byte-pair-encoding tokenizer: train + apply as exact,
  * oracle-replayable operators — the subword pass every LLM training
  * pipeline runs between raw text and token-denominated bookkeeping
  * (packing, OOV, perplexity), here for real instead of the whitespace
  * proxies the earlier text rows ride on.
  *
  * '''Algorithm''' (Sennrich, Haddow & Birch 2015, arXiv:1508.07909):
  * train on the WORD-FREQUENCY DICTIONARY, not the corpus — words are
  * whitespace-split from lowercased text, each initialised as its
  * character sequence plus a terminal `</w>` marker; each merge round
  * counts all adjacent symbol pairs weighted by word frequency (exact
  * integers, one map-side-combined shuffle), picks the single most
  * frequent pair with a count-desc / lexicographic (lhs, rhs) tie-break
  * (fully deterministic, so the learned merge table hash-gates), and
  * rewrites every word by greedy leftmost non-overlapping replacement of
  * that pair. Applying the trained tokenizer replays the merge table in
  * rank order over each word.
  *
  * '''Symbol-sequence encoding.''' A word's symbol sequence is ONE string:
  * symbols joined by a double space, wrapped in single spaces —
  * `"low"` → `" l  o  w  </w> "`. Symbols never contain spaces (words are
  * whitespace-split), so the boundary is unambiguous, and one literal
  * `replace(enc, " a  b ", " ab ")` is EXACTLY greedy leftmost
  * non-overlapping pair substitution: the pattern consumes one of the two
  * separator spaces on each side, which blocks re-merging the freshly
  * merged token with its left neighbour in the same pass while leaving
  * the neighbouring separators intact (`" a  a  a  a "` → `" aa  aa "`,
  * `" a  a  a "` → `" aa  a "` — [[graft.BpeSpec]] pins both). The same
  * single `replace` call exists in DuckDB with identical semantics, so
  * every training round and the final encoding replay verbatim in the
  * oracle (unrolled MATERIALIZED CTEs, the x75/x91 pattern).
  *
  * '''Scale shape''' (the 100 TB question): the corpus is touched ONCE, by
  * the word-count aggregation (map-side combined; the dictionary is
  * vocabulary-sized, orders of magnitude smaller than the corpus). Each
  * merge round is one explode + hash-aggregate over the dictionary plus a
  * narrow per-row rewrite; the winning pair is a 1-row take (the
  * convergence-probe idiom, not a data collect), and the dictionary is
  * `ckpt`'d per round (the x75 cadence) so round i never recomputes
  * rounds 1..i-1. Applying the tokenizer is shuffle-free: a fixed chain
  * of literal `replace` calls inside a `transform` lambda, whole-stage
  * codegen friendly, embarrassingly parallel per document. The merge
  * table itself is model parameters — bounded by construction (numMerges
  * rows), the one thing that legitimately lives on the driver.
  */
object Bpe {

  /** Terminal word-boundary symbol — lets merges distinguish word-final
    * pairs, per the original BPE formulation.
    */
  val EndOfWord = "</w>"

  /** A learned merge: 1-based rank, the two symbols, their exact
    * frequency-weighted pair count at selection time.
    */
  final case class Merge(rank: Int, lhs: String, rhs: String, count: Long)

  /** Initial symbol-sequence encoding of a word: each character a symbol,
    * `</w>` appended — `"ab"` → `" a  b  </w> "`.
    */
  def encodeWord(w: Column): Column =
    concat(lit(" "), regexp_replace(w, "(.)", "$1  "), lit(EndOfWord + " "))

  /** Symbols of an encoded sequence, in order. */
  def symbols(enc: Column): Column = split(trim(enc), "  ")

  private def mergePattern(m: Merge): (String, String) =
    (s" ${m.lhs}  ${m.rhs} ", s" ${m.lhs}${m.rhs} ")

  /** One greedy leftmost non-overlapping application of merge `m`. */
  def applyMerge(enc: Column, m: Merge): Column = {
    val (pat, rep) = mergePattern(m)
    call_function("replace", enc, lit(pat), lit(rep))
  }

  /** The full trained tokenizer: merges applied in rank order. */
  def applyMerges(enc: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(enc)(applyMerge)

  /** Lowercased whitespace words of a text column, empties dropped. */
  private def words(text: Column): Column =
    filter(split(lower(text), "\\s+"), w => w =!= "")

  /** Train `numMerges` BPE merges on the corpus' word-frequency
    * dictionary. Returns the merge table in rank order.
    */
  def train(spark: SparkSession, docs: DataFrame, numMerges: Int): Seq[Merge] = {
    // The ONE corpus-wide pass: word-type frequencies (map-side combined).
    var dict = docs
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(encodeWord(col("w")).as("enc"), col("freq"))
      .ckpt()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      // Adjacent symbol pairs, frequency-weighted exact integer counts.
      val top = dict
        .withColumn("sy", symbols(col("enc")))
        .select(col("freq"), explode(expr(
          "CASE WHEN size(sy) < 2 THEN array() " +
            "ELSE transform(sequence(0, size(sy) - 2), i -> struct(sy[i] AS a, sy[i+1] AS b)) END"))
          .as("p"))
        .groupBy(col("p.a"), col("p.b"))
        .agg(sum(col("freq")).as("cnt"))
        // deterministic winner: count desc, then lexicographic (a, b) —
        // limit(1) plans as TakeOrdered, never a full sort
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .take(1).headOption
      top match {
        case None =>
          // Tiny/empty corpus ran out of adjacent pairs before numMerges:
          // every word is a single symbol, nothing left to merge. Stop
          // cleanly — the oracle's per-round CTEs produce the same empty
          // tail, so the truncated merge table still matches.
          exhausted = true
        case Some(row) =>
          val m = Merge(rank, row.getString(0), row.getString(1), row.getLong(2))
          merges += m
          // Narrow per-row rewrite; ckpt truncates the growing replace
          // chain so round i+1's pair scan reads materialized blocks, not
          // lineage.
          dict = dict.withColumn("enc", applyMerge(col("enc"), m)).ckpt()
          rank += 1
      }
    }
    merges.result()
  }

  /** Word types kept by [[trainFast]]'s frequency truncation. 2^16 covers
    * every fixture corpus untruncated (31 types); at 100 TB it is the
    * standard tokenizer-trainer bound (HuggingFace/SentencePiece style)
    * that keeps driver memory O(maxTypes) regardless of corpus size.
    */
  val MaxDictTypes: Int = 1 << 16

  /** BPE training at realistic merge counts — the pair-count/heap
    * formulation. [[train]] runs one distributed pair-count shuffle PER
    * MERGE, which is exact at any dictionary size but caps out around
    * tens of merges (a 30k-merge production vocabulary would be 30k
    * shuffles). This is how real tokenizer trainers solve it: the corpus
    * is touched ONCE (the distributed word-type count, map-side
    * combined), the dictionary is frequency-truncated to [[MaxDictTypes]]
    * types (count desc, word asc — deterministic), and the merge loop
    * runs on the driver over that bounded dictionary with
    *
    *  - a pair→count table updated INCREMENTALLY: each round rewrites
    *    only the word types that actually contain the winning pair
    *    (tracked by a pair→types inverted index), subtracting the old
    *    adjacent-pair contributions and adding the new ones — exact, and
    *    per-round work is bounded by the affected types, not the
    *    dictionary;
    *  - a lazy-deletion max-heap over (count, lhs, rhs) snapshots, so
    *    winner selection is O(log P) amortized instead of a full
    *    pair-table scan per round.
    *
    * Semantics are IDENTICAL to [[train]] — same greedy leftmost
    * non-overlapping rewrite, same (count desc, lexicographic (lhs, rhs))
    * winner, same early stop when no pair remains — so the same unrolled
    * DuckDB oracle gates both ([[graft.BpeSpec]] additionally pins
    * trainFast ≡ train round-for-round). Tie-break comparisons use
    * UTF-8 byte order to match Spark's UTF8String / DuckDB's VARCHAR
    * collation on any input, not just ASCII.
    */
  def trainFast(spark: SparkSession, docs: DataFrame, numMerges: Int,
                maxTypes: Int = MaxDictTypes,
                failOnTruncate: Boolean = true): Seq[Merge] = {
    // limit(maxTypes + 1) so an over-budget corpus is DETECTED, not
    // silently truncated: the DuckDB oracle (BpeTrainCtes) builds from
    // ALL word types, so a truncation the oracle does not model would
    // surface as a confusing merge-table diff many rounds downstream
    // (r16 ADVICE). One extra collected row buys a loud, immediate
    // failure naming the actual lever. A production trainer that WANTS
    // the HF/SentencePiece-style truncation (no oracle in the loop)
    // passes failOnTruncate = false; the ledger rows use the default.
    val dict = docs
      .select(explode(words(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(maxTypes + 1)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(!failOnTruncate || dict.length <= maxTypes,
      s"trainFast: corpus has > $maxTypes distinct word types; the ledger oracle " +
        "models NO truncation - raise maxTypes (driver memory is O(maxTypes)) or " +
        "pass failOnTruncate=false to accept count-desc/word-asc truncation")
    trainInMemory(dict.take(maxTypes), numMerges)
  }

  /** UTF-8 unsigned-byte string comparison — Spark UTF8String / DuckDB
    * VARCHAR order, which JVM String.compareTo (UTF-16 code units)
    * diverges from above the BMP.
    */
  private def utf8Compare(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** The driver-side merge loop of [[trainFast]]: exact incremental
    * pair counts + lazy-deletion heap over a bounded dictionary.
    */
  private def trainInMemory(types: Array[(String, Long)],
                            numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    type Pair = (String, String)
    // Word types as mutable symbol sequences; duplicates (possible after
    // truncation of distinct words? no — input is distinct) irrelevant:
    // counts sum over rows exactly like the relational formulation.
    val seqs: Array[mutable.ArrayBuffer[String]] = types.map { case (w, _) =>
      val b = mutable.ArrayBuffer.empty[String]
      w.foreach(c => b += c.toString)
      b += EndOfWord
      b
    }
    val freqs: Array[Long] = types.map(_._2)
    val counts = mutable.HashMap.empty[Pair, Long]
    val where = mutable.HashMap.empty[Pair, mutable.HashSet[Int]]
    // Max-heap of (count, lhs, rhs) SNAPSHOTS; stale entries (count no
    // longer current) are discarded at pop time — the lazy-deletion idiom.
    val heapOrd: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val a = utf8Compare(y._2, x._2) // smaller lhs wins ties
            if (a != 0) a else utf8Compare(y._3, x._3)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](heapOrd)
    val touched = mutable.HashSet.empty[Pair]

    // Lazy deletion never removes superseded snapshots, so over a long
    // run the heap accumulates stale entries — at 30k merges the un-
    // compacted heap grows ~linearly with total pair churn while the LIVE
    // pair table stays bounded by the dictionary. When stale entries
    // dominate (heap > 4x live pairs, past a floor that keeps tiny runs
    // rebuild-free), rebuild the heap from the live table: O(P) vs the
    // O(churn · log churn) of popping through the backlog. Semantics are
    // untouched — the live-count check at pop time already ignores every
    // entry a rebuild would drop.
    def compactIfStale(): Unit =
      if (heap.size > 4096 && heap.size > 4 * counts.size) {
        heap.clear()
        counts.foreach { case ((a, b), c) => heap.enqueue((c, a, b)) }
      }

    // Add/remove word ti's adjacent-pair contributions. Counts move by
    // freq per OCCURRENCE; membership (`where`) is per distinct pair —
    // the remove side strips ti from every old pair's set, and the
    // following re-add restores the pairs the rewritten word still has.
    def contribute(ti: Int, sign: Long): Unit = {
      val s = seqs(ti)
      val f = freqs(ti) * sign
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val nc = counts.getOrElse(p, 0L) + f
        if (nc == 0L) counts.remove(p) else counts(p) = nc
        touched += p
        if (sign > 0) where.getOrElseUpdate(p, mutable.HashSet.empty) += ti
        else where.get(p).foreach(_.remove(ti))
        i += 1
      }
    }

    def flushHeap(): Unit = {
      touched.foreach { p => heap.enqueue((counts.getOrElse(p, 0L), p._1, p._2)) }
      touched.clear()
    }

    seqs.indices.foreach(contribute(_, 1L))
    flushHeap()

    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = numMerges <= 0
    while (!done) {
      // Pop to the first LIVE entry: snapshot count must equal the
      // current count (stale snapshots are discarded).
      var winner: Option[(Long, String, String)] = None
      while (winner.isEmpty && heap.nonEmpty) {
        val e = heap.dequeue()
        if (e._1 > 0L && counts.getOrElse((e._2, e._3), 0L) == e._1)
          winner = Some(e)
      }
      winner match {
        case None => done = true // dictionary exhausted: no pair remains
        case Some((cnt, a, b)) =>
          merges += Merge(rank, a, b, cnt)
          val merged = a + b
          val affected = where.getOrElse((a, b), mutable.HashSet.empty).toArray
          java.util.Arrays.sort(affected)
          affected.foreach { ti =>
            contribute(ti, -1L)
            // greedy leftmost non-overlapping rewrite in place
            val s = seqs(ti)
            val out = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                out += merged; i += 2
              } else { out += s(i); i += 1 }
            }
            seqs(ti) = out
            contribute(ti, 1L)
          }
          // the merged pair itself must die even if `affected` was empty
          // in pathological states; normal path: its count went to 0
          flushHeap()
          compactIfStale()
          rank += 1
          if (rank > numMerges) done = true
      }
    }
    merges.result()
  }

  /** Subword token count of a text under a trained merge table — the
    * column form of [[encodeDocs]]'s count, for token-denominated
    * consumers (x111's packing): Σ over words of the encoded symbol
    * count. Shuffle-free, codegen-friendly, 0 for empty documents.
    */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    aggregate(transform(words(text), w => trim(applyMerges(encodeWord(w), merges))),
      lit(0L), (acc, e) => acc + size(split(e, "  ")))

  /** The learned merge table as a DataFrame — the x102 ledger surface:
    * (merge_rank, lhs, rhs, merged, pair_count) in rank order.
    */
  def mergeTable(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.map(m => (m.rank, m.lhs, m.rhs, m.lhs + m.rhs, m.count))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** Encode every document with a trained merge table — the x103 ledger
    * surface: per-doc subword token count plus an md5 fingerprint of the
    * full encoded sequence (word encodings joined by `"|"` in document
    * order), so the gate pins the exact tokenization, not just its size.
    * Shuffle-free: per-word replace chain inside a `transform` lambda.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val encWords = transform(words(col("text")),
      w => trim(applyMerges(encodeWord(w), merges)))
    // spread the raw docs before the CPU-heavy per-word merge-replace
    // chain: off the single-file scan the whole encode ran as ONE
    // 1.1 s task (r21 stage profile — the x85 class); scale-guarded
    graft.spreadNarrow(docs, col("doc_id"))
      .select(col("doc_id"),
        aggregate(encWords, lit(0L),
          (acc, e) => acc + size(split(e, "  "))).as("n_tokens"),
        md5(concat_ws("|", encWords)).as("enc_md5"))
      .orderBy("doc_id")
  }
}

package graft.operators

import graft.Tables
import graft.sources.{Bucketed, DirTag}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental new-batch-vs-corpus near-duplicate detection — the
  * production shape of LSH dedup at 100 TB.
  *
  * The whole-corpus paths (x4/x17/x18) re-fingerprint and re-band
  * EVERYTHING per run; a real pipeline ingests a bounded new batch per
  * cycle and must dedup it against the accumulated corpus without
  * touching the corpus again. The ingredients are persisted once:
  *
  *  - a **band store** `(bsig, band, sig, doc_id)` — every (band,
  *    signature) membership of every corpus doc, bucketed by
  *    `bsig = xxhash64(band, sig)` (the candidate-join key);
  *  - a **fingerprint store** `(doc_id, hashes)` — the sorted shingle
  *    hashes that exact verification needs, bucketed by doc_id.
  *
  * Per batch, only the new docs are fingerprinted and banded; the tiny
  * distinct set of TOUCHED bucket keys is broadcast against the band
  * store, so the only corpus rows that move are members of buckets the
  * new batch actually hits (O(|new| x bucket size), not O(corpus)), and
  * verification fingerprints come from the bucketed store (exchange-free
  * on the store side). Candidate semantics — bucket membership, all pairs
  * within the maxBucket cap, star edges to the bucket-min hub above it,
  * exact-Jaccard verification — are shared with the whole-corpus path
  * ([[Dedup.bandSignatures]] / the same fused
  * expressions), which yields the testable contract: the incremental
  * pair set EQUALS the whole-corpus pair set restricted to pairs with at
  * least one new endpoint. x31 carries that equality into the driver's
  * oracle gate as invariant booleans next to DuckDB-exact batch counts.
  *
  * Reference analog: Job-1 -> Job-2 chaining through materialized output
  * (`AirportTripsRevenue.java:599-600`) — jobs communicating through a
  * persisted layout instead of recomputation, done with bucketed tables
  * instead of HDFS text files.
  */
object IncrementalDedup {

  /** The synthetic "new day": a deterministic, DuckDB-expressible slice. */
  val NewMod = 10
  val NewRem = 7

  // same parameters as the whole-corpus x4 path — required for the
  // restriction-equality contract
  private val NumPerms = 32
  private val RowsPerBand = 4
  private val Threshold = 0.6
  private val MaxBucket = 64
  private val StoreBuckets = 8

  def isNewDoc(id: Column): Column = id % NewMod === NewRem

  private def corpusSlice(docs: DataFrame): DataFrame = docs.filter(!isNewDoc(col("doc_id")))
  private def newSlice(docs: DataFrame): DataFrame = docs.filter(isNewDoc(col("doc_id")))

  private def bsig: Column = xxhash64(col("band"), col("sig"))

  /** Idempotently persist the corpus band store; returns the table name. */
  private def bandStore(spark: SparkSession, dir: String): String =
    Bucketed.materializedBucketedTable(spark, "bandstore_" + DirTag.dirScope(dir) + "_",
      "bandstore_" + DirTag(dir, "documents"), "bsig", StoreBuckets) {
      Dedup.bandSignatures(
          Dedup.shingleFingerprints(corpusSlice(Tables.load(spark, dir, "documents"))),
          NumPerms, RowsPerBand)
        .withColumn("bsig", bsig)
    }

  /** Idempotently persist the corpus fingerprint store (verification side). */
  private def fingerprintStore(spark: SparkSession, dir: String): String =
    Bucketed.materializedBucketedTable(spark, "fpstore_" + DirTag.dirScope(dir) + "_",
      "fpstore_" + DirTag(dir, "documents"), "doc_id", StoreBuckets) {
      Dedup.shingleFingerprints(corpusSlice(Tables.load(spark, dir, "documents")))
    }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard) with >= 1 endpoint
    * in the new batch, computed WITHOUT re-reading corpus text: the new
    * batch is fingerprinted fresh; the corpus side comes entirely from
    * the two persisted stores.
    */
  def incrementalPairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val storeBands = spark.table(bandStore(spark, dir))
    val storeFp = spark.table(fingerprintStore(spark, dir))

    // the per-batch compute: fingerprints + bands of the NEW docs only
    val newFp = Dedup.shingleFingerprints(newSlice(docs))
    val newBands = Dedup.bandSignatures(newFp, NumPerms, RowsPerBand)
      .withColumn("bsig", bsig)

    // corpus members of TOUCHED buckets only: broadcast the tiny distinct
    // touched-key set — the band store is scanned but never shuffled, and
    // only O(|new| x bucket size) store rows survive into the groupBy
    val touched = newBands.select(col("bsig")).distinct()
    val members = storeBands.join(broadcast(touched), "bsig")
      .select(col("bsig"), col("band"), col("sig"), col("doc_id"), lit(false).as("is_new"))
      .unionByName(newBands
        .select(col("bsig"), col("band"), col("sig"), col("doc_id"), lit(true).as("is_new")))

    // bucket handling on the TOTAL membership (store + new) mirrors the
    // whole-corpus path EXACTLY — all pairs within the [2, maxBucket]
    // cap, STAR edges to the bucket-min hub above it — because the x31
    // contract is restriction EQUALITY, and that test is the no-drift
    // guard between the two implementations. Same bounded-state shape as
    // [[Dedup.bandedCandidatePairs]]: size and hub via a window (the
    // spillable path), membership arrays only for ≤ MaxBucket buckets.
    // min(struct(doc_id, is_new)) picks the least doc_id (struct ordering
    // is field-lexicographic), the same hub the whole-corpus path picks;
    // grouping carries (band, sig) so a (theoretical) xxhash64 collision
    // cannot merge two buckets differently than x4 would
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bsig"), col("band"), col("sig"))
    val sized = members
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("hub", min(struct(col("doc_id"), col("is_new"))).over(w))
      .filter(col("n") >= 2)
    // hub as a grouping column for the same ReuseExchange reason as
    // [[Dedup.bandedCandidatePairs]] (constant per bucket)
    val smallPairs = sized.filter(col("n") <= MaxBucket)
      .groupBy(col("bsig"), col("band"), col("sig"), col("hub"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("is_new")))).as("ids"))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> " +
          "named_struct('doc_a', least(x.doc_id, y.doc_id), " +
          "'doc_b', greatest(x.doc_id, y.doc_id), " +
          "'any_new', x.is_new or y.is_new))))")).as("pr"))
      .select(col("pr.doc_a"), col("pr.doc_b"), col("pr.any_new"))
    val starPairs = sized.filter(col("n") > MaxBucket && col("doc_id") =!= col("hub.doc_id"))
      .select(col("hub.doc_id").as("doc_a"), col("doc_id").as("doc_b"),
        (col("hub.is_new") || col("is_new")).as("any_new"))
    val candidates = smallPairs.unionByName(starPairs)
      .filter(col("any_new") && col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

    // exact verification; each endpoint's fingerprints come from the
    // bucketed store when it is a corpus doc, else from the new batch.
    // Two left joins + coalesce instead of a store∪new union: a union
    // would re-shuffle the (corpus-sized) store per batch, while here the
    // store side stays exchange-free and only candidates move.
    def attach(df: DataFrame, endpoint: String): DataFrame = df
      .join(storeFp.select(col("doc_id").as(endpoint), col("hashes").as(s"sh_${endpoint}_store")),
        Seq(endpoint), "left")
      .join(newFp.select(col("doc_id").as(endpoint), col("hashes").as(s"sh_${endpoint}_new")),
        Seq(endpoint), "left")
      .withColumn(s"sh_$endpoint",
        coalesce(col(s"sh_${endpoint}_store"), col(s"sh_${endpoint}_new")))
      .drop(s"sh_${endpoint}_store", s"sh_${endpoint}_new")

    Dedup.verifiedJaccard(attach(attach(candidates, "doc_a"), "doc_b"),
        "sh_doc_a", "sh_doc_b", Threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** x31: the driver-visible ledger row — the BATCH PATH ONLY. Times the
    * production cost: spool-warm persisted stores + one incremental batch
    * (O(|new|·bucket)); the whole-corpus x4 recompute does NOT run here.
    * Through round 10 the ledger row was [[incrementalSummary]], which
    * recomputes the full corpus pair set inside the timed call to assert
    * restriction equality — so the row could never evidence its own
    * O(|new|) claim (r10 drew 14.2 s against a 2.7-3.2 s batch-cost
    * band). The equality contract moved to QueriesSpec (where it already
    * ran on the raw pair sets); the gate keeps a HARD value check — the
    * restriction equality is exactly what lets DuckDB's whole-pipeline
    * LSH replay count the incremental pairs (`n_pairs`) bit-exactly.
    */
  def incrementalBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val flags = incrementalPairs(spark, dir).agg(
      count(lit(1)).as("n_pairs"),
      coalesce(bool_and(col("jaccard") >= Threshold), lit(true)).as("all_pairs_verified"))
    val counts = docs.agg(
      count(when(isNewDoc(col("doc_id")), lit(1))).as("n_new"),
      count(when(!isNewDoc(col("doc_id")), lit(1))).as("n_corpus"))
    counts.crossJoin(flags)
      .select(col("n_new"), col("n_corpus"), col("n_pairs"), col("all_pairs_verified"))
  }

  /** The full restriction-equality contract (spec surface, not the timed
    * ledger row — see [[incrementalBatch]]): DuckDB-exact batch counts
    * ride with two engine-computed invariants — the incremental pair set
    * (and its jaccard values) equals the whole-corpus x4 pairs restricted
    * to >= 1 new endpoint, and every emitted pair clears the threshold.
    */
  def incrementalSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val inc = incrementalPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_inc"))
    val full = Dedup.minhashLshPairs(docs, NumPerms, RowsPerBand, Threshold, MaxBucket)
      .filter(isNewDoc(col("doc_a")) || isNewDoc(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("j_full"))
    val flags = inc.join(full, Seq("doc_a", "doc_b"), "full_outer").agg(
      coalesce(bool_and(col("j_inc").isNotNull && col("j_full").isNotNull &&
        col("j_inc") === col("j_full")), lit(true)).as("incremental_equals_full"),
      coalesce(bool_and(col("j_inc") >= Threshold), lit(true)).as("all_pairs_verified"))
    val counts = docs.agg(
      count(when(isNewDoc(col("doc_id")), lit(1))).as("n_new"),
      count(when(!isNewDoc(col("doc_id")), lit(1))).as("n_corpus"))
    counts.crossJoin(flags)
      .select(col("n_new"), col("n_corpus"),
        col("incremental_equals_full"), col("all_pairs_verified"))
  }
}

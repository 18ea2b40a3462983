package graft.operators

import graft.Tables
import graft.sources.{Bucketed, DirTag}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental new-batch-vs-corpus ANN search — the production shape of
  * similarity search at 100 TB, mirroring [[IncrementalDedup]]'s store
  * pattern for the [[Similarity.lshTopK]] index.
  *
  * The whole-corpus x48 path recomputes every vector's hyperplane
  * signature per run; a real ingestion pipeline embeds a bounded new
  * batch per cycle and must search it against the accumulated corpus
  * without re-indexing the corpus. Persisted once:
  *
  *  - a **bucket store** `(tbk, t, bucket, sz, vec_id)` — every (table,
  *    bucket) membership of every corpus vector, bucketed by
  *    `tbk = xxhash64(t, bucket)` (the candidate-join key);
  *  - a **vector store** `(vec_id, v)` — the corpus vectors exact-cosine
  *    ranking needs, bucketed by vec_id so the ranking join is
  *    exchange-free on the store side.
  *
  * Per batch, only the new vectors are signed (one fused scan of the
  * batch); the tiny distinct set of TOUCHED bucket keys broadcasts
  * against the bucket store, so the only corpus rows that move are
  * members of buckets the batch actually hits — O(|new| · bucket), the
  * corpus never re-read or re-signed. Candidate semantics (shared-bucket
  * collision on (t, bucket, sz)) and ranking (exact cosine, x7
  * tie-break) are IDENTICAL to [[Similarity.lshTopK]] restricted to
  * new-probe/corpus-candidate pairs — the testable contract QueriesSpec
  * pins — and because the hyperplane signs are a pure splitmix function,
  * the whole incremental query replays in DuckDB SQL and hash-gates as
  * x49.
  *
  * Reference analog: Job-1 -> Job-2 chaining through materialized output
  * (`AirportTripsRevenue.java:599-600`) — stages communicating through a
  * persisted layout instead of recomputation.
  */
object IncrementalAnn {

  /** The synthetic "new day": the x31 slice rule, over vec_id. */
  val NewMod = 10
  val NewRem = 7

  // default parameters = the whole-corpus x48 path's — required for the
  // restriction-equality contract (and the x49 replayed-SQL oracle, which
  // pins them). Both are overridable: fixed nBits means per-bucket
  // occupancy grows linearly with the corpus, so a production deployment
  // re-sizes nBits ~ log2(corpus) ([[Similarity.occupancySizedBits]],
  // pinned by `AnnSizingSpec`) through these overrides.
  private[graft] val NBits = 6
  private[graft] val NTables = 8
  private val StoreBuckets = 8

  def isNewVec(id: Column): Column = id % NewMod === NewRem

  private def corpusSlice(emb: DataFrame): DataFrame = emb.filter(!isNewVec(col("vec_id")))
  private def newSlice(emb: DataFrame): DataFrame = emb.filter(isNewVec(col("vec_id")))

  private def tbk: Column = xxhash64(col("tb.t"), col("tb.bucket"))

  /** Idempotently persist the corpus bucket store; returns the table name.
    * The tag embeds (nBits, nTables): stores of different index geometries
    * are different physical layouts, and a same-prefix tag mismatch is
    * exactly what [[Bucketed.materializedBucketedTable]]'s sweep treats as
    * stale — so re-sizing nBits for a fixture dir retires that dir's old
    * store instead of leaking it (pre-r8 unsuffixed tags sweep the same way).
    */
  def bucketStore(spark: SparkSession, dir: String,
                  nBits: Int = NBits, nTables: Int = NTables): String =
    Bucketed.materializedBucketedTable(spark, "annbkt_" + DirTag.dirScope(dir) + "_",
      "annbkt_" + DirTag(dir, "embeddings") + s"_b${nBits}t$nTables", "tbk", StoreBuckets) {
      Similarity.tableBuckets(
          Similarity.vecFrame(corpusSlice(Tables.load(spark, dir, "embeddings"))),
          nBits, nTables)
        .select(tbk.as("tbk"), col("tb.t").as("t"), col("tb.bucket").as("bucket"),
          col("sz"), col("vec_id"))
    }

  /** Idempotently persist the corpus vector store (ranking side). */
  def vectorStore(spark: SparkSession, dir: String): String =
    Bucketed.materializedBucketedTable(spark, "annvec_" + DirTag.dirScope(dir) + "_",
      "annvec_" + DirTag(dir, "embeddings"), "vec_id", StoreBuckets) {
      Similarity.vecFrame(corpusSlice(Tables.load(spark, dir, "embeddings")))
    }

  /** The candidate half of [[incrementalTopK]]: (probe_id, cand_id)
    * shared-bucket collisions of the new batch against the persisted
    * corpus index — exposed so `AnnSizingSpec` can count
    * candidates/probe without ranking them.
    *
    * `multiProbe` applies [[Similarity.multiProbeTopK]]'s Hamming-1
    * bucket expansion to the BATCH side only — a query-time policy over
    * the unchanged persisted store (the probe fan-out multiplies the
    * tiny batch index by nBits+1; the corpus side never re-signs), so
    * one index serves both probing policies incrementally too.
    */
  private[graft] def candidateIds(spark: SparkSession, dir: String,
                                  nBits: Int = NBits, nTables: Int = NTables,
                                  multiProbe: Boolean = false): DataFrame = {
    val store = spark.table(bucketStore(spark, dir, nBits, nTables))

    // the per-batch compute: signatures of the NEW vectors only
    val probeVecs = Similarity.vecFrame(newSlice(Tables.load(spark, dir, "embeddings")))
    val baseIdx = Similarity.tableBuckets(probeVecs, nBits, nTables)
    val probeIdx =
      if (!multiProbe) baseIdx
      else baseIdx
        .withColumn("flip",
          explode(array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))): _*)))
        .withColumn("tb", struct(col("tb.t").as("t"),
          col("tb.bucket").bitwiseXOR(col("flip")).as("bucket")))
        .drop("flip")
    val newIdx = probeIdx
      .select(tbk.as("tbk"), col("tb.t").as("pt"), col("tb.bucket").as("pbucket"),
        col("sz").as("psz"), col("vec_id").as("probe_id"))

    // corpus members of TOUCHED buckets only: broadcast the tiny distinct
    // touched-key set — the bucket store is scanned but never shuffled,
    // and only colliding members survive into the candidate set. tbk is
    // a 64-bit hash of (t, bucket); the join still matches on the raw
    // (t, bucket, sz) so a (theoretical) xxhash64 collision cannot
    // manufacture a candidate the raw index would not produce. Only
    // `touched` carries a broadcast HINT (distinct keys — bounded);
    // newIdx scales with |batch|, so AQE decides that join's strategy
    // (broadcast when it fits, shuffle of the already-touched-filtered
    // store side when it doesn't).
    val touched = newIdx.select(col("tbk")).distinct()
    store.join(broadcast(touched), "tbk")
      .join(newIdx,
        col("t") === col("pt") && col("bucket") === col("pbucket") &&
          col("sz") === col("psz") && col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("cand_id")).distinct()
  }

  /** Top-k corpus neighbors (probe_id, cand_id, sim, rank) for every
    * new-batch vector, computed WITHOUT re-reading or re-signing the
    * corpus: the batch is signed fresh; the corpus side comes entirely
    * from the two persisted stores.
    */
  def incrementalTopK(spark: SparkSession, dir: String, k: Int = 5,
                      nBits: Int = NBits, nTables: Int = NTables,
                      multiProbe: Boolean = false): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val probeVecs = Similarity.vecFrame(newSlice(emb))
    val storeVecs = spark.table(vectorStore(spark, dir))
    Similarity.rankCandidates(
      candidateIds(spark, dir, nBits, nTables, multiProbe), probeVecs, storeVecs, k)
  }
}

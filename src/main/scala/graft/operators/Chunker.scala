package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Content-defined chunking (CDC) with a Gear rolling hash — the
  * substring-level dedup primitive: chunk boundaries depend only on LOCAL
  * byte content, so an edit near a document's tail leaves every earlier
  * chunk identical (unlike fixed-size blocks, where one insertion shifts
  * every later boundary). Deduplicating chunk hashes across a corpus then
  * removes repeated boilerplate/quotations at 100 TB with one hash-agg —
  * no pairwise comparison at all.
  *
  * The per-document pass is the fused
  * [[graft.functions.ArrayExpressions.CdcChunks]] kernel (one scan over
  * the UTF-8 bytes); everything corpus-level is ordinary hash
  * aggregation, so the operator scales exactly like exact dedup (x1).
  */
object Chunker {

  /** One row per chunk: (doc_id, chunk_idx, chunk_len, chunk_hash). */
  def chunks(docs: DataFrame, minSize: Int = 32, avgBits: Int = 6,
             maxSize: Int = 512): DataFrame = {
    docs.select(col("doc_id"),
        posexplode(graft.functions.ArrayExpressions.cdcChunks(
          col("text"), minSize, avgBits, maxSize)).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.len").as("chunk_len"), col("c.hash").as("chunk_hash"))
  }

  /** Driver-oracle rollup per source (same invariant-boolean pattern as
    * x24/x27): the exact columns (doc counts, total bytes) hash-check
    * against DuckDB; the chunking contract (bytes conserved, every
    * non-empty doc chunked, sizes within [minSize, maxSize] except a
    * short final chunk) rides as booleans the oracle pins to `true`.
    * Chunk-count / unique-chunk values are engine-internal (they depend
    * on the gear table) and live in ScalaTest property coverage instead.
    */
  def chunkStats(docs: DataFrame, minSize: Int = 32, avgBits: Int = 6,
                 maxSize: Int = 512): DataFrame = {
    val ch = chunks(docs, minSize, avgBits, maxSize)
      .groupBy(col("doc_id"))
      .agg(sum(col("chunk_len")).as("doc_chunk_bytes"),
        count(lit(1)).as("doc_n_chunks"),
        max(col("chunk_len")).as("doc_max_chunk"),
        // every chunk but the last must be >= minSize; the last may be
        // the document remainder — so at most one short chunk, and only
        // at the last index (positional, not just a count)
        sum(when(col("chunk_len") < minSize, 1).otherwise(0)).as("doc_n_short"),
        max(when(col("chunk_len") < minSize, col("chunk_idx"))).as("doc_short_idx"))
    // NULL text is treated as 0 bytes (drop-don't-fail): without the
    // coalesce every boolean below is NULL for a NULL-text doc and min()
    // skips it, silently exempting those docs from the contract (and
    // hash-mismatching the oracle's `true` on an all-NULL source group).
    docs.select(col("source"), col("doc_id"),
        coalesce(length(encode(col("text"), "UTF-8")), lit(0)).as("n_bytes"))
      .join(ch, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_bytes") > 0, 1).otherwise(0)).cast("bigint").as("n_nonempty"),
        sum(col("n_bytes")).cast("bigint").as("total_bytes"),
        min(coalesce(col("doc_chunk_bytes"), lit(0)) === col("n_bytes")).as("bytes_conserved"),
        min(col("n_bytes") === 0 || col("doc_n_chunks").isNotNull).as("all_nonempty_chunked"),
        min(coalesce(col("doc_max_chunk"), lit(0)) <= maxSize &&
          coalesce(col("doc_n_short"), lit(0)) <= 1 &&
          (col("doc_short_idx").isNull ||
            col("doc_short_idx") === col("doc_n_chunks") - 1)).as("sizes_bounded"))
      .orderBy("source")
  }

  /** Corpus-level duplicate-chunk profile (engine-internal values —
    * ScalaTest coverage): how much of the byte volume is removable by
    * chunk-level dedup.
    */
  def dupChunkProfile(docs: DataFrame, minSize: Int = 32, avgBits: Int = 6,
                      maxSize: Int = 512): DataFrame =
    chunks(docs, minSize, avgBits, maxSize)
      .groupBy(col("chunk_hash"), col("chunk_len"))
      .agg(count(lit(1)).as("n_copies"))
      .agg(count(lit(1)).as("n_unique_chunks"),
        sum(col("n_copies")).cast("bigint").as("n_chunks"),
        sum(col("chunk_len") * col("n_copies")).cast("bigint").as("total_bytes"),
        sum(col("chunk_len") * (col("n_copies") - 1)).cast("bigint").as("dup_bytes"))
}

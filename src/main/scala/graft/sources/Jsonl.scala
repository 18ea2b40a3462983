package graft.sources

import graft.CkptOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** JSONL (one JSON object per line) source/sink round-trip — the de-facto
  * interchange format of LLM data pipelines (every public corpus release
  * ships as *.jsonl.gz). The reference's only format is positional text
  * (`src/SparkTripLength.java:44`, `src/AirportTripsRevenue.java:153`);
  * this pins the schema-on-read path our engine adds on top: documents are
  * written as JSONL and read back with an EXPLICIT schema (schema
  * inference over 100 TB means a second full scan — never rely on it),
  * and the driver-visible contract proves the round trip preserved every
  * row and every text byte, because the oracle computes the same
  * fingerprints over the ORIGINAL parquet.
  */
object Jsonl {

  /** Write `df` in `format`, read it back with the SAME explicit schema,
    * and hand the round-tripped frame to `f` (whose result must not
    * reference the temp files — aggregate or collect inside). Shared by
    * the driver summaries (x41 JSONL, x53 ORC) and the
    * adversarial-content specs, so they exercise one path. The explicit
    * schema matters on every format: inference over 100 TB means a second
    * full scan (JSONL) or trusting per-file footers to agree (columnar).
    */
  private[graft] def withFormatRoundtrip[T](df: DataFrame, format: String)(f: DataFrame => T): T = {
    val tmp = Files.createTempDirectory(s"graft_rt_$format")
    try {
      val path = tmp.resolve("docs").toString
      df.write.mode("overwrite").format(format).save(path)
      f(df.sparkSession.read.schema(df.schema).format(format).load(path))
    } finally LayoutCache.deleteRecursively(tmp)
  }

  private[graft] def withJsonlRoundtrip[T](df: DataFrame)(f: DataFrame => T): T =
    withFormatRoundtrip(df, "json")(f)

  /** Per-source content fingerprints — the shared currency of the
    * layout-maintenance contracts (x41 round trip, x42 compaction): count
    * + doc_id xor pin the row set, md5 min/max + re-measured char sum pin
    * the text bytes.
    */
  private[graft] def contentFingerprints(docs: DataFrame): DataFrame =
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("bit_xor(doc_id)").as("id_xor"),
        sum(length(col("text"))).as("sum_chars"),
        min(md5(col("text"))).as("md5_min"),
        max(md5(col("text"))).as("md5_max"))
      .orderBy("source")

  /** Per-source content fingerprints computed over the JSONL copy:
    * count + doc_id xor pin the row set, md5 min/max + re-measured char
    * sum pin the text bytes (re-measured — NOT the carried n_chars
    * column — so a lossy round trip cannot hide behind a preserved
    * metadata field). The tiny aggregate is materialized eagerly
    * (`graft.ckpt`) so the temp JSONL dir can be deleted before
    * returning the lazy frame to the driver.
    */
  def roundtripSummary(spark: SparkSession, dir: String): DataFrame =
    withJsonlRoundtrip(Tables.load(spark, dir, "documents")) { back =>
      contentFingerprints(back).ckpt()
    }

  /** x53: the same round-trip contract over ORC — the other columnar
    * format a warehouse interchanges with (Spark ships native
    * vectorized ORC read/write; Hive-era lakes are full of it). Same
    * fingerprints, same oracle as x41: the ORC copy must preserve every
    * row and every text byte of the original parquet.
    */
  def orcRoundtripSummary(spark: SparkSession, dir: String): DataFrame =
    withFormatRoundtrip(Tables.load(spark, dir, "documents"), "orc") { back =>
      contentFingerprints(back).ckpt()
    }
}

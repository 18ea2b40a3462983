package graft.sources

import graft.CkptOps

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Small-files compaction — the standard maintenance pass of every
  * file-based lake: streaming ingest and fine-grained batch writes leave
  * thousands of tiny files per table (x40's per-micro-batch sink is the
  * canonical producer), and scan throughput collapses under per-file open
  * cost and footer reads until a compactor rewrites them into few
  * scan-sized files. At 100 TB compaction is a rolling background job per
  * partition; the primitive is the same: read small files, `coalesce` to
  * the target count (coalesce, not repartition — merging files needs no
  * shuffle, partitions are unioned on the executors), write once.
  *
  * The contract is content identity under layout change, the same
  * fingerprint currency as the x41 round trip: the oracle computes the
  * fingerprints over the ORIGINAL parquet, the engine over the COMPACTED
  * copy of a deliberately-fragmented copy — plus driver-checked booleans
  * that the fragmentation was real and the compaction actually collapsed
  * it.
  */
object Compaction {

  /** Fragment multiplier: the fragmented copy carries this many files. */
  private val SmallFiles = 64
  /** Compaction target. */
  private val TargetFiles = 4

  private def countParts(dir: String): Long = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.filter(_.getFileName.toString.startsWith("part-")).count()
    finally s.close()
  }

  /** x42: fragment documents into [[SmallFiles]] files (round-robin, the
    * worst case — every file holds every source), compact with ONE
    * shuffle-free coalesce write, and return per-source fingerprints of
    * the compacted copy with the file-count contract as booleans.
    */
  def compactionSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tmp = Files.createTempDirectory("graft_compact")
    try {
      val smallDir = tmp.resolve("small").toString
      val bigDir = tmp.resolve("compacted").toString
      // Spark writes no part file for an empty partition, so fragmenting a
      // fixture smaller than SmallFiles must target the achievable count —
      // otherwise was_fragmented goes false for a reason unrelated to
      // compaction (the oracle pins it true).
      val frag = math.min(SmallFiles.toLong, math.max(docs.count(), 1L)).toInt
      docs.repartition(frag).write.mode("overwrite").parquet(smallDir)
      val nSmall = countParts(smallDir)
      spark.read.parquet(smallDir).coalesce(TargetFiles)
        .write.mode("overwrite").parquet(bigDir)
      val nBig = countParts(bigDir)
      Jsonl.contentFingerprints(spark.read.parquet(bigDir))
        .withColumn("was_fragmented", lit(nSmall >= frag))
        .withColumn("is_compacted", lit(nBig <= TargetFiles))
        .ckpt()
    } finally LayoutCache.deleteRecursively(tmp)
  }

  /** x43: schema evolution — a corpus written in waves where LATER waves
    * carry a column earlier waves never had (here `quality`, arriving with
    * the doc_id%10==7 "new day" of the x31 narrative). The lake reality
    * this pins: you do NOT rewrite 100 TB of historical files to add a
    * column; old files stay as they are, `mergeSchema` unions the file
    * schemas at read time, and the late column reads as NULL for every
    * old-wave row. The quality value is a pure function of the row
    * (n_chars % 7), so the DuckDB oracle reproduces the merged read —
    * including exactly WHICH rows have it — from the original table.
    */
  def schemaEvolutionSummary(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val isNew = col("doc_id") % 10 === 7
    val tmp = Files.createTempDirectory("graft_evolve")
    try {
      val t = tmp.resolve("t").toString
      docs.filter(!isNew).write.mode("overwrite").parquet(t)
      docs.filter(isNew).withColumn("quality", col("n_chars") % 7)
        .write.mode("append").parquet(t)
      val merged = spark.read.option("mergeSchema", "true").parquet(t)
      merged.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_with_quality"),
          sum(col("quality")).as("sum_quality"),
          expr("bit_xor(doc_id)").as("id_xor"))
        .orderBy("source")
        .ckpt()
    } finally LayoutCache.deleteRecursively(tmp)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared session/consumption plumbing for the mains ([[Bench]],
  * [[Profile]], [[Verify]], [[GenScaleTree]], `Recompress`) — one place
  * for the config, so profile and correctness numbers stay comparable to
  * bench numbers by construction.
  */
object BenchHarness {

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, a static conf, default 100).
    * Over all 173 SparkEntry rows at sf0.01 the engine compiles 2,958
    * distinct classes; one of the ledger benchmark's passes alone
    * compiles 241. With 100 entries every warm pass recompiled about 225
    * of them, and one full sweep compiled 5,156 classes; a second warm
    * sweep took 233.9 s against 146.6 s with the set cached (4 vCPU,
    * local[4]). 4096 is the next power of two above the working set, for
    * +23 MB of metaspace (212 → 235 MB). Shared with the test session.
    */
  val CodegenCacheEntries = 4096

  /** The engine's static session settings, shared by [[session]] and the
    * test session, so tests run on what the benchmark measures:
    *  - a UTC session clock and no UI;
    *  - the engine's SQL extensions ([[GraftExtensions]]);
    *  - the codegen cache above;
    *  - artifact isolation off. `CodeGenerator` keys its cache on the
    *    thread's context class loader as well as the code, and with
    *    isolation on every cloned session (each streaming query runs on
    *    one) gets a fresh loader, so a replayed stream recompiled all of
    *    its classes; nothing in the engine adds session artifacts;
    *  - `file:` paths through [[graft.sources.ForklessLocalFs]], which
    *    sets permissions and reads link status without forking a shell.
    */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false"
  ) ++ graft.sources.ForklessLocalFs.HadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v }

  /** `cpus` (from `SPARK_GRAFT_CPUS`, else `defaultCpus`) local cores, as
    * many shuffle partitions, AQE and [[SessionConf]].
    */
  def session(appName: String, defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config(SessionConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Trigger JIT + parquet-footer caches once so per-query numbers measure
    * the plan, not first-touch JVM warmup.
    */
  def warmup(spark: SparkSession): Unit =
    SparkEntry.entry(spark).count()

  /** Evaluate EVERY value of the result: hash all columns per row, fold
    * the hashes. A bare `count()` lets column pruning delete expensive
    * computed columns from the plan entirely — a fingerprinting query
    * "benched" by count runs at scan speed with its fingerprints never
    * computed. One xxhash64 per row is noise next to any real operator.
    *
    * Two DELIBERATE limits of this consumer, so nobody reads more into
    * the timings than they say:
    *  - a query's terminal `orderBy` is NOT timed: wrapping in an
    *    Aggregate lets Catalyst's EliminateSorts drop the (semantically
    *    unobservable) final sort. Every non-terminal sort — windows,
    *    sort-merge joins, sortWithinPartitions — is still paid.
    *  - the folded value is a consumption device, not a faithful digest:
    *    bit_xor cancels duplicate rows pairwise. The rows are still
    *    COMPUTED (that is all timing needs); correctness lives in the
    *    driver's oracle compare, which hashes actual values.
    */
  def consume(df: DataFrame): Unit = {
    // bit_xor, not sum: summing 64-bit hashes overflows long within a few
    // thousand rows and ANSI mode turns that into a runtime abort
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("_h"))
      .agg(expr("bit_xor(_h)")).head()
    ()
  }
}

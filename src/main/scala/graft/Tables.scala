package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * One parquet file per table under `\$dir/<name>.parquet`.
  *
  * Schema cache. A bare `spark.read.parquet` runs a schema-inference job
  * (footer read, 100-150 ms at sf0.01) on every call, and every row loads
  * its tables afresh: uncached, that is 22 of the 85 jobs of one pass over
  * the benchmark's 14 ledger rows. Each load resolves its schema through
  * [[schemaOf]]:
  *  - the entry is keyed on the path plus the values of
  *    [[InferenceConfs]], the parquet inference confs this loader sets,
  *    so `events`' two reads (NTZ inference on, then off) are two
  *    entries, each inferred under its own confs;
  *  - each entry holds the stamp (path, length, mtime of every file under
  *    the path) it was inferred from. The stamp is re-read through the
  *    session's Hadoop FileSystem on EVERY call, never memoized per JVM
  *    (unlike [[graft.sources.DirTag]]): a table rewritten mid-session is
  *    re-inferred, because a stale schema would read a new column as
  *    absent and a dropped one as silent nulls;
  *  - a changed stamp replaces the entry, so the cache holds one entry
  *    per (path, confs) and stays bounded;
  *  - the cache holds schemas, not relations: every call still returns a
  *    fresh `spark.read.schema(s).parquet(path)`, so a table loaded twice
  *    and self-joined keeps distinct attribute ids.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Harmless for non-nanos files; required to even resolve the schema
    // of a nanos file without throwing (the historical `events`). Set for
    // every table, so a table's schema and cache key never depend on
    // whether `events` was loaded earlier in the session.
    spark.conf.set(NanosAsLong, "true")
    if (name == "events") loadEvents(spark, s"$dir/$name.parquet")
    else read(spark, s"$dir/$name.parquet")
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"
  /** The parquet inference confs this loader sets; part of the cache key. */
  private val InferenceConfs = Seq(NanosAsLong, InferNtz)

  private type Stamp = Seq[(String, Long, Long)]
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Option[String]]), (Stamp, StructType)]()

  /** (path, length, mtime) of every file under `path`, read live; empty
    * for a missing path, whose read then fails with Spark's own error.
    * Walks with `listStatus`, not `listFiles`: the located status that
    * `listFiles` builds reads each file's permissions, which the local
    * filesystem does by forking `ls -ld` per file.
    */
  private def stamp(spark: SparkSession, path: String): Stamp = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Seq.newBuilder[(String, Long, Long)]
    def walk(q: Path): Unit = fs.listStatus(q).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    if (fs.exists(p)) walk(p)
    out.result().sorted
  }

  /** The parquet schema of `path` under the session's current inference
    * confs: inferred once per file stamp (see the object doc).
    */
  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = (path, InferenceConfs.map(spark.conf.getOption))
    val now = stamp(spark, path)
    Option(schemas.get(key)) match {
      case Some((s, schema)) if s == now => schema
      case _ =>
        val schema = spark.read.parquet(path).schema
        schemas.put(key, (now, schema))
        schema
    }
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schemaOf(spark, path)).parquet(path)

  /** `events.ts` loader, tolerant of the fixture's timestamp encoding
    * (see TESTDATA.md "events.ts encoding contract"). The generator has
    * shipped two encodings over time; both store the same epoch-UTC
    * instants at microsecond precision, and this loader normalizes both
    * to a session-UTC `TIMESTAMP` column losslessly:
    *
    *  - parquet TIMESTAMP(NANOS) (historical): Spark rejects nanos
    *    outright ([PARQUET_TYPE_ILLEGAL]) unless read as raw longs via
    *    `nanosAsLong`; the values are whole microseconds (ts % 1000 == 0)
    *    so `timestamp_micros(ts div 1000)` is exact.
    *  - parquet timestamp[us] with isAdjustedToUTC=false (current):
    *    Spark infers TIMESTAMP_NTZ by default. The stored int64 IS epoch
    *    micros, so we re-read with `inferTimestampNTZ.enabled=false`,
    *    which maps the column straight to TIMESTAMP (epoch-UTC instant)
    *    with no wall-clock reinterpretation. This is deliberately NOT a
    *    `cast(ntz as timestamp)`, which would shift values under a
    *    non-UTC `spark.sql.session.timeZone`.
    */
  private def loadEvents(spark: SparkSession, path: String): DataFrame = {
    val raw = read(spark, path)
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long branch (historical fixture)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000"))) // integer div: `/` would round through double
      case _: TimestampNTZType => // timestamp[us] branch (current fixture)
        val prev = spark.conf.getOption(InferNtz)
        spark.conf.set(InferNtz, "false")
        val reread =
          try read(spark, path) // schema resolves here, under the conf
          finally prev match {
            case Some(v) => spark.conf.set(InferNtz, v)
            case None    => spark.conf.unset(InferNtz)
          }
        if (reread.schema("ts").dataType.isInstanceOf[TimestampNTZType]) {
          // SPARK-written file (e.g. a GenScaleTree tree): the embedded
          // Spark schema pins TIMESTAMP_NTZ regardless of the inference
          // conf, so the re-read trick cannot demote it. The wall-clock
          // IS the UTC instant; the cast below is lossless exactly when
          // the session timezone is UTC — which every graft session pins
          // (BenchHarness) — enforced here so a non-UTC session
          // fails fast instead of silently shifting instants.
          require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
            "events.ts NTZ→TIMESTAMP normalization requires a UTC session timezone")
          reread.withColumn("ts", col("ts").cast("timestamp"))
        } else reread
      case _ => raw // already TIMESTAMP: trust it
    }
  }

  /** Register every table as a temp view so `spark.sql` can see them. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

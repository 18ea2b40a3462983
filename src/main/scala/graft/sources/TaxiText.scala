package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.FileNotFoundException

/** Readers for the reference's two text formats (FIXTURES.md §A):
  *
  *  - `segments`: CSV, 9 fields, single quotes around timestamps/status
  *    (/root/reference/src/AirportTripsRevenue.java:129-134,153).
  *  - `trips`: space-separated, 11 fields
  *    (/root/reference/src/SparkTripLength.java:31,44-49).
  *
  * Both readers are schema-on-read over one line source with
  * `spark.read.text`'s rows — dirty rows are dropped by downstream
  * filters, never errors, matching the reference's drop-don't-fail
  * contract. Plain text splits into at least the core count
  * (`defaultParallelism`) partitions. The split hint is per read because
  * the file scan's only split knobs (`spark.sql.files.maxPartitionBytes`,
  * `openCostInBytes`) are session-wide, and lowering them there splits
  * every parquet scan into empty tasks. Whole-file codecs (`.gz`, …)
  * decompress transparently but stay one partition (same physics as the
  * reference; see [[warnIfNotSplittable]]).
  */
object TaxiText {

  /** The reference's own documented pitfall (report.pdf p.3 §3.3; its
    * Exercise-1 run feeds a `.gz` through `command:17` and eats the
    * single-split penalty): gzip/zstd-style whole-file codecs are NOT
    * splittable, so one compressed text file = one input partition no
    * matter how many executors the cluster has. Same physics in Spark.
    * This check WARNS (stderr, per read) when a non-splittable
    * compressed text source feeds a parallel session — the fix at scale
    * is uncompressed text, bgzf/snappy-framed, or parquet. Returns true
    * iff the warning fired (unit-testable).
    */
  private[sources] val NonSplittable = Seq(".gz", ".gzip", ".zst", ".xz", ".bz2", ".lz4")
  def warnIfNotSplittable(spark: SparkSession, path: String): Boolean = {
    val lower = path.toLowerCase(java.util.Locale.ROOT)
    val hit = NonSplittable.exists(lower.endsWith)
    val cores = spark.sparkContext.defaultParallelism
    if (hit && cores > 1)
      System.err.println(s"[taxi-text] WARNING: $path uses a non-splittable codec — " +
        s"it will scan as ONE partition on a $cores-slot session " +
        "(reference report.pdf p.3: avoid gzip for parallel inputs; " +
        "prefer uncompressed text or parquet)")
    hit && cores > 1
  }

  /** The lines of `path` as a one-column `value` frame, split into at
    * least `defaultParallelism` pieces. Same line splitting (`\n`, `\r`,
    * `\r\n`) and same raw bytes as `spark.read.text`: the line's bytes go
    * into the row undecoded, so invalid UTF-8 is not replaced. A path
    * (or glob) that matches nothing fails here, at read time, as
    * `spark.read.text` does — not at the first action inside a job. The
    * glob runs through the context's Hadoop conf, the one the read uses.
    */
  private[graft] def lines(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val hPath = new Path(path)
    val matched = hPath.getFileSystem(sc.hadoopConfiguration).globStatus(hPath)
    if (matched == null || matched.isEmpty)
      throw new FileNotFoundException(s"taxi text: no file matches $path")
    val rows = sc.hadoopFile(path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .mapPartitions { it =>
        val w = new UnsafeRowWriter(1)
        it.map { case (_, t) => w.reset(); w.write(0, t.getBytes, 0, t.getLength); w.getRow: InternalRow }
      }
    Bridge.internalCreateDataFrame(spark, rows, StructType(Seq(StructField("value", StringType))))
  }

  /** Raw segment lines split into a 9-element string array column `f`.
    * Arity != 9 rows are dropped here (AirportTripsRevenue.java:155-157);
    * all other cleaning happens in the trip-reconstruction pipeline.
    */
  def readSegments(spark: SparkSession, path: String): DataFrame = {
    warnIfNotSplittable(spark, path)
    lines(spark, path)
      .select(split(regexp_replace(col("value"), "'", ""), ",", -1).as("f"))
      .filter(size(col("f")) === 9)
  }

  /** Trips file parsed to typed columns. Only the four coordinate fields are
    * projected by Q1 (SparkTripLength.java:44-49), but the full schema is
    * exposed for reuse; Catalyst prunes unused columns.
    */
  def readTrips(spark: SparkSession, path: String): DataFrame = {
    val f = split(col("value"), "\\s+", -1)
    // Arity filter + try_cast: under default ANSI mode, element_at past the
    // end or a cast of a malformed field would abort the job instead of
    // dropping the row.
    def d(i: Int) = expr(s"try_cast(f[${i - 1}] AS double)")
    warnIfNotSplittable(spark, path)
    lines(spark, path)
      .select(f.as("f"))
      .filter(size(col("f")) === 11)
      .select(
        expr("try_cast(f[0] AS int)").as("taxi"),
        d(2).as("start_time"),
        d(3).as("start_lat"),
        d(4).as("start_long"),
        d(5).as("stop_time"),
        d(6).as("stop_lat"),
        d(7).as("stop_long"),
        expr("try_cast(f[7] AS boolean)").as("is_airport"),
        d(9).as("dist_km"),
        d(10).as("revenue"),
        col("f")(10).as("date"))
  }
}

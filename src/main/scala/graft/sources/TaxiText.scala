package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.TextInputFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8

/** Readers for the reference's two text formats (FIXTURES.md §A):
  *
  *  - `segments`: CSV, 9 fields, single quotes around timestamps/status
  *    (/root/reference/src/AirportTripsRevenue.java:129-134,153).
  *  - `trips`: space-separated, 11 fields
  *    (/root/reference/src/SparkTripLength.java:31,44-49).
  *
  * Both readers are schema-on-read over one byte-level field source,
  * [[fields]], which cuts each line's bytes into an `array<string>`
  * column `f` in one pass, with no regex and no `String` per line:
  *
  *  - segments: drop every `0x27` byte, cut at every `0x2C` byte;
  *  - trips: cut at each run of the six ASCII bytes Java's `\s` matches;
  *    leading and trailing empty fields are kept;
  *  - a line holding any byte ≥ `0x80` is first decoded as UTF-8 and
  *    re-encoded, as `UTF8String.toString` then `fromString` did, so
  *    invalid bytes still come out as U+FFFD. ASCII lines skip this.
  *
  * Each rule equals the Spark expression it replaces byte for byte
  * (`SourcesSpec` pins it against that expression over
  * `spark.read.text`). Lines of the wrong arity are dropped in the
  * source; other dirty rows are dropped by downstream filters, never
  * errors, matching the reference's drop-don't-fail contract. Plain text
  * splits into at least the core count (`defaultParallelism`) partitions.
  * The split hint is per read because the file scan's only split knobs
  * (`spark.sql.files.maxPartitionBytes`, `openCostInBytes`) are
  * session-wide, and lowering them there splits every parquet scan into
  * empty tasks. Whole-file codecs (`.gz`, …) decompress transparently but
  * stay one partition (same physics as the reference; see
  * [[warnIfNotSplittable]]).
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

  /** How a line's bytes become `arity` fields. Each rule equals, byte for
    * byte, the Spark expression the reference's `String` code maps to.
    */
  sealed abstract class Rule(val arity: Int)
  object Rule {

    /** Drop every `'` (0x27), cut at every `,` (0x2C): the reference's
      * `replace("'", "").split(",", -1)` (AirportTripsRevenue.java:153),
      * equal to `split(regexp_replace(value, "'", ""), ",", -1)`; 9 fields.
      */
    case object Segments extends Rule(9)

    /** Cut at each run of the six bytes Java's `\s` matches (space, `\t`,
      * `\n`, `\x0B`, `\f`, `\r`), keeping leading and trailing empty
      * fields: `split("\\s+", -1)` (SparkTripLength.java:44-49), equal to
      * `split(value, "\\s+", -1)`; 11 fields.
      */
    case object Trips extends Rule(11)
  }

  private def isBlank(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Cuts one line into at most `rule.arity` fields, writing each accepted
    * line as an `UnsafeRow` with one `array<string>` column. Buffers are
    * reused across the lines of a partition, so the returned row is too.
    */
  private final class Cutter(rule: Rule) {
    private val arity = rule.arity
    private val starts = new Array[Int](arity)
    private val ends = new Array[Int](arity)
    private var kept = new Array[Byte](256)
    private val row = new UnsafeRowWriter(1, 256)
    private val arr = new UnsafeArrayWriter(row, 8)

    /** The row for `line[0, n)`, or null when it has not `arity` fields. */
    def apply(line: Array[Byte], n: Int): InternalRow = {
      var i = 0
      while (i < n && line(i) >= 0) i += 1
      // A non-ASCII line goes through the UTF-8 decode and re-encode that
      // `UTF8String.toString`/`fromString` did: invalid bytes become U+FFFD.
      val b = if (i == n) line else new String(line, 0, n, UTF_8).getBytes(UTF_8)
      val len = if (b eq line) n else b.length
      val src = if (rule == Rule.Segments) segments(b, len) else trips(b, len)
      if (src == null) return null
      row.reset()
      val start = row.cursor()
      arr.initialize(arity)
      var k = 0
      while (k < arity) { arr.write(k, src, starts(k), ends(k) - starts(k)); k += 1 }
      row.setOffsetAndSizeFromPreviousCursor(0, start)
      row.getRow
    }

    /** Quotes dropped into `kept`; null past `arity` fields or short of it. */
    private def segments(b: Array[Byte], n: Int): Array[Byte] = {
      if (kept.length < n) kept = new Array[Byte](math.max(n, 2 * kept.length))
      var o = 0
      var k = 0
      var i = 0
      while (i < n) {
        val c = b(i)
        if (c == ',') {
          if (k == arity - 1) return null
          ends(k) = o; k += 1; starts(k) = o
        } else if (c != '\'') { kept(o) = c; o += 1 }
        i += 1
      }
      ends(k) = o
      if (k == arity - 1) kept else null
    }

    /** Fields are slices of `b`; null past `arity` fields or short of it. */
    private def trips(b: Array[Byte], n: Int): Array[Byte] = {
      var k = 0
      var i = 0
      while (i < n) {
        if (isBlank(b(i))) {
          if (k == arity - 1) return null
          ends(k) = i
          while (i < n && isBlank(b(i))) i += 1
          k += 1; starts(k) = i
        } else i += 1
      }
      ends(k) = n
      if (k == arity - 1) b else null
    }
  }

  /** Schema of [[fields]]: one non-null `f`, as `split` typed it. */
  private val FieldsSchema =
    StructType(Seq(StructField("f", ArrayType(StringType, containsNull = false), nullable = false)))

  /** The lines of `path` cut into an `array<string>` column `f` by `rule`;
    * lines without exactly `rule.arity` fields are dropped here. Lines split at
    * `\n`, `\r` and `\r\n`, as `spark.read.text` splits them, and plain text
    * reads as at least `defaultParallelism` pieces. A path (or glob) that
    * matches nothing fails here, at read time, as `spark.read.text` does —
    * not at the first action inside a job. The glob runs through the
    * context's Hadoop conf, the one the read uses.
    */
  private[graft] def fields(spark: SparkSession, path: String, rule: Rule): DataFrame = {
    val sc = spark.sparkContext
    val hPath = new Path(path)
    val matched = hPath.getFileSystem(sc.hadoopConfiguration).globStatus(hPath)
    if (matched == null || matched.isEmpty)
      throw new FileNotFoundException(s"taxi text: no file matches $path")
    val rows = sc.hadoopFile(path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text],
        sc.defaultParallelism)
      .mapPartitions { it =>
        val cut = new Cutter(rule)
        it.map { case (_, t) => cut(t.getBytes, t.getLength) }.filter(_ != null)
      }
    Bridge.internalCreateDataFrame(spark, rows, FieldsSchema)
  }

  /** Raw segment lines split into a 9-element string array column `f`.
    * Arity != 9 rows are dropped here (AirportTripsRevenue.java:155-157);
    * all other cleaning happens in the trip-reconstruction pipeline.
    */
  def readSegments(spark: SparkSession, path: String): DataFrame = {
    warnIfNotSplittable(spark, path)
    fields(spark, path, Rule.Segments)
  }

  /** Trips file parsed to typed columns. Only the four coordinate fields are
    * projected by Q1 (SparkTripLength.java:44-49), but the full schema is
    * exposed for reuse; Catalyst prunes unused columns.
    */
  def readTrips(spark: SparkSession, path: String): DataFrame = {
    // The source's arity filter + try_cast: under default ANSI mode,
    // element_at past the end or a cast of a malformed field would abort
    // the job instead of dropping the row.
    def d(i: Int) = expr(s"try_cast(f[${i - 1}] AS double)")
    warnIfNotSplittable(spark, path)
    fields(spark, path, Rule.Trips)
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

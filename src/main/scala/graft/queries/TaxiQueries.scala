package graft.queries

import graft.functions.Geo
import graft.operators.TaxiTrip
import graft.sources.TaxiText
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** The reference's two programs re-expressed Spark-first.
  *
  * Q1 (trip-length histogram) is a single declarative DataFrame chain:
  * scan → project → distance → bin → partial+final hash agg → sort. Catalyst
  * plans the combiner split the reference wires by hand
  * (/root/reference/src/SparkTripLength.java:87).
  *
  * Q2 (trip reconstruction → daily revenue → grand total) is one lazy DAG:
  * the reference's two MR jobs + driver read-back fuse with no intermediate
  * materialization (/root/reference/src/AirportTripsRevenue.java:563-653).
  */
object TaxiQueries {

  /** Committed fixture dir (FIXTURES.md §A); absolute so the DuckDB oracle
    * can read the same files. It is looked up from where this code was
    * loaded (sbt's `target/` and perfbench's `.bench_build/` both sit in
    * the checkout), then from the working directory, so a run from any
    * directory finds it.
    */
  lazy val FixtureDir: String = fixtureDirFrom(fixtureStarts(Paths.get("").toAbsolutePath))

  /** Where this code was loaded from, then `workDir`. */
  private[graft] def fixtureStarts(workDir: Path): Seq[Path] =
    Option(getClass.getProtectionDomain.getCodeSource)
      .map(cs => Paths.get(cs.getLocation.toURI)).toSeq :+ workDir

  /** `src/test/resources/taxi` under the first of `starts` and their
    * ancestors that holds it; throws, naming `starts`, when none does.
    */
  private[graft] def fixtureDirFrom(starts: Seq[Path]): String =
    starts.iterator.flatMap(Iterator.iterate(_)(_.getParent).takeWhile(_ != null))
      .map(_.resolve("src/test/resources/taxi")).find(Files.isDirectory(_))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"taxi fixtures: no ancestor of ${starts.mkString(", ")} holds src/test/resources/taxi"))
      .toString

  // ---------------------------------------------------------------- Q1

  /** Histogram of trip lengths: 2-km bins, ">=80" overflow
    * (SparkTripLength.java:41-80).
    */
  def tripLengthHistogram(trips: DataFrame): DataFrame =
    trips
      .select(Geo.sphericalEarthDistance(
        col("start_lat"), col("start_long"),
        col("stop_lat"), col("stop_long")).as("dist"))
      .filter(col("dist").isNotNull) // unparseable coordinate rows drop
      .select(Geo.tripBin(col("dist")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .orderBy("bin")

  def q1(spark: SparkSession, path: String): DataFrame =
    tripLengthHistogram(TaxiText.readTrips(spark, path))

  // ---------------------------------------------------------------- Q2

  /** Segments → accepted positions, columnar all the way: parse, status
    * normalization, E-E drop, unpivot to position rows, NULL/GPS filters
    * (AirportTripsRevenue.java:150-195). Exact dedup (:199-225) is NOT done
    * here — it happens inline in the FSM pass after the sort makes
    * duplicates adjacent, saving a whole exchange.
    */
  def segmentsToPositions(segments: DataFrame): DataFrame = {
    def norm(c: org.apache.spark.sql.Column) = when(c === "M", "M").otherwise("E")
    val s1 = norm(col("f")(4))
    val s2 = norm(col("f")(8))
    // try_cast throughout: ANSI mode (Spark 4 default) makes plain casts
    // throw on malformed numerics — one dirty row must drop, not abort.
    segments
      .filter(!(s1 === "E" && s2 === "E")) // E-E segments: 55% of input dropped pre-shuffle
      .select(expr("try_cast(f[0] AS int)").as("taxi"),
        explode(array(
          struct(col("f")(1).as("tsS"), col("f")(2).as("latS"), col("f")(3).as("longS"), s1.as("status")),
          struct(col("f")(5).as("tsS"), col("f")(6).as("latS"), col("f")(7).as("longS"), s2.as("status"))
        )).as("p"))
      .select(col("taxi"), col("p.tsS"), col("p.latS"), col("p.longS"), col("p.status"))
      .filter(col("tsS") =!= "NULL" && col("taxi").isNotNull)
      .filter(Geo.isValidPosition(expr("try_cast(latS AS double)"), expr("try_cast(longS AS double)")))
  }

  private[graft] def positionsDf(segments: DataFrame): DataFrame =
    segmentsToPositions(segments)
      .withColumn("ts", Geo.tsToEpoch(col("tsS")))
      .filter(col("ts").isNotNull) // malformed timestamp -> dropped, not crashed
      .select("taxi", "ts", "tsS", "latS", "longS", "status")

  /** Positions → reconstructed airport trips via the FSM, planned as a
    * first-class Catalyst operator ([[graft.plans.SessionizePlan]]): the
    * physical node declares clustered-by-taxi distribution + full-key
    * ordering, so EnsureRequirements/AQE plan the single exchange and the
    * in-partition sort; the FSM streams over raw InternalRows with inline
    * adjacent-dedup (the reference's combiner dedup) and group-change
    * detection — no per-group materialization, ONE shuffle total.
    */
  def reconstructTrips(spark: SparkSession, segments: DataFrame): Dataset[TaxiTrip] = {
    import spark.implicits._
    graft.plans.SessionizePlan.trips(spark, positionsDf(segments)).as[TaxiTrip]
  }

  /** Emitted trips formatted exactly as the reference's Job-1 output lines
    * (AirportTripsRevenue.java:351-356): `%d %.1f lat long %.1f lat long
    * true %.3f %.2f date`, lat/long as the original input strings.
    */
  def formatTrips(trips: Dataset[TaxiTrip]): DataFrame =
    trips.toDF().select(format_string("%d %.1f %s %s %.1f %s %s true %.3f %.2f %s",
      col("taxi"), col("startTime"), col("startLat"), col("startLong"),
      col("stopTime"), col("stopLat"), col("stopLong"),
      col("distanceKm"), col("revenue"), col("date")).as("value"))

  /** Daily revenue (Job 2: AirportTripsRevenue.java:437-451). Decimal sum
    * for exact, order-independent aggregation; emitted as double.
    */
  def dailyRevenue(trips: Dataset[TaxiTrip]): DataFrame =
    trips.toDF()
      .groupBy(col("date"))
      .agg(sum(col("revenue").cast("decimal(18,2)")).cast("double").as("daily_revenue"))
      .orderBy("date")

  /** Grand total (driver read-back loop, AirportTripsRevenue.java:616-641) —
    * stays inside the engine as one more aggregate.
    */
  def totalRevenue(daily: DataFrame): DataFrame =
    daily.agg(sum(col("daily_revenue").cast("decimal(18,2)")).cast("double").as("total_revenue"))

  // -------------------------------------------------- SparkEntry plumbing

  def q2Trips(spark: SparkSession): DataFrame = {
    val trips = reconstructTrips(spark, TaxiText.readSegments(spark, s"$FixtureDir/segments.txt"))
    trips.toDF().select(
      col("taxi"), col("startTime").as("start_time"),
      col("startLat").cast("double").as("start_lat"), col("startLong").cast("double").as("start_long"),
      col("stopTime").as("stop_time"),
      col("stopLat").cast("double").as("stop_lat"), col("stopLong").cast("double").as("stop_long"),
      round(col("distanceKm"), 3).as("dist_km"), round(col("revenue"), 2).as("revenue"), col("date"))
      .orderBy("taxi", "start_time")
  }

  def q2Daily(spark: SparkSession): DataFrame =
    dailyRevenue(reconstructTrips(spark, TaxiText.readSegments(spark, s"$FixtureDir/segments.txt")))

  def q2Total(spark: SparkSession): DataFrame =
    totalRevenue(q2Daily(spark))
}

package graft

import graft.queries.TaxiQueries
import graft.sources.TaxiText
import org.scalatest.funsuite.AnyFunSuite

import scala.io.Source

/** End-to-end golden tests: the Spark pipelines vs. the committed golden
  * files produced by the INDEPENDENT Python oracle
  * (tools/gen_taxi_fixtures.py).
  */
class TaxiGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = TaxiQueries.FixtureDir

  private def golden(name: String): List[String] = {
    val src = Source.fromFile(s"$dir/$name")
    try src.getLines().toList finally src.close()
  }

  private def checkQ1(): Unit = {
    val got = TaxiQueries.q1(spark, s"$dir/trips.txt")
      .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toList
    assert(got == golden("golden_q1.txt"))
  }

  private def checkTrips(): Unit = {
    val got = TaxiQueries.formatTrips(
        TaxiQueries.reconstructTrips(spark, TaxiText.readSegments(spark, s"$dir/segments.txt")))
      .collect().map(_.getString(0)).sorted.toList
    val want = golden("golden_q2_trips.txt")
    assert(got.size == want.size, s"trip count ${got.size} != ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }

  private def checkDaily(): Unit = {
    val got = TaxiQueries.q2Daily(spark).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toList
    val want = golden("golden_q2_daily.txt").map { l =>
      val Array(d, v) = l.split("\t"); (d, v.toDouble)
    }
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, g), (_, w)) => assert(math.abs(g - w) < 1e-6) }
  }

  private def checkTotal(): Unit = {
    val got = TaxiQueries.q2Total(spark).collect()(0).getDouble(0)
    val want = golden("golden_q2_total.txt").head.toDouble
    assert(math.abs(got - want) < 1e-6)
  }

  test("Q1 histogram matches golden")(checkQ1())

  test("Q2 reconstructed airport trips match golden byte-for-byte")(checkTrips())

  test("Q2 daily revenue matches golden")(checkDaily())

  test("Q2 grand total matches golden")(checkTotal())

  test("Q1 and Q2 match the goldens at shuffle.partitions 1 and 7, AQE on and off") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try for (n <- Seq("1", "7"); aqe <- Seq("true", "false")) {
      spark.conf.set(keys(0), n)
      spark.conf.set(keys(1), aqe)
      withClue(s"shuffle.partitions=$n adaptive=$aqe: ") {
        checkQ1(); checkTrips(); checkDaily(); checkTotal()
      }
    } finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("custom-plan sessionizer == typed mapPartitions sessionizer, one exchange in plan") {
    val segs = TaxiText.readSegments(spark, s"$dir/segments.txt")
    val viaPlan = TaxiQueries.reconstructTrips(spark, segs)
    val viaTyped = TaxiQueries.reconstructTripsTyped(spark, segs)
    assert(viaPlan.collect().map(_.toString).sorted.toList ==
      viaTyped.collect().map(_.toString).sorted.toList)
    val physical = viaPlan.queryExecution.executedPlan.toString
    assert(physical.contains("SessionizeTrips"), physical.take(500)) // nodeName strips "Exec"
    // exactly one shuffle stage in the final (AQE) plan; the printed string
    // repeats the pre-AQE "Initial Plan", so count shuffle query stages
    assert("ShuffleQueryStage".r.findAllIn(physical).size == 1, s"expected 1 shuffle:\n$physical")
  }

  test("sessionizer exchange keeps spreadWidth partitions: AQE does not coalesce it") {
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val trips = TaxiQueries.reconstructTrips(spark, TaxiText.readSegments(spark, s"$dir/segments.txt"))
    trips.collect()
    val plan = trips.queryExecution.executedPlan
    val fsm = H.collect(plan) { case s: graft.plans.SessionizePlan.SessionizeTripsExec => s }
    assert(fsm.size == 1, plan.toString)
    // what the FSM reads: the stage's output after any AQE shuffle read
    assert(fsm.head.child.outputPartitioning.numPartitions == graft.spreadWidth(spark),
      s"FSM input is not spreadWidth wide:\n$plan")
  }

  test("Q2 is permutation-invariant in input row order") {
    import org.apache.spark.sql.functions._
    val shuffled = TaxiText.readSegments(spark, s"$dir/segments.txt")
      .orderBy(rand(seed = 99))
    val got = TaxiQueries.formatTrips(TaxiQueries.reconstructTrips(spark, shuffled))
      .collect().map(_.getString(0)).sorted.toList
    assert(got == golden("golden_q2_trips.txt"))
  }
}

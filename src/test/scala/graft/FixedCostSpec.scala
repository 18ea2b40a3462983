package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** The two per-row fixed costs a warm row must not re-pay: parquet
  * schema inference in [[Tables.load]] (cached per file stamp) and
  * codegen compiles (the session's codegen cache holds the ledger's
  * kernels, [[BenchHarness.CodegenCacheEntries]], under one class loader).
  */
class FixedCostSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. A marker job after `body`
    * bounds the wait: the listener bus delivers job starts in order.
    */
  private def jobsDuring(body: => Unit): Int = {
    val marker = "fixed-cost-spec-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the listener never saw the marker job")
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("Tables.load matches an uncached spark.read.parquet on every fixture table") {
    for (name <- Tables.names) {
      val raw = spark.read.parquet(s"$sf/$name.parquet")
      // events: the loader's normalization, done independently — a cast
      // of the NTZ wall clock (lossless in the UTC test session) where the
      // loader re-infers with NTZ inference off
      val expected =
        if (name != "events") raw
        else raw.schema("ts").dataType match {
          case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
          case _ => raw
        }
      // twice: the first load may infer, the second reads the cached schema
      for (_ <- 1 to 2) {
        val got = Tables.load(spark, sf, name)
        assert(got.schema == expected.schema, s"$name: schema differs")
        assert(sortedRows(got) == sortedRows(expected), s"$name: rows differ")
      }
    }
  }

  test("a second Tables.load of a table runs no Spark job") {
    for (name <- Seq("nation", "events")) {
      Tables.load(spark, sf, name).schema
      val jobs = jobsDuring(Tables.load(spark, sf, name).schema)
      assert(jobs == 0, s"$name: the second load ran $jobs job(s) (schema re-inferred)")
    }
  }

  test("a table loaded twice and self-joined keeps distinct attributes") {
    // the pairs of nations within a region: Spark rewrites a bare
    // `x === x` self-join condition on its own, never `x < x`, so only
    // distinct attribute ids on the two loads give the plain join's rows
    def pairs(a: DataFrame, b: DataFrame): Long =
      a.join(b, a("n_regionkey") === b("n_regionkey") && a("n_nationkey") < b("n_nationkey")).count()
    val got = pairs(Tables.load(spark, sf, "nation"), Tables.load(spark, sf, "nation"))
    val plain = pairs(spark.read.parquet(s"$sf/nation.parquet"), spark.read.parquet(s"$sf/nation.parquet"))
    val bySizes = Tables.load(spark, sf, "nation").groupBy("n_regionkey").count().collect()
      .map { r => val c = r.getLong(1); c * (c - 1) / 2 }.sum
    assert(got == plain && got == bySizes, s"self-join $got rows, plain join $plain, Σ C(count, 2) $bySizes")
    assert(got > 0)
  }

  test("a table rewritten at the same path is re-inferred, never read with the stale schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_rewrite")
    try {
      val path = s"$dir/t.parquet"
      spark.range(5).toDF("k").write.parquet(path)
      assert(Tables.load(spark, dir.toString, "t").columns.toSeq == Seq("k"))
      spark.range(5).withColumn("extra", col("id") * 2).withColumnRenamed("id", "k")
        .write.mode("overwrite").parquet(path)
      val t = Tables.load(spark, dir.toString, "t")
      assert(t.columns.toSeq == Seq("k", "extra"), s"stale schema after rewrite: ${t.columns.mkString(", ")}")
      assert(t.filter(col("extra").isNull).count() == 0, "the new column reads as nulls")
      assert(t.filter(col("extra") === col("k") * 2).count() == 5)
    } finally graft.sources.LayoutCache.deleteTree(dir)
  }

  test("a second pass over the batch ledger rows compiles no generated class") {
    // the benchmark's ledger rows (perfbench/run.py LEDGER); the streaming
    // row x73 replays on a cloned session, so it also pins the codegen
    // cache's class loader (BenchHarness.SessionConf, artifact isolation)
    val rows = Seq("q3_filter_agg", "q15_string_funcs", "q7_set_ops", "q38_unpivot",
      "q27_bucketed_join", "q9_time_windows", "q21_pivot", "q6_window_funcs",
      "q5_topk_having", "q31_scd2_history", "q8_sessionize", "q22_skew_join", "x94_snm_dedup",
      "x73_stream_funnel")
    def pass(): Seq[(String, Long)] = rows.map { r =>
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      BenchHarness.consume(SparkEntry.queries(r)(spark, sf))
      r -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0)
    }
    // the counter counts: a kernel with a literal never seen before compiles
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    spark.range(3).selectExpr(s"id * ${System.nanoTime() % 1000000007L}L").collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount > n0, "no compile counted for a new kernel")
    pass()
    val second = pass().filter(_._2 > 0)
    assert(second.isEmpty,
      s"the warm pass recompiled ${second.map(_._2).sum} classes (${second.mkString(", ")}): " +
        s"the codegen cache (${BenchHarness.CodegenCacheEntries} entries) lost the ledger's kernels " +
        "or a replay compiled under a new class loader")
  }
}

package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming forms of the batch operators: tumbling-window
  * aggregation (q9's streaming twin) and watermarked streaming dedup
  * (x1's streaming twin). Both driven by MemoryStream and compared to the
  * batch results on the same data.
  */
class StreamingAggSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  /** Cents via the SAME decimal(18,2) HALF_UP rule as the production feed
    * (StreamingQueries) and the batch operator — math.round(v*100) differs
    * on >2-decimal and negative values, and these tests' `want` side is
    * the decimal-summed batch result.
    */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  test("streaming tumbling-window counts equal the batch q9 result") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sf, "events")
      .select(unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

    val ms = MemoryStream[(Long, String, Double)]
    val stream = ms.toDS().toDF("us", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("event_type"), col("n_events"))
    val q = stream.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      // two chronological micro-batches + a far-future flush sentinel that
      // pushes the watermark past every window
      val sorted = events.sortBy(_._1)
      val (b1, b2) = sorted.splitAt(sorted.length / 2)
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      ms.addData(Seq((sorted.last._1 + 100L * 3600 * 1000000, "flush", 0.0))); q.processAllAvailable()
      val got = spark.table("win_out")
        .filter(col("event_type") =!= "flush")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      val want = SparkEntry.queries("q9_time_windows")(spark, sf)
        .select("hour_us", "event_type", "n_events")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming gap sessionizer equals the batch q8 sessions (cents-exact)") {
    import graft.streaming.{GapEvent, StreamingGapSessionize}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect()
      .map(r => GapEvent(r.getLong(0), r.getLong(1), cents(r.getDouble(2))))
      .sortBy(_.us)

    val ms = MemoryStream[GapEvent]
    val q = StreamingGapSessionize.sessions(spark, ms.toDS(), 1800L * 1000000L)
      .writeStream.format("memory").queryName("gap_out").outputMode("append").start()
    try {
      val (b1, b2) = events.splitAt(events.length / 2)
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      // sentinel user -1 far in the future pushes the watermark past every
      // open session's timeout so idle sessions flush
      ms.addData(Seq(GapEvent(-1L, events.last.us + 1000L * 3600 * 1000000, 0)))
      q.processAllAvailable()
      val got = spark.table("gap_out").filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"), r.getAs[Long]("total_cents")))
        .sorted.toSeq
      val want = SparkEntry.queries("q8_sessionize")(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("start_us") + r.getAs[Long]("duration_us"),
          r.getAs[Long]("n_events"), math.round(r.getAs[Double]("total_value") * 100)))
        .sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("x26's file-stream feed reproduces batch q8 bit for bit") {
    // the driver-visible query: spool dir -> file stream source -> state
    // store -> memory sink, no driver-side materialization of the events
    val got = SparkEntry.queries("x26_streaming_sessionize")(spark, sf)
      .collect().map(_.toString).toSeq
    val want = SparkEntry.queries("q8_sessionize")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("disordered micro-batches within the watermark still match batch; late-beyond-watermark drops") {
    import graft.streaming.{GapEvent, StreamingGapSessionize}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sf, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect()
      .map(r => GapEvent(r.getLong(0), r.getLong(1), cents(r.getDouble(2))))
      .sortBy(_.us)

    val ms = MemoryStream[GapEvent]
    val q = StreamingGapSessionize.sessions(spark, ms.toDS(), 1800L * 1000000L)
      .writeStream.format("memory").queryName("gap_ooo_out").outputMode("append").start()
    try {
      // chronological SPLIT (so per-user order across batches holds), but
      // DELIVERY ORDER inside each micro-batch fully shuffled — the
      // disorder a real source produces within the watermark slack
      val rnd = new scala.util.Random(42)
      val (b1, b2) = events.splitAt(events.length / 2)
      ms.addData(rnd.shuffle(b1.toIndexedSeq)); q.processAllAvailable()
      // one event older than the post-batch-1 watermark (watermark delay is
      // 30 min; this is 10 h before batch 1's max): must be DROPPED, not
      // sessionized — feed it with batch 2 and assert no session shows it
      val lateUser = 999999L
      val late = GapEvent(lateUser, b1.last.us - 10L * 3600 * 1000000, 12345)
      ms.addData(rnd.shuffle((b2 :+ late).toIndexedSeq)); q.processAllAvailable()
      ms.addData(Seq(GapEvent(-1L, events.last.us + 1000L * 3600 * 1000000, 0)))
      q.processAllAvailable()
      val table = spark.table("gap_ooo_out")
      assert(table.filter(col("user_id") === lateUser).isEmpty,
        "late-beyond-watermark event was sessionized instead of dropped")
      val got = table.filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"), r.getAs[Long]("total_cents")))
        .sorted.toSeq
      val want = SparkEntry.queries("q8_sessionize")(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("start_us") + r.getAs[Long]("duration_us"),
          r.getAs[Long]("n_events"), math.round(r.getAs[Double]("total_value") * 100)))
        .sorted.toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("x39 stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions.unix_micros
    val got = SparkEntry.queries("x39_stream_interval_join")(spark, sf)
      .collect().map(_.toString).toSeq
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"), col("event_id").as("purchase_id"))
    val want = clicks.join(purchases,
        col("user_id") === col("pu") && col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("cts"))).as("delta_us"))
      .orderBy("user_id", "click_id", "purchase_id")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("x40 stream-static enrichment equals the batch join aggregate") {
    val got = SparkEntry.queries("x40_stream_enrich")(spark, sf)
      .collect().map(_.toString).toSeq
    val want = Tables.load(spark, sf, "events")
      .join(Tables.load(spark, sf, "customer"), col("user_id") === col("c_custkey"))
      .join(Tables.load(spark, sf, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy("n_name", "event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum(col("cents")).cast("double") / 100).as("total_value"))
      .orderBy("n_name", "event_type")
      .collect().map(_.toString).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("watermarked streaming dropDuplicates removes cross-batch repeats") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val deduped = ms.toDS().toDF("us", "doc")
      .withColumn("ts", timestamp_micros(col("us")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("doc")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000000L
      ms.addData(Seq((t0, "a"), (t0 + 1, "b"), (t0 + 2, "a"))); q.processAllAvailable()
      ms.addData(Seq((t0 + 3, "a"), (t0 + 4, "c"), (t0 + 5, "b"))); q.processAllAvailable()
      val got = spark.table("dedup_out").select("doc")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("x106 streaming drift monitor equals the batch x98 profile row-for-row") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSeq
    val batch = rows(SparkEntry.queries("x98_kmeans_drift")(spark, sf))
    val stream = rows(SparkEntry.queries("x106_stream_drift")(spark, sf))
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  test("x118 streaming incremental-PQ ingest: stream encode equals batch encode; search equals x115 row-for-row") {
    import graft.operators.IncrementalPq
    // codes-level stream ≡ batch: the SAME encodeSlice run per arriving
    // micro-batch must produce exactly the one-shot batch encode (the
    // per-vector math is batching-independent — this pins it)
    val (coarse, cb, domSz) = IncrementalPq.frozenModel(spark, sf)
    val feed = Tables.load(spark, sf, "embeddings")
      .filter(IncrementalPq.isBatchVec(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(concat_ws(",", col("c_id"), col("ccell"), col("sub"), col("cell")))
      .collect().map(_.getString(0)).toSet
    val spool = java.nio.file.Files.createTempDirectory("graft_stream_incpq_spec")
    val streamed =
      try canon(graft.queries.StreamingQueries
        .streamEncodedCodes(spark, Some(spool), feed, coarse, cb, domSz))
      finally graft.sources.LayoutCache.deleteTree(spool)
    val batchCodes = canon(IncrementalPq.encodeSlice(feed, coarse, cb, domSz))
    assert(streamed.nonEmpty)
    assert(streamed === batchCodes)
    // end-to-end: the ledger row's search over stream-encoded codes
    // equals the batch x115 search row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = rows(SparkEntry.queries("x115_incremental_ivfadc")(spark, sf))
    val stream = rows(SparkEntry.queries("x118_stream_pq_encode")(spark, sf))
    assert(batch.nonEmpty)
    assert(stream === batch)
  }

  test("x118 empty feed degrades to an empty codes relation with the real schema, not an exception") {
    import graft.operators.IncrementalPq
    val (coarse, cb, domSz) = IncrementalPq.frozenModel(spark, sf)
    // zero-row feed: no micro-batch ever writes a b=<id> delta dir, so
    // the unguarded read would die on schema inference (r19 ADVICE)
    val feed = Tables.load(spark, sf, "embeddings")
      .filter(IncrementalPq.isBatchVec(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
      .limit(0)
    val spool = java.nio.file.Files.createTempDirectory("graft_stream_incpq_empty")
    val out =
      try graft.queries.StreamingQueries
        .streamEncodedCodes(spark, Some(spool), feed, coarse, cb, domSz)
      finally graft.sources.LayoutCache.deleteTree(spool)
    assert(out.columns.toSeq == Seq("c_id", "ccell", "sub", "cell"))
    assert(out.count() == 0)
  }

  test("x120 stream-fed compaction: stream-built day deltas equal batch-built ones, compact to the same generation, and the search equals x117 and the fresh twin") {
    import graft.operators.IncrementalPq
    graft.functions.ArrayExpressions.register(spark)
    def canon(tbl: String) = spark.table(tbl)
      .select(concat_ws(",", col("c_id"), col("ccell"), col("sub"), col("cell")))
      .collect().map(_.getString(0)).toSet
    // delta level: each day generation built BY STREAM holds exactly the
    // rows of the batch-built one (x118's encode equality, now pinned on
    // the PERSISTED store artifacts the compactor actually consumes)
    for (day <- 1 to 2) {
      val streamed = canon(
        graft.queries.StreamingQueries.streamedDayCodesStore(spark, sf, day))
      val batch = canon(IncrementalPq.dayCodesStore(spark, sf, day))
      assert(streamed.nonEmpty)
      assert(streamed === batch, s"stream-fed day-$day delta != batch delta")
    }
    // generation level: stream-fed compaction == batch-fed compaction
    val sGen = IncrementalPq.compactedCodesStore(spark, sf,
      dayStore = graft.queries.StreamingQueries.streamedDayCodesStore,
      variantTag = "s")
    assert(canon(sGen) === canon(IncrementalPq.compactedCodesStore(spark, sf)),
      "stream-fed compacted generation != batch-fed generation")
    // ...and file-bounded like the batch one (x42's contract)
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_bucketed", sGen)
    val s = java.nio.file.Files.list(dir)
    val nFiles =
      try s.filter(_.getFileName.toString.startsWith("part-")).count()
      finally s.close()
    assert(nFiles <= IncrementalPq.StoreBuckets, s"stream-fed generation has $nFiles files")
    // ledger level: the x120 row equals x117's search and the no-store twin
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val x120 = rows(SparkEntry.queries("x120_stream_fed_compaction")(spark, sf))
    val x117 = rows(IncrementalPq.compactedAdcTopK(spark, sf))
    val fresh = rows(IncrementalPq.freshAdcTopK(Tables.load(spark, sf, "embeddings")))
    assert(x120.nonEmpty)
    assert(x120 === x117, "x120 search != x117 search")
    assert(x120 === fresh, "x120 search != fresh-over-union twin")
  }

  test("ingest daemon shape: persisted stream deltas outlive the run, register as the day store with no re-encode, and feed the compactor") {
    import graft.operators.IncrementalPq
    graft.functions.ArrayExpressions.register(spark)
    def canon(tbl: String) = spark.table(tbl)
      .select(concat_ws(",", col("c_id"), col("ccell"), col("sub"), col("cell")))
      .collect().map(_.getString(0)).toSet
    val root = java.nio.file.Files.createTempDirectory("graft_daemon_deltas")
    try {
      // the all-day half: the stream encodes as data arrives, landing
      // durable per-batch delta dirs under the caller's root
      val deltaDirs = (1 to 2).map(day => day ->
        graft.queries.StreamingQueries.persistStreamDeltas(spark, sf, day, root.toString)).toMap
      for ((day, d) <- deltaDirs) {
        val p = java.nio.file.Paths.get(d)
        assert(java.nio.file.Files.isDirectory(p), s"day $day delta dir missing")
        val s = java.nio.file.Files.list(p)
        val bs =
          try s.filter(_.getFileName.toString.startsWith("b=")).count()
          finally s.close()
        assert(bs > 0, s"day $day persisted no b=<id> delta dirs")
      }
      // the nightly half: registration re-buckets the deltas only —
      // content equals both the spooled stream twin and the batch store
      for (day <- 1 to 2) {
        val reg = canon(graft.queries.StreamingQueries
          .dayCodesStoreFromDeltas(spark, sf, day, deltaDirs(day)))
        assert(reg.nonEmpty)
        assert(reg === canon(IncrementalPq.dayCodesStore(spark, sf, day)),
          s"delta-registered day-$day store != batch day store")
        assert(reg === canon(graft.queries.StreamingQueries
          .streamedDayCodesStore(spark, sf, day)),
          s"delta-registered day-$day store != spooled stream store")
      }
      // the compactor is provider-blind: the delta-fed generation equals
      // the batch-fed one, still bounded to StoreBuckets files
      val provider: (org.apache.spark.sql.SparkSession, String, Int, Int) => String =
        (s, d, day, k) => graft.queries.StreamingQueries
          .dayCodesStoreFromDeltas(s, d, day, deltaDirs(day), k)
      val zGen = IncrementalPq.compactedCodesStore(spark, sf,
        dayStore = provider, variantTag = "z")
      assert(canon(zGen) === canon(IncrementalPq.compactedCodesStore(spark, sf)),
        "delta-fed compacted generation != batch-fed generation")
      assert(spark.table(zGen).inputFiles.length <= IncrementalPq.StoreBuckets,
        "delta-fed generation exceeds the StoreBuckets file bound")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }
}

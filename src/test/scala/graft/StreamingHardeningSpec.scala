package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** Hardening of the streaming surface beyond the happy path:
  *
  *  - the sentinel sign conventions (x26 drops user_id < 0, x50 drops
  *    event_id < 0 from the sink) are GUARDED — a fixture whose real ids
  *    go negative must abort loudly, never silently vanish from the
  *    driver gate;
  *  - a hot key in a stream-stream interval join (the classic 100-TB
  *    stream killer: one user owning ~the whole stream concentrates join
  *    state and matches in one partition) stays WATERMARK-BOUNDED: state
  *    is O(hot-key rate × horizon), not O(stream), and the emitted pairs
  *    still equal the batch twin. The measured numbers are recorded in
  *    BASELINE.md (the BucketBoundSpec treatment, applied to join state);
  *  - the spool-replay runner every streaming row shares leaves no trace
  *    (live query, sink view, shuffle width, scratch) on success or
  *    failure, and x45's redelivery path equals its batch aggregate.
  */
class StreamingHardeningSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")

  /** Write a minimal events.parquet (the driver fixture schema; ts in
    * NANOS like the generator's TIMESTAMP(NANOS) so Tables.load's
    * `div 1000` path is exercised) and return the fixture dir.
    */
  private def writeEvents(dir: Path,
                          rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  test("x26: a fixture with a negative user_id fails loudly, not silently dropped") {
    val root = Files.createTempDirectory("graft_negid_x26")
    try {
      val base = 1700000000L * 1000000000L // nanos
      val dir = writeEvents(root, Seq(
        (1L, base, -5L, "click", 1.0),
        (2L, base + 60L * 1000000000L, 3L, "view", 2.0)))
      val e = intercept[Exception](
        graft.queries.StreamingQueries.gapSessions(spark, dir).collect())
      assert(messageChain(e).contains("x26 sentinel convention"),
        s"expected the x26 guard to fire; got: ${messageChain(e)}")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("x50: a fixture with a negative event_id fails loudly at spool time") {
    val root = Files.createTempDirectory("graft_negid_x50")
    try {
      val base = 1700000000L * 1000000000L
      val dir = writeEvents(root, Seq(
        (-7L, base, 1L, "click", 1.0),
        (2L, base + 60L * 1000000000L, 1L, "purchase", 2.0)))
      val e = intercept[Exception](
        graft.queries.StreamingQueries.intervalJoinOuter(spark, dir).collect())
      assert(messageChain(e).contains("x50/x58 sentinel convention"),
        s"expected the x50/x58 guard to fire; got: ${messageChain(e)}")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("x45: a fixture with a duplicated event_id fails loudly at spool time") {
    val root = Files.createTempDirectory("graft_dupid_x45")
    try {
      val base = 1700000000L * 1000000000L
      val dir = writeEvents(root, Seq(
        (9L, base, 1L, "click", 1.0),
        (9L, base + 60L * 1000000000L, 2L, "purchase", 2.0))) // same event_id twice
      val e = intercept[Exception](
        graft.queries.StreamingQueries.exactlyOnce(spark, dir).collect())
      assert(messageChain(e).contains("globally unique event_id"),
        s"expected the x45 guard to fire; got: ${messageChain(e)}")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  private val sf = "/root/testdata/sf0.001"

  /** Run `call` with a fresh scratch root and a shuffle width distinct
    * from the runner's, then assert the runner left nothing behind: no
    * active query, no `graft_stream_*` temp view, the caller's shuffle
    * width back in place, an empty scratch root. Returns `call`'s result
    * (or the failure it threw).
    */
  private def assertNoTrace[T](call: => T): Either[Throwable, T] = {
    val scratch = Files.createTempDirectory("graft_runner_scratch")
    val prevScratch = sys.props.get("graft.stream.scratch")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    System.setProperty("graft.stream.scratch", scratch.toString)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val out = try Right(call) catch { case e: Exception => Left(e) }
      assert(spark.streams.active.isEmpty, "a streaming query outlived the runner")
      val views = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream_"))
      assert(views.isEmpty, s"memory-sink views left behind: ${views.mkString(", ")}")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7",
        "the runner did not restore the caller's shuffle width")
      val left = Files.list(scratch)
      try assert(left.count() == 0, s"scratch left under $scratch") finally left.close()
      out
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevScratch match {
        case Some(v) => System.setProperty("graft.stream.scratch", v)
        case None => System.clearProperty("graft.stream.scratch")
      }
      graft.sources.LayoutCache.deleteTree(scratch)
    }
  }

  test("the spool cuts a feed into the same files every time: one per time range, in order, empty ranges included") {
    import graft.queries.StreamingQueries.spoolChronological
    val root = Files.createTempDirectory("graft_spool_cut")
    /** Each spool file's rows, in file-name (= replay) order. */
    def spool(feed: org.apache.spark.sql.DataFrame, name: String): Seq[Seq[(Long, Long)]] = {
      val dir = root.resolve(name).toString
      spoolChronological(feed, dir, 3)
      val listing = Files.list(root.resolve(name))
      val parts = try listing.sorted().toArray.map(_.toString).filter(_.contains("/part-"))
        finally listing.close()
      parts.toSeq.map(p => spark.read.parquet(p).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    try {
      val sf = "/root/testdata/sf0.01"
      val feed = Tables.load(spark, sf, "events")
        .select(unix_micros(col("ts")).as("us"), col("event_id"))
      val a = spool(feed, "a")
      assert(a.size == 3 && a.forall(_.nonEmpty), a.map(_.size))
      val b = spool(feed, "b")
      if (b != a) fail(s"the same feed spooled twice gave different files: ${a.map(_.size)} then ${b.map(_.size)} rows")
      assert(a.flatten.size == feed.count())
      a.sliding(2).foreach { case Seq(x, y) => assert(x.map(_._1).max < y.map(_._1).min) }
      // a gap wider than a third of the span leaves the middle range empty
      import spark.implicits._
      val gappy = spool(Seq((0L, 1L), (1L, 2L), (90L, 3L), (100L, 4L)).toDF("us", "event_id"), "gap")
      assert(gappy == Seq(Seq((0L, 1L), (1L, 2L)), Seq(), Seq((90L, 3L), (100L, 4L))))
      assert(spool(Seq.empty[(Long, Long)].toDF("us", "event_id"), "none") == Seq(Seq(), Seq(), Seq()))
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("spool-replay runner leaves no trace; its result still collects after teardown") {
    val Q = graft.queries.StreamingQueries
    for ((row, call) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "x36 memory sink" -> (() => Q.firstTouch(spark, sf)),
        "x40 file sink" -> (() => Q.enrichedByNation(spark, sf)),
        "x118 foreachBatch" -> (() => Q.streamingIncrementalPq(spark, sf)))) {
      val df = assertNoTrace(call()).fold(e => fail(s"$row failed", e), identity)
      assert(df.collect().nonEmpty, s"$row: result empty or unreadable after teardown")
    }
  }

  test("spool-replay runner leaves no trace when a row fails before or after the stream starts") {
    // x45's guard fires in the spool write, before the stream exists;
    // x26's fires in the post-drain sentinel write, with the query
    // running and its memory sink registered
    val root = Files.createTempDirectory("graft_runner_fail")
    try {
      val base = 1700000000L * 1000000000L
      val dupIds = writeEvents(Files.createDirectory(root.resolve("dup")), Seq(
        (9L, base, 1L, "click", 1.0),
        (9L, base + 60L * 1000000000L, 2L, "purchase", 2.0)))
      val negUser = writeEvents(Files.createDirectory(root.resolve("neg")), Seq(
        (1L, base, -5L, "click", 1.0),
        (2L, base + 60L * 1000000000L, 3L, "view", 2.0)))
      for ((row, call, guard) <- Seq(
          ("x45", () => graft.queries.StreamingQueries.exactlyOnce(spark, dupIds),
            "globally unique event_id"),
          ("x26", () => graft.queries.StreamingQueries.gapSessions(spark, negUser),
            "x26 sentinel convention"))) {
        val e = assertNoTrace(call()).swap.getOrElse(fail(s"$row: expected its guard to fire"))
        assert(messageChain(e).contains(guard), s"$row: unexpected failure: ${messageChain(e)}")
      }
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("x45 exactly-once over redelivered files equals the batch per-user aggregate of the original events") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val batch = Tables.load(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (sum((col("value").cast("decimal(18,2)") * 100).cast("long")).cast("double") / 100)
          .as("total_value"),
        expr("bit_xor(event_id)").as("event_xor"))
      .orderBy("user_id")
    val want = rows(batch)
    assert(want.nonEmpty)
    // the redelivery hook must actually double the feed the stream reads
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(rows(graft.queries.StreamingQueries.exactlyOnce(spark, sf)) === want)
      val nEvents = want.map(_._2).sum
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (inputRows.get < 2 * nEvents && System.nanoTime() < deadline) Thread.sleep(100)
      assert(inputRows.get == 2 * nEvents,
        s"stream read ${inputRows.get} rows; redelivery of $nEvents events should give ${2 * nEvents}")
    } finally spark.streams.removeListener(listener)
  }

  /** The adversarial feed: one user owns ~99.6% of the stream — 6 hours
    * of clicks+purchases at 30 s cadence (720 + 720 rows), next to 6
    * one-event users. Window 600 s, watermark 1 h (intervalJoinStream's
    * fixed delay): every hot-key row lands in ONE join-state partition,
    * so if skew could break the state bound, this feed would.
    */
  private def hotFeedEvents: Seq[JEvent] = {
    val base = 1700000000L * 1000000L // micros
    val hot = (0 until 720).flatMap { i =>
      Seq(JEvent(1L, base + i * 30L * 1000000, 1000L + i, "click"),
        JEvent(1L, base + (i * 30L + 10L) * 1000000, 100000L + i, "purchase"))
    }
    val cold = (2 to 7).map(u => JEvent(u.toLong, base + u * 1000000L, u.toLong, "click"))
    (hot ++ cold).sortBy(_.us)
  }

  /** Spool the feed as six chronological files = six micro-batches, one
    * hour of event time each: the watermark advances between batches, so
    * eviction must be observable in the progress metrics.
    */
  private def spoolHotFeed(root: Path, all: Seq[JEvent]): Path = {
    import spark.implicits._
    val feed = root.resolve("feed"); Files.createDirectories(feed)
    val mtimeBase = System.currentTimeMillis() - 1000L * 3600
    all.grouped((all.size + 5) / 6).zipWithIndex.foreach { case (evs, idx) =>
      val tmp = root.resolve(s"w$idx")
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst.get finally listing.close()
      val dest = feed.resolve(f"file-$idx%03d.parquet")
      Files.move(part, dest)
      require(dest.toFile.setLastModified(mtimeBase + idx * 1000L))
    }
    feed
  }

  /** The batch twin of the 600 s interval join over the feed — the exact
    * pair set every streaming variant must reproduce.
    */
  private def batchPairs(all: Seq[JEvent]): Set[(Long, Long, Long)] = {
    import spark.implicits._
    val df = all.toDS().toDF()
    val clicks = df.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"), col("event_id").as("click_id"))
    val purchases = df.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("us").as("pus"), col("event_id").as("purchase_id"))
    clicks.join(purchases,
        col("user_id") === col("pu") && col("pus") >= col("cus") &&
          col("pus") <= col("cus") + 600L * 1000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("hot-key stream-stream join: state stays watermark-bounded and output equals batch") {
    implicit val enc: org.apache.spark.sql.Encoder[JEvent] =
      org.apache.spark.sql.Encoders.product[JEvent]
    val all = hotFeedEvents
    val totalRows = all.size

    val root = Files.createTempDirectory("graft_hotkey_join")
    try {
      val feed = spoolHotFeed(root, all)
      val name = "hotkey_join_out"
      val q = graft.queries.StreamingQueries.intervalJoinStream(
          spark.readStream.schema(enc.schema).option("maxFilesPerTrigger", "1")
            .parquet(feed.toString), windowSec = 600L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val (got, progresses) =
        try {
          q.processAllAvailable()
          (spark.table(name)
            .select(col("user_id"), col("click_id"), col("purchase_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
            q.recentProgress.toIndexedSeq)
        } finally { q.stop(); spark.catalog.dropTempView(name) }

      // correctness under skew: exactly the batch interval join
      val want = batchPairs(all)
      assert(want.size > 10000, s"fixture produced too few pairs to exercise skew: ${want.size}")
      assert(got == want,
        s"hot-key stream join != batch: only-stream=${(got -- want).take(3)}, only-batch=${(want -- got).take(3)}")

      // the state bound: buffered join state must track the watermark
      // horizon (~1 h + window of hot-key data, both sides ≈ 290 rows),
      // never the stream; and eviction must actually have happened
      val stateTotals = progresses.flatMap(_.stateOperators.map(_.numRowsTotal))
      val removed = progresses.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(stateTotals.nonEmpty, "no state metrics reported")
      val maxState = stateTotals.max
      assert(maxState <= totalRows / 2,
        s"join state $maxState exceeds half the stream ($totalRows rows) — watermark bound broken")
      assert(removed >= totalRows * 2 / 5,
        s"only $removed state rows evicted across the replay — watermark eviction not engaging")
      System.err.println(s"[hotkey] rows=$totalRows pairs=${want.size} maxState=$maxState " +
        s"removed=$removed batches=${progresses.count(_.numInputRows > 0)}")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("opt-in salted stream-stream join: identical pairs, hot key spread over S^2 state cells") {
    import spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[JEvent] =
      org.apache.spark.sql.Encoders.product[JEvent]
    val S = 4
    val all = hotFeedEvents
    val root = Files.createTempDirectory("graft_salted_join")
    try {
      val feed = spoolHotFeed(root, all)
      val name = "salted_join_out"
      val q = graft.queries.StreamingQueries.intervalJoinStream(
          spark.readStream.schema(enc.schema).option("maxFilesPerTrigger", "1")
            .parquet(feed.toString), windowSec = 600L, joinType = "inner", salts = S)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      val (got, progresses) =
        try {
          q.processAllAvailable()
          (spark.table(name)
            .select(col("user_id"), col("click_id"), col("purchase_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
            q.recentProgress.toIndexedSeq)
        } finally { q.stop(); spark.catalog.dropTempView(name) }

      // EXACTNESS: grid salting must not change the pair set — every
      // (click, purchase) meets in exactly one of the S^2 cells
      val want = batchPairs(all)
      assert(got == want,
        s"salted join != batch: only-stream=${(got -- want).take(3)}, only-batch=${(want -- got).take(3)}")

      // SKEW RELIEF: the per-join-key concentration bound. Unsalted, the
      // hot user's 720 clicks all buffer under ONE join key (one state
      // partition); salted, the operator's own salt assignment spreads
      // them over S^2 cells with max cell occupancy 720*S/S^2 = 720/S.
      // Replay the operator's salt expressions over the static feed to
      // measure the cells it will actually create.
      val clicks = all.filter(_.event_type == "click").toDS().toDF()
        .withColumn("c_salt", pmod(col("event_id"), lit(S)).cast("int"))
        .withColumn("p_salt", explode(array((0 until S).map(lit): _*)))
      val maxCell = clicks.groupBy(col("user_id"), col("c_salt"), col("p_salt"))
        .count().agg(max(col("count"))).head().getLong(0)
      val unsaltedMax = 720L
      assert(maxCell * S <= unsaltedMax + S,
        s"salting must cut per-cell click state ~S x: maxCell=$maxCell S=$S")

      // the documented trade: total buffered state grows ~x S (both
      // sides replicated), and eviction still engages
      val stateTotals = progresses.flatMap(_.stateOperators.map(_.numRowsTotal))
      val removed = progresses.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
      assert(stateTotals.nonEmpty && removed > 0,
        "salted join must still report state metrics and evict on watermark advance")
      System.err.println(s"[salted] pairs=${got.size} maxCell=$maxCell " +
        s"maxStateTotal=${stateTotals.max} removed=$removed")
    } finally graft.sources.LayoutCache.deleteTree(root)
  }

  test("scratch sweep: a stale graft_stream_* dir is removed; fresh and foreign dirs survive") {
    // the r16 crash-leak scenario: a previous JVM died between start()
    // and cleanup, leaving a RAM-backed scratch dir on the tmpfs. The
    // sweep must take exactly the stale graft_stream_* dirs — not fresh
    // ones (a concurrent row's live scratch), not foreign names.
    val base = Files.createTempDirectory("graft_sweep_base")
    try {
      val stale = Files.createDirectory(base.resolve("graft_stream_funnel_crashed"))
      Files.write(stale.resolve("wal"), "orphan".getBytes("UTF-8"))
      val fresh = Files.createDirectory(base.resolve("graft_stream_join_live"))
      val foreign = Files.createDirectory(base.resolve("unrelated_old_dir"))
      // a >StaleScratchMs-running CONCURRENT job: the top-level dir keeps
      // its creation mtime (writes land in subdirs) but its newest file
      // is fresh — the r17-ADVICE live-sweep hazard; must survive
      val longRunning = Files.createDirectory(base.resolve("graft_stream_agg_longrunning"))
      Files.write(longRunning.resolve("state"), "live".getBytes("UTF-8"))
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * graft.queries.StreamingQueries.StaleScratchMs)
      // backdate the WHOLE planted tree (child before parent — touching
      // the child refreshes the parent): a crashed JVM's files are all old
      Files.setLastModifiedTime(stale.resolve("wal"), old)
      Files.setLastModifiedTime(stale, old)
      Files.setLastModifiedTime(foreign, old)
      Files.setLastModifiedTime(longRunning, old) // top-level only; child stays fresh
      val n = graft.queries.StreamingQueries.sweepStaleScratch(
        base, graft.queries.StreamingQueries.StaleScratchMs)
      assert(n == 1, s"expected exactly the planted stale dir swept, got $n")
      assert(!Files.exists(stale), "stale graft_stream_* dir must be deleted (files included)")
      assert(Files.exists(fresh), "a fresh graft_stream_* dir (live concurrent row) must survive")
      assert(Files.exists(longRunning.resolve("state")),
        "a long-running job's dir (old top-level mtime, fresh tree) must survive")
      assert(Files.exists(foreign), "non-graft_stream_* dirs are not ours to delete")
    } finally graft.sources.LayoutCache.deleteTree(base)
  }
}

package graft.queries

import graft.{CkptOps, Tables}
import graft.streaming.{GapEvent, StreamingGapSessionize}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicInteger

/** The driver-visible Structured Streaming rows. Every row runs through
  * one spool-replay runner ([[replay]]) whose contract is:
  *
  *  - the feed is spooled CHRONOLOGICALLY ([[spoolChronological]]) as
  *    time-ranged parquet files with ascending mtimes;
  *  - a file-stream source replays them ONE MICRO-BATCH PER FILE;
  *  - the stream runs under a SCOPED shuffle width ([[StreamParts]]),
  *    restored afterwards;
  *  - the result is MATERIALIZED BEFORE TEARDOWN: nothing a row returns
  *    reads the spool, the checkpoint or a memory sink once the query is
  *    stopped, its sink view dropped and its scratch deleted.
  *
  * A row states only its streaming plan, its sink and its post-sink
  * reduction.
  */
object StreamingQueries {

  // memory-sink tables are session-global; unique name per invocation so
  // bench/verify reruns never read a stale sink
  private val runSeq = new AtomicInteger(0)

  /** Number of time-range spool files = number of event micro-batches the
    * sessionizer sees (plus one for the sentinel flush). 3 keeps
    * cross-batch state handoff exercised without paying unbounded
    * per-batch state-store fixed costs locally.
    */
  private val FeedFiles = 3

  /** Shuffle-partition count while a streaming stage runs (scoped per
    * query, restored after). Each partition opens/commits its state
    * stores EVERY micro-batch, so locally this is the dominant streaming
    * cost knob; a real deployment sizes it to key cardinality. Measured on
    * the heaviest consumer (x39, four state stores per partition): 8 →
    * ~4.9 s, 4 → ~3.7 s, 2 → ~3.3 s per run at sf0.1. 4 keeps the
    * fixture's ~150 keys parallel while halving the fixed cost; 2 saves
    * little more and under-parallelizes the per-batch scan.
    */
  private val StreamParts = "4"

  /** Scratch root for spool + checkpoint of the streaming ledger rows.
    * Prefers a tmpfs (`/dev/shm`) when one is writable. Every micro-batch
    * writes and renames the offset WAL, the commit log, and one delta
    * file PER state store PER partition. The state-store commit cost once
    * put down to ext4 fsyncs (x50: ≈ 0.8 s/batch of a ≈ 1.1 s trigger)
    * was process forks, a `chmod` or `readlink` per file, which
    * [[graft.sources.ForklessLocalFs]] removed; since then the medium
    * hardly matters: x50 at sf0.1 (4 vCPU, local[4], four warm runs)
    * takes 3.6-4.5 s with its scratch on ext4 and 3.4-4.4 s on
    * `/dev/shm`, state commits 50-210 ms/batch on both. The checkpoint
    * contract is unchanged: in production it points at durable DFS
    * storage by configuration; locally, disk under java.io.tmpdir is no
    * more durable across machine loss than tmpfs. Override with
    * -Dgraft.stream.scratch=<dir>.
    */
  private def streamScratchDir(prefix: String): Path = {
    val base = sys.props.get("graft.stream.scratch").map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm)) Some(shm) else None
      }
    base.foreach(b => sweepOnce(b))
    base match {
      case Some(b) => Files.createTempDirectory(b, prefix)
      case None => Files.createTempDirectory(prefix)
    }
  }

  /** Crash-leak sweep (r16 verdict #8): a crash between `start()` and the
    * finally-block cleanup leaves its spool + checkpoint dir behind — on
    * the tmpfs default that is leaked RAM that survives the JVM. Every
    * scratch dir this object creates matches `graft_stream_*`, and live
    * ones are seconds old (each streaming ledger row runs and cleans up
    * within one call), so at the FIRST scratch allocation of a session we
    * delete any matching dir older than [[StaleScratchMs]] — stale by
    * construction, because nothing in this JVM created it. Once per JVM:
    * a sweep per allocation could race a slow concurrent row.
    */
  private[graft] val StaleScratchMs: Long = 60L * 60 * 1000

  private val sweptBases = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private def sweepOnce(base: Path): Unit =
    if (sweptBases.add(base)) {
      val n = sweepStaleScratch(base, StaleScratchMs)
      if (n > 0) System.err.println(s"[stream-scratch] swept $n stale graft_stream_* dir(s) under $base")
    }

  /** Delete `graft_stream_*` dirs under `base` that are stale — NEWEST
    * mtime anywhere in the tree older than `maxAgeMs` — and returns how
    * many were removed. Newest-in-tree, not the top-level dir's mtime
    * (r17 ADVICE): a long-running concurrent job's scratch dir keeps its
    * creation mtime while writes land in checkpoint subdirs, so a
    * top-level test could sweep a LIVE dir out from under it. Each
    * removal is individually fault-tolerant: two JVMs sweeping the same
    * stale dir race benignly (`deleteIfExists` + a catch that logs and
    * continues), never failing the allocating caller's `scratchDir()`.
    * Exposed for the hardening spec, which plants a backdated dir and
    * asserts the sweep takes it (and leaves fresh ones alone).
    */
  private[graft] def sweepStaleScratch(base: Path, maxAgeMs: Long): Int = {
    if (!Files.isDirectory(base)) 0
    else {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      // liveness short-circuits on the FIRST fresh file (r18 ADVICE:
      // computing the full newest-mtime max stats every file of every
      // live checkpoint tree on every scratchDir() allocation — an
      // O(total files) stat storm; one fresh file already proves live)
      def anyFresh(p: Path): Boolean = {
        val s = Files.walk(p)
        try s.anyMatch(f => Files.getLastModifiedTime(f).toMillis >= cutoff)
        finally s.close()
      }
      // a dir whose tree can't be walked (dangling symlink, unreadable
      // entry from a crashed run) must not become sweep-exempt forever:
      // NoSuchFileException = a concurrent sweep/cleanup won the race —
      // treat as fresh (it's being handled); any other walk failure
      // falls back to the top-level mtime, which a crashed producer
      // never refreshes, so the leak is still reclaimed
      def isStale(p: Path): Boolean =
        try !anyFresh(p)
        catch {
          case _: java.nio.file.NoSuchFileException => false
          case e: java.io.UncheckedIOException
            if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] => false
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            try Files.getLastModifiedTime(p).toMillis < cutoff
            catch { case _: java.io.IOException => false }
        }
      val listing = Files.list(base)
      val stale =
        try listing
          .filter(p => p.getFileName.toString.startsWith("graft_stream_") &&
            Files.isDirectory(p))
          .toArray(new Array[Path](_))
          .filter(p => isStale(p))
        finally listing.close()
      stale.count { p =>
        try { deleteRecursively(p); true }
        catch { case e @ (_: java.io.IOException | _: java.io.UncheckedIOException) =>
          System.err.println(s"[stream-scratch] sweep of $p lost a race (${e.getClass.getSimpleName}); continuing")
          false
        }
      }
    }
  }

  /** Per-phase stderr breadcrumb for every streaming ledger row — the
    * `[q29]`/`[layout]` convention extended to the streaming band (r10
    * verdict #2): the r10 driver drew x45 at 17.9 s against a 2.8-3.6 s
    * local band and NOTHING in the log could attribute which phase
    * re-entered. One line per run — spool wall, stream wall, per-micro-
    * batch triggerExecution, and per-batch state-store commit time — lets
    * a driver outlier name its phase from the log alone.
    */
  private def streamCrumb(tag: String, t0: Long, tSpool: Long,
                          q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val runMs = (System.nanoTime() - tSpool) / 1000000L
    val spoolMs = (tSpool - t0) / 1000000L
    val progress = q.recentProgress
    def dur(key: String) = progress.map(p =>
      Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L))
    val trig = dur("triggerExecution")
    val commit = progress.map(p => p.stateOperators.map(_.commitTimeMs).sum)
    System.err.println(s"[$tag] spool=${spoolMs}ms run=${runMs}ms " +
      s"batches=${trig.mkString("+")}ms stateCommit=${commit.mkString("+")}ms " +
      s"plan=${dur("queryPlanning").sum}ms addBatch=${dur("addBatch").sum}ms " +
      s"wal=${dur("walCommit").lazyZip(dur("commitOffsets")).map(_ + _).sum}ms " +
      s"getBatch=${dur("getBatch").lazyZip(dur("latestOffset")).map(_ + _).sum}ms")
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** The `part-*` files of a parquet directory, in name order. */
  private def partFiles(dir: String): Array[Path] = {
    val listing = Files.list(Paths.get(dir))
    try listing.sorted().toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    finally listing.close()
  }

  /** Spool `events` into `n` time-ranged parquet files (ranged on `tsCol`)
    * with strictly ascending mtimes, so a file-stream source replays them
    * chronologically as one micro-batch each. The ranges are `n` equal
    * spans of [min, max] of `tsCol`, so the cut, and with it every
    * batch's rows and watermark, depends only on the data (a sampled range
    * partitioner drew new bounds on every run). An empty range still gets
    * its (empty) file: always exactly `n` micro-batches. Fail-fast mtime
    * stamping — an un-stamped file could replay out of range order.
    */
  private[graft] def spoolChronological(events: DataFrame, feedDir: String, n: Int,
                                 tsCol: String = "us"): Unit = {
    val ts = col(tsCol).cast("double")
    val bounds = events.agg(min(ts), max(ts)).head()
    // range i goes to shuffle partition i, whose part file sorts i-th
    val key = spoolKeys(n)
    val range = if (bounds.isNullAt(0)) lit(key(0)) else {
      val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
      (1 until n).foldLeft(lit(key(0)))((r, i) =>
        when(ts >= lo + (hi - lo) * i / n, key(i)).otherwise(r))
    }
    events.withColumn("_spool_key", range)
      .repartition(n, col("_spool_key"))
      .sortWithinPartitions(tsCol)
      .drop("_spool_key")
      .write.mode("overwrite").parquet(feedDir)
    // Spark writes no file for an empty partition other than the first
    val present = partFiles(feedDir).map(_.getFileName.toString.substring(5, 10).toInt).toSet
    val missing = (0 until n).filterNot(present)
    if (missing.nonEmpty) {
      val empty = s"${feedDir}_empty"
      events.limit(0).write.mode("overwrite").parquet(empty)
      missing.foreach(i => Files.copy(partFiles(empty).head, Paths.get(feedDir, f"part-$i%05d-empty.parquet")))
      deleteRecursively(Paths.get(empty))
    }
    val base = System.currentTimeMillis() - 1000L * 3600
    partFiles(feedDir).zipWithIndex.foreach { case (p, i) =>
      require(p.toFile.setLastModified(base + i * 1000L),
        s"cannot stamp spool-file mtime on $p — chronological replay not guaranteed")
    }
  }

  /** For each i < n, an int key that hash partitioning into n parts sends
    * to partition i (Spark's own partition-id expression, evaluated here).
    */
  private def spoolKeys(n: Int): IndexedSeq[Int] = {
    def part(k: Int) = HashPartitioning(Seq(Literal(k)), n).partitionIdExpression.eval().asInstanceOf[Int]
    (0 until n).map(i => Iterator.from(0).find(part(_) == i).get)
  }

  /** One replay's scratch: `spool` holds the feed, the checkpoint and any
    * file-sink output; `view` is the name a memory sink registers under.
    */
  private[graft] final case class Replay(spool: Path, view: String) {
    def feedDir: String = dir("feed")
    def dir(sub: String): String = spool.resolve(sub).toString
  }

  /** The spool-replay runner every streaming row goes through: spool
    * `feed` chronologically on `tsCol`, replay it one micro-batch per file
    * into the writer `sink` builds over the stream, drain it under the
    * scoped [[StreamParts]] shuffle width, log [[streamCrumb]], and return
    * `materialize`'s result — which must be computed (ckpt'd) here,
    * because on the way out the query stops, the memory-sink view (if the
    * sink used `r.view`) is dropped, the shuffle width is restored, and a
    * runner-allocated spool is deleted. `spool = None` allocates scratch
    * under [[streamScratchDir]]; a given spool is the caller's to delete.
    * Two hooks: `beforeStart` runs after the spool is written, before the
    * stream starts (x45 adds redelivery copies there); `afterDrain` runs
    * after the first drain, before the breadcrumb (x26 appends its flush
    * sentinel and drains again).
    */
  private[graft] def replay[T](spark: SparkSession, tag: String, feed: DataFrame,
                               tsCol: String = "us", spool: Option[Path] = None,
                               beforeStart: Replay => Unit = _ => (),
                               afterDrain: (Replay, StreamingQuery) => Unit = (_, _) => ())(
                               sink: (Replay, DataFrame) => DataStreamWriter[_])(
                               materialize: Replay => T): T = {
    val r = Replay(spool.getOrElse(streamScratchDir(s"graft_stream_${tag}_")),
      s"graft_stream_${tag}_${runSeq.incrementAndGet()}")
    try {
      val t0 = System.nanoTime()
      spoolChronological(feed, r.feedDir, FeedFiles, tsCol)
      beforeStart(r)
      val tSpool = System.nanoTime()
      val stream = spark.readStream
        .schema(feed.schema)
        .option("maxFilesPerTrigger", "1") // one micro-batch per range file
        .parquet(r.feedDir)
      // The streaming stage runs EAGERLY here, so scoping the shuffle
      // width to it is safe — what a row returns reads only the
      // materialized result. Fewer partitions = fewer state-store
      // instances to open/commit per micro-batch.
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamParts)
      try {
        val q = sink(r, stream).option("checkpointLocation", r.dir("ckpt")).start()
        try {
          q.processAllAvailable()
          afterDrain(r, q)
          streamCrumb(tag, t0, tSpool, q)
          materialize(r)
        } finally q.stop()
      } finally {
        // repeated bench/verify invocations must not pin one full result
        // copy per run in driver memory for the session lifetime
        spark.catalog.dropTempView(r.view)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    } finally if (spool.isEmpty) deleteRecursively(r.spool)
  }

  /** [[replay]] into a memory sink: `plan` maps the replayed stream to the
    * row's streaming result, written in output `mode`; returns the sink
    * contents, ckpt'd.
    */
  private def replayToMemory(spark: SparkSession, tag: String, feed: DataFrame,
                             mode: String, tsCol: String = "us",
                             afterDrain: (Replay, StreamingQuery) => Unit = (_, _) => ())(
                             plan: DataFrame => Dataset[_]): DataFrame =
    replay(spark, tag, feed, tsCol, afterDrain = afterDrain)(
      (r, stream) => plan(stream).writeStream.format("memory").queryName(r.view).outputMode(mode))(
      r => spark.table(r.view).ckpt())

  /** The one commutative aggregation both the streaming stage and the
    * sink-reduction use — a single definition, so they cannot drift.
    */
  private[graft] def firstTouchAgg(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(min(struct(col("us"), col("event_id"), col("cents"))).as("first"))

  /** Reduce an update-mode sink (or any superset of state snapshots) to
    * the final first-touch rows in the driver-contract schema.
    */
  private[graft] def firstTouchFinal(sink: DataFrame): DataFrame =
    sink.groupBy(col("user_id"))
      .agg(min(col("first")).as("first"))
      .select(col("user_id"),
        col("first.us").as("first_us"),
        col("first.event_id").as("first_event_id"),
        (col("first.cents").cast("double") / 100).as("first_value"))
      .orderBy("user_id")

  /** Streaming first-touch (first-seen-per-key dedup): each user's FIRST
    * event by (event time, event_id), maintained as streaming-aggregation
    * state across micro-batches and emitted in UPDATE mode. This is the
    * streaming ingest-dedup pattern — keep the first occurrence per key,
    * drop the rest — built on `min(struct(us, event_id, cents))` rather
    * than `dropDuplicates`, because a struct-min is COMMUTATIVE: the
    * result is bit-identical under any arrival order or batch boundary
    * placement (dropDuplicates keeps the first ARRIVAL, which is
    * nondeterministic within a micro-batch). No watermark needed: state
    * is one struct per key by construction, and a production deployment
    * bounds key cardinality, not time.
    *
    * The update-mode memory sink receives one row per (key, batch-where-
    * it-changed); the final state is recovered with the SAME commutative
    * min over the sink — no order assumption on sink rows either.
    */
  def firstTouch(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    firstTouchFinal(replayToMemory(spark, "x36", events, "update")(firstTouchAgg))
  }

  /** x61: STREAMING CDC apply — the q30 warehouse ingest primitive run
    * continuously. The changelog replays through the file spool; per-key
    * last-writer-wins state is a streaming `max(struct(us, event_id,
    * event_type, value))` aggregation (COMMUTATIVE, so the result is
    * arrival-order- and batch-boundary-independent — the x36 first-touch
    * argument with max in place of min; (us, event_id) is a total order,
    * so the struct max picks exactly the row q30's rn=1 window picks);
    * the sink's state snapshots reduce with the same max, and the final
    * state merges against the snapshot through THE SAME
    * [[Relational.cdcMergeWithSnapshot]] the batch query uses — upsert /
    * tombstone-delete / keep semantics shared by construction, result
    * equal to q30's and checked by the same oracle. This is how a daily
    * CDC batch becomes a continuous one: only the "last state per key"
    * moves from a window to streaming state; the merge is untouched.
    */
  def streamingCdcUpsert(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"), col("value"))
    val finalState = replayToMemory(spark, "x61", events, "update")(
      _.groupBy(col("user_id"))
        .agg(max(struct(col("us"), col("event_id"), col("event_type"), col("value")))
          .as("last")))
    val last = finalState.groupBy(col("user_id"))
      .agg(max(col("last")).as("last"))
      .select(col("user_id"), col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))
    Relational.cdcMergeWithSnapshot(spark, dir, last)
  }

  /** x73: STREAMING FUNNEL — q50's conversion analysis run continuously.
    * The sparse event slice replays chronologically through the file
    * spool into [[graft.streaming.StreamingFunnel]] (a three-field
    * per-user state machine in `flatMapGroupsWithState`; q50's three
    * chained prefix-min windows collapse to O(1) state per user), which
    * emits one changelog record per completed stage. The sink pivots
    * back to one row per converting user — (first view, first valid
    * click, first valid purchase) — the EXACT per-user relation q50's
    * window stage computes, so the DuckDB oracle replays the batch
    * windows and compares row-for-row. Each stage emits exactly once
    * (the FSM guards on unset), so the pivot's min() is a formality, not
    * a dedup.
    */
  def streamingFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_id") % 8 === 0) // q50's sparse slice, shared
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    replayToMemory(spark, "x73", events, "append")(stream =>
        graft.streaming.StreamingFunnel.steps(spark, stream.as[graft.streaming.FunnelEvent]))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("stage") === "view", col("us"))).as("v_us"),
        min(when(col("stage") === "click", col("us"))).as("c_us"),
        min(when(col("stage") === "purchase", col("us"))).as("p_us"))
      .orderBy("user_id")
  }

  /** x57: streaming simhash near-dup dedup, end to end inside the batch
    * driver contract — fingerprints computed by the batch `simhash64`
    * kernel, spooled in doc_id order (the id-ordered arrival contract
    * [[graft.streaming.StreamingSimhashDedup]] documents), replayed one
    * micro-batch per file through the per-band-bucket state index, then
    * reduced across bands with a commutative struct-min (a pair can
    * collide in up to 4 buckets; min dup_of wins, and hamming is a pure
    * function of the chosen pair). Result: (doc_id, dup_of, hamming) for
    * every document with a prior Hamming-≤3 neighbor — the streaming
    * ingest-dedup decision, exactly equal to the batch x25 pair set
    * reduced to min-prior-match (the DuckDB oracle recomputes that from
    * raw text).
    */
  def streamingSimhashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val fps = graft.operators.Dedup.simhashRaw(docs)
      .select(col("doc_id"), col("simhash64"),
        col("band0"), col("band1"), col("band2"), col("band3"))
    replayToMemory(spark, "x57", fps, "append", tsCol = "doc_id") { stream =>
      val banded = stream.select(
        explode(array((0 until 4).map(b =>
          lit(b.toLong * 65536L) + col(s"band$b")): _*)).as("band"),
        col("doc_id"), col("simhash64")).as[graft.streaming.BandDoc]
      graft.streaming.StreamingSimhashDedup.hits(banded)
    }.groupBy(col("doc_id"))
      .agg(min(struct(col("dup_of"), col("hamming"))).as("m"))
      .select(col("doc_id"), col("m.dup_of").as("dup_of"),
        col("m.hamming").cast("int").as("hamming"))
      .orderBy("doc_id")
  }

  /** The watermarked two-sided click→purchase interval join itself, over
    * any streaming frame with (user_id, us, event_id, event_type) — one
    * definition shared by the driver-visible queries and the
    * checkpoint-restart recovery test, so the recovered operator IS the
    * shipped operator. `salts = 1` (every ledger row) is the plain
    * user_id equi-join. `salts = S > 1` is the
    * OPT-IN hot-key guard for feeds where one key's rate × watermark
    * horizon exceeds one executor's state store (the residual exposure
    * StreamingHardeningSpec names): grid fragment-replicate salting —
    * clicks pin `c_salt = click_id mod S` and replicate across all S
    * `p_salt` values, purchases pin `pp_salt` and replicate across all S
    * `cc_salt` values, and the join adds both salt equalities, so each
    * qualifying (click, purchase) pair meets in EXACTLY ONE of the S²
    * cells — no post-join dedup, bit-identical output (the spec pins
    * stream ≡ batch on the 99.6%-one-user feed). The hot key's state
    * spreads over S² join-key cells: per-cell state drops S× (C/S per
    * cell vs C) at the classic ×S total-state price — the knob trades
    * memory headroom for skew immunity, which is why it is opt-in rather
    * than default. Inner joins only: an outer join would emit an
    * unmatched row's null extension once per cell.
    */
  private[graft] def intervalJoinStream(stream: DataFrame, windowSec: Long,
                                        joinType: String = "inner",
                                        salts: Int = 1): DataFrame = {
    val withTs = stream.withColumn("ts", timestamp_micros(col("us")))
    val clicks0 = withTs.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("us").as("click_us"), col("event_id").as("click_id"))
    val purchases0 = withTs.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("p_ts"),
        col("us").as("p_us"), col("event_id").as("purchase_id"))
    val timeCond = col("p_ts") >= col("click_ts") &&
      col("p_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS")
    if (salts <= 1) {
      val clicks = clicks0.withWatermark("click_ts", "1 hour")
      val purchases = purchases0.withWatermark("p_ts", "1 hour")
      clicks.join(purchases, col("user_id") === col("p_user_id") && timeCond, joinType)
    } else {
      require(joinType == "inner",
        "salted interval join supports inner joins only (outer null-extension would emit once per cell)")
      val saltVals = array((0 until salts).map(lit): _*)
      val clicks = clicks0
        .withColumn("c_salt", pmod(col("click_id"), lit(salts)).cast("int"))
        .withColumn("p_salt", explode(saltVals))
        .withWatermark("click_ts", "1 hour")
      val purchases = purchases0
        .withColumn("pp_salt", pmod(col("purchase_id"), lit(salts)).cast("int"))
        .withColumn("cc_salt", explode(saltVals))
        .withWatermark("p_ts", "1 hour")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("c_salt") === col("cc_salt") && col("p_salt") === col("pp_salt") &&
          timeCond, joinType)
        .drop("c_salt", "p_salt", "pp_salt", "cc_salt")
    }
  }

  /** Stream-stream interval join — click→purchase attribution: every
    * (click, purchase) pair of the same user with the purchase inside
    * [click, click + `windowSec`]. The canonical two-stream join of event
    * pipelines, here as a SELF-join of one file-stream source filtered two
    * ways (the production shape when both event kinds ride one ingest).
    *
    * Both sides carry a watermark and the join condition carries the time
    * bound, so Spark derives state-eviction watermarks for BOTH sides —
    * join state is O(events inside the watermark horizon), not O(stream).
    * An INNER stream-stream join emits a pair the micro-batch both sides
    * have arrived, so no flush sentinel is needed (unlike the sessionizer,
    * nothing waits on watermark advance to EMIT — the watermark only
    * bounds state). Chronological file replay means nothing arrives
    * late, so the batch twin — a plain interval join the DuckDB oracle
    * reproduces — pins the result exactly. The memory sink holds only the
    * matched pairs (output-sized, like x26's sessions), not the stream.
    */
  def intervalJoin(spark: SparkSession, dir: String, windowSec: Long = 1800): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    replayToMemory(spark, "x39", events, "append")(intervalJoinStream(_, windowSec))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_us") - col("click_us")).as("delta_us"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** x50: the LEFT OUTER stream-stream interval join — the semantics class
    * x39's inner join does NOT exercise: an unmatched click can only emit
    * its null-extended row once the watermark PROVES no purchase can still
    * arrive inside its window, i.e. emission (not just state eviction)
    * waits on watermark advance. A finite replay's watermark stops at
    * max(ts) - delay, which never clears the last clicks' windows — so the
    * feed carries one watermark sentinel per side (distinct negative
    * user_ids, so the sentinels cannot match each other; negative
    * event_ids, filtered from the sink) stamped far enough past max(ts)
    * that every real click's window closes and every unmatched click
    * flushes through the engine's normal eviction path. Deterministic: the
    * emitted SET equals the batch left join (matched pairs from the inner
    * path + null rows for proven-unmatched clicks), which is exactly the
    * DuckDB oracle.
    *
    * The sentinel rows are DERIVED inside the spool job (a 1-row max/min
    * aggregate unioned into the feed write — no driver probe), and that
    * same aggregate carries the sign-convention guard: the sink filter
    * below silently drops negative click_ids as sentinels, so a fixture
    * whose REAL ids go negative must abort the spool loudly
    * (`raise_error`) instead of silently losing rows from the gate.
    */
  def intervalJoinOuter(spark: SparkSession, dir: String, windowSec: Long = 1800): DataFrame =
    runOuterIntervalJoin(spark, dir, windowSec, "leftOuter", "x50")
      .filter(col("click_id") >= 0)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (col("p_us") - col("click_us")).as("delta_us"))
      .orderBy("user_id", "click_id", "purchase_id")

  /** x58: the FULL OUTER stream-stream interval join — completes the
    * join-type matrix (inner x39, left outer x50): here BOTH sides' null
    * emissions wait on watermark proof — an unmatched click needs the
    * purchase watermark past its window, an unmatched purchase needs the
    * click watermark past its instant. The same per-side sentinels close
    * both directions (each sentinel is itself unmatched and emits a
    * null-extended row, filtered by sign below). Emitted set equals the
    * batch FULL join — the DuckDB oracle.
    */
  def intervalJoinFull(spark: SparkSession, dir: String, windowSec: Long = 1800): DataFrame =
    runOuterIntervalJoin(spark, dir, windowSec, "fullOuter", "x58")
      // sign filter drops the sentinels' OWN null-extended rows; real rows
      // keep null sides (that is the point of the full join)
      .filter((col("click_id").isNull || col("click_id") >= 0) &&
        (col("purchase_id").isNull || col("purchase_id") >= 0))
      .select(coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        col("click_id"), col("purchase_id"),
        (col("p_us") - col("click_us")).as("delta_us"))
      .orderBy(col("user_id"), col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)

  /** The outer interval joins' shared half (x50 left, x58 full): sentinel
    * derivation and the [[replay]] into a memory sink. Returns the RAW
    * sink rows — sentinel filtering and projection are the caller's (they
    * differ per join type).
    */
  private def runOuterIntervalJoin(spark: SparkSession, dir: String, windowSec: Long,
                                   joinType: String, tag: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
    val sentinels = events
      .agg(max(col("us")).as("mx"),
        min(col("user_id")).as("mnu"), min(col("event_id")).as("mne"))
      .where(col("mx").isNotNull) // empty feed -> no sentinels
      .select(when(col("mnu") < 0 || col("mne") < 0,
          raise_error(format_string("x50/x58 sentinel convention requires non-negative " +
            "user_id/event_id; got min(user_id)=%d, min(event_id)=%d", col("mnu"), col("mne"))))
        .otherwise(col("mx") + lit((windowSec + 2 * 3600) * 1000000L)).as("us"))
      .select(explode(array(
        struct(lit(-1L).as("user_id"), col("us"), lit(-1L).as("event_id"),
          lit("click").as("event_type")),
        struct(lit(-2L).as("user_id"), col("us"), lit(-2L).as("event_id"),
          lit("purchase").as("event_type")))).as("s"))
      .select(col("s.user_id"), col("s.us"), col("s.event_id"), col("s.event_type"))
    replayToMemory(spark, tag, events.unionByName(sentinels), "append")(
      intervalJoinStream(_, windowSec, joinType))
  }

  /** Stream-static enrichment: the event stream joins a STATIC dimension
    * (customer → nation) per micro-batch — the ingest-enrich shape that
    * precedes every warehouse write. The static side is broadcast once
    * (dimension tables are small next to the stream; the join is
    * stateless, so no watermark and append mode), and each enriched batch
    * lands in the sink as it arrives. The driver-visible row is a batch
    * aggregate OVER the enriched sink — counts/sums per (nation,
    * event_type) — which a plain DuckDB join reproduces exactly: the
    * stream only changes WHEN rows are enriched, never what they contain.
    *
    * The sink is a FILE sink (parquet in the spool), not the memory sink
    * the other streaming queries use: their sinks hold output-sized
    * results (sessions, pairs, per-key state), but an enrichment's output
    * is INPUT-sized — a memory sink would materialize the whole stream on
    * the driver, the exact anti-pattern the stream-native feed exists to
    * avoid. File sink → read back → aggregate keeps every row on
    * executors; only the tiny aggregate is checkpointed before the spool
    * is deleted.
    */
  def enrichedByNation(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val dim = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    replay(spark, "x40", events)(
      (r, stream) => stream.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("n_name"), col("event_type"), col("cents"))
        .writeStream.format("parquet").option("path", r.dir("out")).outputMode("append"))(
      r => spark.read.parquet(r.dir("out"))
        .groupBy(col("n_name"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("cents")).cast("double") / 100).as("total_value"))
        .orderBy("n_name", "event_type")
        .ckpt())
  }

  /** Exactly-once from at-least-once: every spool file is delivered TWICE
    * (duplicate file right behind its original, the retry/redelivery shape
    * of every at-least-once ingest), and a watermarked
    * `dropDuplicatesWithinWatermark` on event_id reduces the stream back
    * to exactly-once — the batch oracle over the ORIGINAL, unduplicated
    * table must match. Duplicates land either as state-store hits (same
    * watermark window) or as late-beyond-watermark drops (both remove the
    * copy; originals ascend chronologically so only copies can be late).
    * File sink: dedup output is input-sized, same reasoning as x40.
    */
  def exactlyOnce(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // The oracle equivalence ASSUMES event_id is globally unique: a
    // naturally duplicated id would be collapsed by the engine's dedup but
    // double-counted (and xor-cancelled) by the oracle over the original
    // table. Fail loudly instead of silently red-flagging the gate — the
    // guard is a 1-row aggregate broadcast-crossed into the spool input,
    // consumed through a FILTER (a plain dropped column would be pruned
    // and the `raise_error` never evaluated), so the check fires inside
    // the spool's own jobs: eager, loud, and no read by the caller.
    val guard = events
      .agg(count(lit(1)).as("n"), count_distinct(col("event_id")).as("d"))
      .select(when(col("n") =!= col("d"), raise_error(format_string(
          "x45 requires globally unique event_id: %d rows, %d distinct",
          col("n"), col("d"))))
        .otherwise(lit(1L)).as("ok"))
    replay(spark, "x45", events.crossJoin(broadcast(guard)).filter(col("ok") === 1L).drop("ok"),
        beforeStart = r => {
          // duplicate every part file, mtime-ordered right behind its original
          val base = System.currentTimeMillis() - 1000L * 1800
          partFiles(r.feedDir).zipWithIndex.foreach { case (p, i) =>
            val dup = p.resolveSibling("redelivery-" + p.getFileName.toString)
            Files.copy(p, dup)
            require(p.toFile.setLastModified(base + 2L * i * 1000) &&
              dup.toFile.setLastModified(base + (2L * i + 1) * 1000),
              s"cannot stamp redelivery mtimes for $p")
          }
        })(
      (r, stream) => stream
        .withColumn("ts", timestamp_micros(col("us")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .drop("ts")
        .writeStream.format("parquet").option("path", r.dir("out")).outputMode("append"))(
      r => spark.read.parquet(r.dir("out"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(col("cents")).cast("double") / 100).as("total_value"),
          expr("bit_xor(event_id)").as("event_xor"))
        .orderBy("user_id")
        .ckpt())
  }

  /** x26: runs the streaming gap sessionizer ([[StreamingGapSessionize]])
    * end to end inside the batch driver contract and reshapes its closed
    * sessions to q8's exact schema, so the SAME DuckDB oracle that checks
    * the batch operator hash-checks the streaming twin — the
    * stream-equals-batch guarantee moves from a ScalaTest assertion into
    * the driver's hard signal.
    *
    * The feed is stream-native: the event table is written to a spool
    * directory as time-ranged parquet files and the sessionizer reads them
    * through a FILE STREAM source (one micro-batch per file — the same
    * shape as a production directory-watching ingest).
    * Nothing is ever materialized on the driver: the spool write is a
    * distributed job, and each micro-batch flows scan → state store → sink
    * entirely on executors. `repartitionByRange` over event time makes file
    * k chronologically precede file k+1 (equal timestamps land in one file),
    * so per-user event order across micro-batches is non-decreasing and the
    * stream reproduces the batch sessionization bit for bit; disorder
    * WITHIN a micro-batch is handled by the operator (and exercised, with
    * genuine cross-batch disorder, in StreamingSpec).
    */
  def gapSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      // cents via the SAME rounding the batch operator applies —
      // cast(value AS decimal(18,2)) is BigDecimal HALF_UP, which differs
      // from math.round(v*100) on >2-decimal or negative values (e.g.
      // 2.675 -> 268 vs 267; -0.125 -> -13 vs -12), and a divergence here
      // breaks the advertised bit-for-bit stream==batch guarantee
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // Sentinel frame, derived by a JOB when written (no driver probe):
    // the sentinel must postdate every event by more than watermark +
    // gap. The same 1-row aggregate carries the sign-convention guard —
    // the sink filter below silently drops user_id < 0 as sentinels, so
    // a fixture whose real users go negative must fail LOUDLY here, not
    // quietly lose those users from the driver gate.
    val sentinel = events
      .agg(max(col("us")).as("mx"), min(col("user_id")).as("mnu"))
      .where(col("mx").isNotNull) // empty feed -> no sentinel file rows
      .select(
        when(col("mnu") < 0, raise_error(format_string(
          "x26 sentinel convention requires non-negative user_id; got min(user_id)=%d",
          col("mnu")))).otherwise(lit(-1L)).as("user_id"),
        (col("mx") + 1000L * 3600 * 1000000).as("us"),
        lit(0L).as("cents"))
    val sessions = replayToMemory(spark, "x26", events, "append",
      afterDrain = (r, q) => {
        // far-future sentinel (user -1) as one more spooled file: its
        // event time pushes the watermark past every open session's
        // timeout, flushing idle sessions — written AFTER the first
        // drain so it is guaranteed to arrive as its own micro-batch
        sentinel.coalesce(1).write.mode("append").parquet(r.feedDir)
        q.processAllAvailable()
      })(stream => StreamingGapSessionize.sessions(spark, stream.as[GapEvent], 1800L * 1000000L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_us"))
    sessions.filter(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(w).cast("bigint"))
      .select(col("user_id"), col("session_id"),
        col("n_events"), col("start_us"),
        (col("end_us") - col("start_us")).as("duration_us"),
        // integer cents -> double via one correctly-rounded division:
        // equals the batch decimal-sum-cast-double cents-exactly
        (col("total_cents").cast("double") / 100).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** x47: the FLAGSHIP taxi-FSM sessionizer run as a stream — the segments
    * fixture replayed chronologically through the file spool into
    * [[StreamingSessionize]] (`flatMapGroupsWithState` over the same
    * [[graft.operators.TaxiFsm.step]] the batch operator drives), then the
    * emitted trips aggregated to q2_daily's exact schema so the COMMITTED
    * GOLDEN that checks the batch FSM checks the streaming twin in the
    * driver's hard signal. x26 gave the gap-sessionizer this treatment;
    * this row closes the gap for the reference's actual flagship pipeline.
    *
    * Flush story: one E-status sentinel per taxi, one hour past the global
    * max event time, spooled WITH the feed (as its latest events they land
    * in the last file). They advance the watermark and close open trips
    * through the FSM's normal gap transition (gap >> 210 s closes at the
    * PREVIOUS point; E opens nothing; emitted set identical to the batch
    * end-of-group flush) — deterministic, with no reliance on the idle
    * timeout, which a finite replay's watermark never crosses. The
    * sentinel frame is DERIVED inside the spool job — distinct taxis
    * crossed with the broadcast 1-row global max — so no taxi list or
    * max-ts value ever materializes on the driver. The memory sink holds
    * only emitted airport trips: output-sized by construction.
    */
  def streamingTaxiDaily(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val positions = TaxiQueries.segmentsToPositions(
        graft.sources.TaxiText.readSegments(spark, s"${TaxiQueries.FixtureDir}/segments.txt"))
      .withColumn("ts", graft.functions.Geo.tsToEpoch(col("tsS")))
      .select(col("taxi"), col("ts"), col("tsS"), col("latS"), col("longS"), col("status"))
    // tsS truncates like the ts-double -> epoch-second path always has
    // (sentinel times are whole hours past a whole-second max in the
    // fixture, so floor == identity there); session timezone is UTC
    // everywhere this library runs (BenchHarness/Verify/tests pin it)
    val bounds = positions.agg(max(col("ts")).as("mts")).where(col("mts").isNotNull)
    val sentinels = positions.select(col("taxi")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("taxi"), (col("mts") + 3600).as("ts"),
        date_format(timestamp_seconds(floor(col("mts") + 3600).cast("long")),
          "yyyy-MM-dd HH:mm:ss").as("tsS"),
        lit("37.70000").as("latS"), lit("-122.40000").as("longS"), lit("E").as("status"))

    val trips = replayToMemory(spark, "x47", positions.unionByName(sentinels), "append",
      tsCol = "ts")(stream =>
      graft.streaming.StreamingSessionize.trips(spark, stream.as[graft.operators.TaxiPosition]))
    TaxiQueries.dailyRevenue(trips.as[graft.operators.TaxiTrip])
  }

  /** x63: streaming SLIDING-window trending — top-3 event types per
    * overlapping 1-hour window sliding every 15 minutes, the "what's
    * trending right now" dashboard aggregate. This is the engine's first
    * OVERLAPPING-window surface (q9/x26 pin tumbling and session windows):
    * each event lands in exactly four windows, and the streaming state
    * holds ~4× the per-window key sets, evicted as the watermark passes
    * each window end. The windowed counts run as a watermarked streaming
    * aggregation in APPEND mode (a window's count emits exactly once, on
    * close — no retraction churn at the sink); one far-future sentinel
    * event advances the watermark past every real window end so the final
    * windows flush through the engine's normal eviction (its own windows
    * never close, so it cannot appear at the sink; the spool aggregate
    * aborts loudly if a real event_type ever collides with the sentinel
    * type). The top-k ranking is a shared batch step applied AFTER window
    * finalization ([[trendingTopK]], also used by the batch twin and the
    * stream≡batch spec), so ranking semantics cannot drift between modes.
    * Deterministic: counts are integers, rank tie-breaks on event_type,
    * and window starts are epoch-aligned integer arithmetic the DuckDB
    * oracle reproduces exactly.
    */
  private val TrendingSentinelType = "__x63_sentinel__"

  /** The windowed-count stage, identical in batch and streaming (the
    * watermark node is eliminated by the analyzer on a batch input).
    */
  private[graft] def trendingCounts(feed: DataFrame): DataFrame =
    feed.select(timestamp_micros(col("us")).as("ts"), col("event_type"))
      .withWatermark("ts", "1 second")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .count()

  /** Shared finalized-counts → top-k step (rank per window by count desc,
    * event_type tie-break).
    */
  private[graft] def trendingTopK(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w_start_us")).orderBy(col("n").desc, col("event_type"))
    counts.select(unix_micros(col("window.start")).as("w_start_us"),
        unix_micros(col("window.end")).as("w_end_us"),
        col("event_type"), col("count").as("n"))
      .filter(col("event_type") =!= TrendingSentinelType)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("w_start_us", "rnk")
  }

  def streamingTrending(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(unix_micros(col("ts")).as("us"), col("event_type"))
    // derived in-plan (no driver probe); collision with the sentinel type
    // aborts the spool instead of silently dropping rows at the sink
    val sentinels = events
      .agg(max(col("us")).as("mx"),
        sum(when(col("event_type") === TrendingSentinelType, 1L).otherwise(0L)).as("bad"))
      .where(col("mx").isNotNull)
      .select(when(col("bad") > 0,
          raise_error(lit("x63 sentinel event_type collides with a real event_type")))
        .otherwise(col("mx") + lit(2L * 3600 * 1000000)).as("us"),
        lit(TrendingSentinelType).as("event_type"))
    trendingTopK(replayToMemory(spark, "x63", events.unionByName(sentinels), "append")(
      trendingCounts))
  }

  /** x106: STREAMING embedding-drift monitor — x98's frozen-centroid ops
    * check run continuously, the live form a production pipeline actually
    * deploys: the model (dominant dim + k centroids + the standing
    * corpus's per-cell occupancy) is trained once in batch
    * ([[graft.operators.KMeans.driftServeModel]]); the incoming batch
    * slice then replays through the file spool as raw vectors and is
    * quantized, dim-gated, and 1-NN-assigned per row by a STATELESS
    * projection over the collected k-row centroid model
    * ([[graft.operators.KMeans.assignCellExpr]] — `least` over (d2, cell)
    * structs, the same tie-break as the batch argmin), so the only
    * stateful operator is the per-cell COUNT (commutative — bit-identical
    * under any arrival order or micro-batch placement). Complete-mode
    * memory sink; the final profile joins the streaming occupancy against
    * the frozen corpus baseline with x98's exact share arithmetic.
    *
    * Stream ≡ batch is the contract: the output equals
    * `x98_kmeans_drift` row-for-row (spec-pinned; the ledger row shares
    * x98's oracle verbatim).
    */
  def streamingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.load(spark, dir, "embeddings")
    val (domSz, cents, corpusCounts) =
      graft.operators.KMeans.driftServeModel(emb)
    val baseline = corpusCounts.ckpt() // read by the join AND the totals
    val feed = emb
      .filter(graft.operators.IncrementalAnn.isNewVec(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
    val batchCounts = replayToMemory(spark, "x106", feed, "complete", tsCol = "vec_id")(
      _.select(expr("transform(cast(embedding as array<double>), " +
          s"x -> cast(floor(x * cast(${graft.operators.KMeans.FixedPointScale} as double)) as double))").as("fv"))
        .filter(size(col("fv")) === domSz) // ragged vectors drop, as in batch
        .select(graft.operators.KMeans.assignCellExpr(col("fv"), cents).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_batch")))
    val counts = baseline.join(batchCounts, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_corpus", "n_batch"))
      .ckpt() // ≤ k rows; read for the totals AND the share projection
    val totals = counts.agg(sum(col("n_corpus")).as("t_corpus"),
      sum(col("n_batch")).as("t_batch"))
    counts.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_corpus"), col("n_batch"),
        (col("n_corpus").cast("double") / col("t_corpus")).as("share_corpus"),
        (col("n_batch").cast("double") / col("t_batch")).as("share_batch"))
      .orderBy("cell")
  }

  /** x118: STREAMING ingest for the incremental production index — the
    * streaming form x115 lacked (every other incremental posture in the
    * repo has one): the per-cycle batch ENCODE run as arriving
    * micro-batches against the frozen broadcast model. Each micro-batch
    * maps through the SAME quantize → dim-gate → home-cell assign →
    * residualize → PQ-encode chain as the batch path
    * ([[graft.operators.IncrementalPq.encodeSlice]] — pure per-vector
    * math, so the codes are independent of file→batch placement), lands
    * idempotently as one overwrite-by-batch-id delta dir (a retried
    * micro-batch rewrites its own dir — the exactly-once posture for
    * file sinks), and carries ZERO streaming state: no watermark, no
    * streaming aggregation, nothing grows with the run — strictly less
    * state than even x106's per-cell count. The merged search then
    * consumes the stream-encoded codes through
    * [[graft.operators.IncrementalPq.searchWithBatchCodes]], so stream
    * and batch share every stage downstream of the encode and the
    * ledger row shares x115's oracle verbatim (the x106 pattern);
    * StreamingSpec pins stream ≡ batch at the CODES level too.
    */
  def streamingIncrementalPq(spark: SparkSession, dir: String): DataFrame = {
    val (coarse, cb, domSz) = graft.operators.IncrementalPq.frozenModel(spark, dir)
    val feed = Tables.load(spark, dir, "embeddings")
      .filter(graft.operators.IncrementalPq.isBatchVec(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
    graft.operators.IncrementalPq.searchWithBatchCodes(spark, dir,
      streamEncodedCodes(spark, None, feed, coarse, cb, domSz))
  }

  /** The stream-encode stage of [[streamingIncrementalPq]], returning
    * the materialized (c_id, ccell, sub, cell) codes — split out so the
    * stream ≡ batch spec can pin the encode itself, not only the
    * search it feeds. A given `spool` is the caller's to delete; `None`
    * runs in runner-allocated scratch.
    */
  private[graft] def streamEncodedCodes(spark: SparkSession, spool: Option[Path],
                                        feed: DataFrame, coarse: DataFrame,
                                        cb: DataFrame, domSz: Int,
                                        durableOut: Option[String] = None): DataFrame = {
    // `durableOut` is the ingest-DAEMON posture: the per-batch delta dirs
    // outlive the run (caller-owned directory) instead of dying with the
    // spool, so a later store boundary can re-bucket them WITHOUT
    // re-running the encode. Same idempotent overwrite-by-batch-id
    // contract either way.
    def outDir(r: Replay) = durableOut.getOrElse(r.dir("codes"))
    replay(spark, "x118", feed, tsCol = "vec_id", spool = spool)(
      (r, stream) => stream.writeStream
        .foreachBatch { (mb: DataFrame, batchId: Long) =>
          graft.operators.IncrementalPq.encodeSlice(mb, coarse, cb, domSz)
            .write.mode("overwrite").parquet(s"${outDir(r)}/b=$batchId")
        }) { r =>
      // Empty-feed guard (r19 ADVICE): zero micro-batches mean no
      // b=<id> dir ever lands and the bare read throws "unable to
      // infer schema" — degrade to an empty codes relation instead,
      // with the schema derived from the SAME encode chain over a
      // zero-row feed, so the shape cannot drift from the real path.
      val out = Paths.get(outDir(r))
      val anyBatch = Files.isDirectory(out) && {
        val s = Files.list(out)
        try s.anyMatch(p => p.getFileName.toString.startsWith("b="))
        finally s.close()
      }
      // durable deltas need no ckpt — the files themselves survive the
      // spool teardown; the scratch path must ckpt before the finally
      // deletes what the plan would lazily re-read
      if (anyBatch) {
        val codes = spark.read.parquet(out.toString).drop("b")
        if (durableOut.isDefined) codes else codes.ckpt()
      } else graft.operators.IncrementalPq.encodeSlice(
        feed.limit(0), coarse, cb, domSz).ckpt()
    }
  }

  /** x120's ingest half: day `day`'s code delta for the incremental
    * index, built BY STREAM — the x118 micro-batch encode (stateless
    * foreachBatch against the frozen broadcast model, idempotent
    * per-batch delta dirs) persisted in [[graft.operators.IncrementalPq
    * .dayCodesStore]]'s exact shape: (c_id, ccell, sub, cell) bucketed
    * by the list key `ccell`, tag keyed by (fixture stamp, geometry),
    * idempotent re-run, stale stamps swept. This is the seam the r19
    * verdict named: x118 proved streaming ENCODE ≡ batch encode but its
    * deltas died with the run, so maintenance still needed a batch
    * re-encode of the day; now the stream's own output is a first-class
    * day generation the x117 compactor consumes unchanged. Returns the
    * table name. The spool is scratch — the codes are checkpointed
    * before it dies, and the STORE is the durable artifact.
    */
  def streamedDayCodesStore(spark: SparkSession, dir: String, day: Int,
                            coarseK: Int = graft.operators.ProductQuantization.CoarseK): String =
    graft.sources.Bucketed.materializedBucketedTable(spark,
      s"pqe${day}_" + graft.sources.DirTag.dirScope(dir) + "_",
      s"pqe${day}_" + graft.sources.DirTag(dir, "embeddings") + s"_k$coarseK",
      "ccell", graft.operators.IncrementalPq.StoreBuckets) {
      val (coarse, cb, domSz) =
        graft.operators.IncrementalPq.frozenModel(spark, dir, coarseK)
      val feed = Tables.load(spark, dir, "embeddings")
        .filter(graft.operators.IncrementalPq.isDayVec(day)(col("vec_id")))
        .select(col("vec_id"), col("embedding"))
      streamEncodedCodes(spark, None, feed, coarse, cb, domSz)
    }

  /** The long-running half of the ingest-DAEMON shape (the r19 advice
    * seam): run the x118 micro-batch encode for day `day` but land the
    * per-batch code deltas under the caller's DURABLE `deltaRoot`
    * (`deltaRoot/day=<day>/b=<batchId>`) instead of run-scoped scratch.
    * In production this process runs all day against the live feed and
    * only its OUTPUT survives; here the feed is the day slice replayed
    * chronologically (the input spool is harness, standing in for the
    * broker — the deltas are the durable artifact, so unlike
    * [[streamedDayCodesStore]] nothing re-reads the day feed at the
    * store boundary). Re-running a day is idempotent: each micro-batch
    * overwrites its own `b=<id>` dir and the batch count is
    * deterministic ([[FeedFiles]] files, one per trigger). Returns the
    * day's delta dir.
    */
  def persistStreamDeltas(spark: SparkSession, dir: String, day: Int,
                          deltaRoot: String,
                          coarseK: Int = graft.operators.ProductQuantization.CoarseK): String = {
    val (coarse, cb, domSz) =
      graft.operators.IncrementalPq.frozenModel(spark, dir, coarseK)
    val feed = Tables.load(spark, dir, "embeddings")
      .filter(graft.operators.IncrementalPq.isDayVec(day)(col("vec_id")))
      .select(col("vec_id"), col("embedding"))
    val out = Paths.get(deltaRoot, s"day=$day")
    streamEncodedCodes(spark, None, feed, coarse, cb, domSz, Some(out.toString))
    out.toString
  }

  /** The store-boundary half of the daemon shape: register day `day`'s
    * bucketed generation DIRECTLY from the persisted stream deltas. The
    * builder reads ONLY `deltaDir` — no model load, no fixture scan, no
    * feed re-spool, no re-encode: the encode cost was paid once while
    * the data arrived, and the nightly boundary pays only the re-bucket
    * into the dayCodesStore shape (this is the half the in-process
    * [[streamedDayCodesStore]] twin compresses into one call for the
    * self-contained ledger row, at the cost of re-running the stream in
    * the builder — the daemon split halves the day's I/O). Content is
    * identical by construction (same encode chain wrote the deltas);
    * the spec pins it against both the spooled twin and the batch day
    * store, and pins that the x117 compactor consumes the delta-fed
    * generation unchanged. Returns the table name.
    */
  def dayCodesStoreFromDeltas(spark: SparkSession, dir: String, day: Int,
                              deltaDir: String,
                              coarseK: Int = graft.operators.ProductQuantization.CoarseK): String =
    graft.sources.Bucketed.materializedBucketedTable(spark,
      s"pqn${day}_" + graft.sources.DirTag.dirScope(dir) + "_",
      s"pqn${day}_" + graft.sources.DirTag(dir, "embeddings") + s"_k$coarseK",
      "ccell", graft.operators.IncrementalPq.StoreBuckets) {
      spark.read.parquet(deltaDir).drop("b")
    }

  /** x120: STREAM-FED multi-day maintenance — the composition closing
    * the r19 verdict's remaining seam ("a production deployment streams
    * all day and compacts at night"): both day deltas arrive through the
    * streaming encode ([[streamedDayCodesStore]]), the x117 compactor
    * merges them with day-0 under the same last-writer rule into one
    * bounded-file generation (variant tag `s`, coexisting with the
    * batch-fed `g` generation), and the search reads the compacted lists
    * with no per-run encode. The days partition the x115 batch slice and
    * stream-encode ≡ batch-encode is micro-batch-placement-independent
    * (x118), so the values equal x115's by construction — the row shares
    * its oracle verbatim, putting ingest-by-stream, compaction and
    * search in ONE hash gate.
    */
  def streamingCompactedPq(spark: SparkSession, dir: String): DataFrame =
    graft.operators.IncrementalPq.compactedAdcTopK(spark, dir,
      dayStore = streamedDayCodesStore, variantTag = "s")
}

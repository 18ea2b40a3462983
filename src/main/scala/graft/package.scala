import org.apache.spark.sql.Dataset

/** Package-level helpers shared by every graft operator. */
package object graft {

  /** Fault-tolerant materialization switch for corpus-scale intermediates.
    *
    * `Dataset.localCheckpoint()` truncates lineage with NO recompute path:
    * the blocks live only in executor storage, so on a real cluster one
    * lost executor kills the job mid-run. That is acceptable on local[32]
    * and fatal at 100 TB. Every corpus-scale materialization in the
    * operators routes through this one switch:
    *
    *  - when a reliable checkpoint location is configured — either
    *    `SparkContext.setCheckpointDir` was called, or the conf key
    *    `spark.graft.checkpoint.dir` is set (we lazily install it as the
    *    context's checkpoint dir) — use reliable `Dataset.checkpoint()`:
    *    blocks land on fault-tolerant storage and lost executors recompute
    *    from there;
    *  - otherwise (local dev, bench) keep `localCheckpoint()`: identical
    *    cut-the-lineage semantics, no distributed-FS round trip.
    *
    * Both paths are eager and return the same rows ([[CheckpointSpec]]
    * pins this). NOTE (r21): under AQE neither path preserves the
    * input's `outputPartitioning` — `Dataset.checkpoint` captures the
    * `AdaptiveSparkPlanExec` root, whose `outputPartitioning` is the
    * `SparkPlan` default `UnknownPartitioning` — so a caller that
    * repartitioned BEFORE checkpointing has silently lost its layout.
    * Callers that rely on a stable keyed layout use [[ckptBy]], which
    * restores the known `HashPartitioning` on the returned `LogicalRDD` —
    * locally only the triangle closer (x82) and the PQ train/encode
    * relations; PageRank and the x18 label loop measured FASTER with
    * plain ckpt + per-round exchange on local[32] (see their comments)
    * and document the cluster-port swap to ckptBy instead.
    *
    * Reliable mode persists the plan around the `checkpoint()` call:
    * eager `Dataset.checkpoint()` on an UNPERSISTED plan computes it
    * twice (the internal count job, then the checkpoint-write job
    * recomputes from scratch — the `RDD.checkpoint` scaladoc's own
    * warning), which would tax every iterative caller (PageRank ×10,
    * dup-cluster rounds, Lloyd ×3) ~2× per round whenever
    * `spark.graft.checkpoint.dir` is set. The checkpoint is taken
    * through a RE-PLANNED twin of the input (`ds.as(ds.encoder)` — a
    * fresh `QueryExecution` over the same logical plan): a caller that
    * already forced `ds.queryExecution.executedPlan` before calling
    * `ckpt` (e.g. a plan-capture probe) has memoized a physical plan
    * that predates the persist and contains no `InMemoryTableScan`, so
    * checkpointing `ds` itself would silently re-enable the
    * double-compute. Re-planning after `persist` guarantees the cache
    * substitution is seen regardless of the caller's planning history.
    * The cache is dropped as soon as the checkpoint files exist —
    * steady-state memory holds only the round in flight.
    */
  def ckpt[T](ds: Dataset[T]): Dataset[T] = {
    // PLAN-AUDIT switch (guide §1/§7.2): `spark.graft.ckpt.disable=true`
    // makes every ckpt an identity so `Profile --explain` can dump the
    // FULL end-to-end plan of a ckpt-heavy operator instead of the
    // post-checkpoint `Scan ExistingRDD` stub (the r21 before-plans
    // gap). Audit-only: with ckpts disabled nothing materializes, so
    // GlobalRank's frozen-block pid contract and every lineage bound is
    // void — never set it for a timed or gated run.
    if (ds.sparkSession.conf.getOption("spark.graft.ckpt.disable").contains("true"))
      return ds
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      ds.sparkSession.conf.getOption("spark.graft.checkpoint.dir")
        .foreach(sc.setCheckpointDir)
    if (sc.getCheckpointDir.isDefined) {
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.as[T](ds.encoder).checkpoint()
      finally ds.unpersist(blocking = false)
    } else ds.localCheckpoint()
  }

  /** Materialize `ds` hash-partitioned by `cols` into `n` parts AND keep
    * that layout visible to the planner: `repartition(n, cols)` → [[ckpt]]
    * → rewrap the returned `LogicalRDD` with the true `HashPartitioning`
    * (see [[org.apache.spark.sql.graft.Bridge.withKnownHashPartitioning]]
    * for why ckpt alone loses it under AQE). Downstream joins/aggregates
    * keyed on `cols` then reuse the layout instead of re-exchanging —
    * the iteration-invariant-side idiom of every loop operator. The
    * claimed layout is guaranteed true because the checkpoint sits
    * immediately above the user-specified repartition, which AQE never
    * rewrites.
    */
  def ckptBy(ds: Dataset[_], n: Int, cols: String*): org.apache.spark.sql.DataFrame = {
    val df = ds.toDF()
    org.apache.spark.sql.graft.Bridge.withKnownHashPartitioning(
      ckpt(df.repartition(n, cols.map(df.col): _*)), cols, n)
  }

  /** SCALE-ADAPTIVE spread of an UNDER-PARALLEL scan across every core,
    * hashed by `cols` — the single definition behind the "spread before
    * the CPU-heavy derivation" idiom (shingling, gram building, BPE
    * encode, bigram explode: guide §2.5's small-bytes ≠ small-CPU class).
    * Locally a single-file scan is ONE partition and the kernel work
    * serializes onto one core; at 100 TB the scan is already thousands
    * of splits and an unconditional repartition would re-shuffle the
    * full corpus for nothing — so the repartition fires ONLY when the
    * input is narrower than the core count (the KMeans.quantizedPts
    * guard, applied uniformly — r21 VERDICT item 3).
    *
    * PRECONDITION (the quantizedPts contract): `ds` must be a
    * scan/filter/project/union subtree or an already-materialized
    * LogicalRDD — `.rdd` on a plan CONTAINING exchanges executes those
    * stages eagerly under AQE. Checked before the `.rdd` call: a plan
    * with a node that plans an exchange fails the `require`, naming it.
    */
  def spreadNarrow(ds: Dataset[_],
                   cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CoGroup, Deduplicate,
      DeduplicateWithinWatermark, Distinct, Except, GlobalLimit, Intersect, Join, Offset,
      RebalancePartitions, RepartitionOperation, Sort, Window}
    val df = ds.toDF()
    val exchange = org.apache.spark.sql.graft.Bridge.planOf(df).collectFirst {
      case p @ (_: Aggregate | _: Join | _: Window | _: RepartitionOperation |
                _: RebalancePartitions | _: Distinct | _: Deduplicate |
                _: DeduplicateWithinWatermark | _: GlobalLimit | _: Offset |
                _: Intersect | _: Except | _: CoGroup) => p
      case s: Sort if s.global => s
    }
    require(exchange.isEmpty,
      s"spreadNarrow: input plan contains ${exchange.map(_.nodeName).orNull}, which " +
        "plans an exchange that `.rdd` would run eagerly — pass a scan/filter/project " +
        "subtree or ckpt the input first")
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par, cols: _*) else df
  }

  /** Width for the EXPLICIT exchanges the operators plant mid-plan
    * (ckptBy layouts, the anti-AQE-coalesce repartitions before
    * CPU-heavy aggregates, the sessionizer's required distribution):
    * the session's shuffle width, floored at the core count. The width is
    * the planner's typed `numShufflePartitions`, never a parse of the
    * string conf, which some platforms set to "auto". Locally both are
    * the core count, so the bench is unchanged; on a cluster
    * `spark.sql.shuffle.partitions` is sized to the data (thousands), so these exchanges scale with the deployment
    * instead of collapsing a corpus onto one-partition-per-core
    * (r21 VERDICT item 3 — no fixed local width survives at 100 TB).
    */
  def spreadWidth(spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.numShufflePartitions)

  /** `.ckpt()` postfix form of [[ckpt]] — in scope throughout `graft.*`
    * via this enclosing package object.
    */
  implicit class CkptOps[T](private val ds: Dataset[T]) extends AnyVal {
    def ckpt(): Dataset[T] = graft.ckpt(ds)
    def ckptBy(n: Int, cols: String*): org.apache.spark.sql.DataFrame =
      graft.ckptBy(ds, n, cols: _*)
    def spreadNarrow(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.DataFrame =
      graft.spreadNarrow(ds, cols: _*)
  }
}

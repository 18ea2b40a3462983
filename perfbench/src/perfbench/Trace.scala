package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval: a pass, an item (row or pipeline prefix), its
  * build or consume call, or a Spark job. `parent` is the enclosing
  * span's id (0 for a pass); times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, run: String, name: String, kind: String,
                      start: Double, end: Double)

/** Spans opened by the benchmark around its calls into the program. The
  * innermost open span's id is set as the `perfbench.span` local property
  * of the calling thread, so every job it submits (and every job of a
  * streaming query it starts, whose thread inherits the property) carries
  * its owner: job spans land under the build or consume that ran them.
  */
final class Spans(run: String, sc: SparkContext) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val open = mutable.Stack[Int]()
  private var nextId = 1
  val done: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  /** Off on untraced passes, whose timings must not pay for the spans. */
  @volatile var enabled = false

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def around[T](name: String, kind: String)(body: => T): T = if (!enabled) body else {
    val (id, t0) = synchronized {
      val id = nextId; nextId += 1
      open.push(id)
      (id, now())
    }
    sc.setLocalProperty(Spans.Key, id.toString)
    try body
    finally synchronized {
      open.pop()
      val parent = open.headOption.getOrElse(0)
      done += Span(id, parent, run, name, kind, t0, now())
      sc.setLocalProperty(Spans.Key, open.headOption.map(_.toString).orNull)
    }
  }

  def job(parent: Int, name: String, start: Double, end: Double): Unit = synchronized {
    done += Span(nextId, parent, run, name, "job", start, end); nextId += 1
  }
}

object Spans {
  val Key = "perfbench.span"

  /** The span that submitted a job, from the job's local properties. */
  def owner(e: SparkListenerJobStart): Int =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).fold(0)(_.toInt)
}

/** Counters of one traced pass, fed by the task and plan listeners below. */
final class Counters {
  var jobs, stages, tasks, singleTaskStages, failedTasks = 0L
  var taskMs, cpuNs, waitMs, shuffleWriteB, shuffleReadB, spillB, gcMs = 0L
  var ckptJobs, ckptMs, planMs = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()
  val jobStages: mutable.Map[Int, Seq[Int]] = mutable.Map()
  val jobOwner: mutable.Map[Int, Int] = mutable.Map()
}

/** Task, stage and job counters plus job spans. Eager `graft.ckpt`
  * materializations are recognised by their job call site
  * (`localCheckpoint at …`/`checkpoint at …`).
  */
final class TaskRecorder(spans: Spans) extends SparkListener {
  val c = new Counters
  private val jobStart = mutable.Map[Int, (Double, String, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val owner = Spans.owner(e)
    jobStart(e.jobId) = (e.time.toDouble, site, owner)
    c.jobStages(e.jobId) = e.stageIds
    c.jobOwner(e.jobId) = owner
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site, parent) =>
      val ms = (e.time - t0).toLong
      if (site.startsWith("localCheckpoint at") || site.startsWith("checkpoint at")) {
        c.ckptJobs += 1; c.ckptMs += ms
      }
      spans.job(parent, site, t0, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
    c.stages += 1
    if (e.stageInfo.numTasks == 1) c.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
    val info = e.taskInfo
    c.tasks += 1
    if (!info.successful) c.failedTasks += 1
    c.taskMs += info.duration
    c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.waitMs += math.max(0L, info.duration - m.executorRunTime - m.resultSerializationTime -
        info.gettingResultTime) // scheduler delay plus deserialization
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }
}

/** Catalyst analysis + optimization + planning time of every executed
  * query, from its `QueryPlanningTracker`.
  */
final class PlanRecorder(c: Counters) extends QueryExecutionListener {
  private def add(qe: QueryExecution): Unit = c.synchronized {
    c.planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Micro-batch phases from streaming progress events. Installed on every
  * pass: one callback per micro-batch is the only way to see batch
  * latency, and it costs nothing next to a batch.
  */
final class BatchRecorder extends StreamingQueryListener {
  val triggerMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer()
  var commitMs, walMs, planMs, addBatchMs = 0L
  /** Largest state (rows, bytes) each streaming query reached. */
  val state: mutable.Map[java.util.UUID, (Long, Long)] = mutable.Map()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    if (p.durationMs.containsKey("addBatch")) {
      triggerMs += d("triggerExecution")
      commitMs += p.stateOperators.map(_.commitTimeMs).sum
      walMs += d("walCommit") + d("commitOffsets")
      planMs += d("queryPlanning")
      addBatchMs += d("addBatch")
      val (rows, bytes) = state.getOrElse(p.id, (0L, 0L))
      state(p.id) = (math.max(rows, p.stateOperators.map(_.numRowsTotal).sum),
        math.max(bytes, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def reset(): Unit = synchronized {
    triggerMs.clear(); state.clear(); commitMs = 0; walMs = 0; planMs = 0; addBatchMs = 0
  }
}

object Trace {

  /** Run `body` with the task and plan listeners installed; drains the
    * listener bus before removing them so the counters are complete.
    */
  def traced[T](spark: SparkSession, spans: Spans)(body: => T): (T, Counters) = {
    val tasks = new TaskRecorder(spans)
    val plans = new PlanRecorder(tasks.c)
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    try {
      val r = body
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      (r, tasks.c)
    } finally {
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(tasks)
    }
  }
}

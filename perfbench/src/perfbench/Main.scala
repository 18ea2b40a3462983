package perfbench

import graft.{BenchHarness, SparkEntry}
import graft.operators.TaxiTrip
import graft.queries.{Relational, TaxiQueries}
import graft.sources.TaxiText
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** JVM side of the benchmark (perfbench/run.py drives it and does the
  * statistics). Arguments are `key=value` pairs:
  *
  *  - `mode=run`: set up the session once (timed from process spawn), run
  *    one cold pass and one untimed warm pass whose outputs are digested,
  *    then timed passes until `seconds` have passed; with `trace=1` every
  *    other timed pass runs with the listeners installed. Writes raw
  *    timings to `out` and spans to `spans`.
  *  - `mode=refs`: digest each row's dump under `dump` (a `graft.Verify`
  *    output) into `out`.
  */
object Main {

  /** A unit of timed work: build the frame (the row function, including
    * any eager jobs it runs), then consume it. `digest` replaces the
    * consumer in the cold and warm passes for outputs that are checked.
    */
  final case class Item(name: String, build: SparkSession => Dataset[_],
                        digest: Option[Dataset[_] => Digest.Value])

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    a("mode") match {
      case "run" => run(a)
      case "refs" => refs(a)
    }
  }

  private def warmup(spark: SparkSession, fixture: String): Unit =
    Relational.q4JoinAgg(spark, fixture).count()

  private def ledgerItems(rows: Seq[String], data: String): Seq[Item] = {
    val all = SparkEntry.queries
    rows.map(r => Item(r, s => all(r)(s, data), Some(ds => Digest.frame(ds.toDF()))))
  }

  private def taxiItems(segments: String, trips: String): Seq[Item] = {
    def read(s: SparkSession) = TaxiText.readSegments(s, segments)
    def reconstruct(s: SparkSession) = TaxiQueries.reconstructTrips(s, read(s))
    def line(ds: Dataset[_], c: org.apache.spark.sql.Column) = Digest.lines(ds.toDF().select(c))
    Seq(
      Item("read", read, None),
      Item("positions", s => TaxiQueries.segmentsToPositions(read(s)), None),
      Item("trips", reconstruct, Some(ds =>
        Digest.lines(TaxiQueries.formatTrips(ds.asInstanceOf[Dataset[TaxiTrip]])))),
      Item("daily", s => TaxiQueries.dailyRevenue(reconstruct(s)), Some(ds =>
        line(ds, concat_ws("\t", col("date"), format_string("%.2f", col("daily_revenue")))))),
      Item("total", s => TaxiQueries.totalRevenue(TaxiQueries.dailyRevenue(reconstruct(s))), Some(ds =>
        line(ds, format_string("%.2f", col("total_revenue"))))),
      Item("q1", s => TaxiQueries.q1(s, trips), Some(ds =>
        line(ds, concat_ws("\t", col("bin"), col("n").cast("string"))))))
  }

  /** Heap use while `sampling` is set: the peak of 5 ms samples of used
    * heap.
    */
  private final class HeapSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile var sampling = false
    @volatile var done = false
    @volatile var peak = 0L
    private val mem = ManagementFactory.getMemoryMXBean
    override def run(): Unit = while (!done) {
      if (sampling) peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
      Thread.sleep(5)
    }
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val fixture = a("fixture")
    val items =
      if (workload == "taxi_scale") taxiItems(a("segments"), a("trips"))
      else ledgerItems(a("rows").split(",").toSeq, a("data"))
    val out = mutable.LinkedHashMap[String, Any]()

    // set-up, timed from process spawn: JVM start, class loading, the
    // session with its extensions and the warm-up query
    val spark = BenchHarness.session("perfbench")
    warmup(spark, fixture)
    val ready = java.time.Instant.now()
    out("setup_s") = (ready.getEpochSecond * 1000000000L + ready.getNano - a("spawn_ns").toLong) / 1e9
    val spans = new Spans(s"$workload-${a("seed")}", spark.sparkContext)
    val batches = new BatchRecorder
    spark.streams.addListener(batches)

    // a pass in which every checked output is consumed through its digest
    def checkedPass(): Seq[J.Obj] = items.map { it =>
      val t0 = System.nanoTime()
      try {
        val ds = it.build(spark)
        val t1 = System.nanoTime()
        val d = it.digest.map(_(ds))
        if (d.isEmpty) BenchHarness.consume(ds.toDF())
        val t2 = System.nanoTime()
        J.obj("name" -> it.name, "build_s" -> secs(t0, t1), "exec_s" -> secs(t1, t2),
          "digest" -> d.map(v => J.obj("rows" -> v.rows, "sum" -> v.sum, "cols" -> v.cols)).orNull)
      } catch {
        case e: Throwable => J.obj("name" -> it.name, "error" -> e.toString.take(300))
      }
    }
    out("cold") = checkedPass()
    if (workload == "taxi_scale") {
      // accepted positions ÷ segment halves, counted outside any timing
      val seg = TaxiText.readSegments(spark, a("segments"))
      out("halves") = 2 * seg.count()
      out("positions") = TaxiQueries.segmentsToPositions(seg).count()
    }

    // one untimed pass past the steepest part of the JIT warm-up, so the
    // timed passes measure a steadier engine; its outputs are digested too,
    // which checks the path that reuses what the cold pass cached
    out("warm") = checkedPass()

    val heap = new HeapSampler
    heap.start()
    val trace = a("trace") == "1"
    val passes = mutable.ArrayBuffer[Any]()
    val tEnd = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var p = 0
    while (p < (if (trace) 2 else 1) || System.nanoTime() < tEnd) {
      val traced = trace && p % 2 == 1
      batches.reset()
      spans.enabled = traced
      System.gc()
      heap.sampling = true
      def pass(): (Double, Seq[Any]) = spans.around(s"pass$p", "pass") {
        val t0 = System.nanoTime()
        val rows = items.map { it =>
          spans.around(it.name, "item") {
            val r0 = System.nanoTime()
            try {
              val ds = spans.around(it.name, "build")(it.build(spark))
              val r1 = System.nanoTime()
              spans.around(it.name, "consume")(BenchHarness.consume(ds.toDF()))
              J.obj("name" -> it.name, "build_s" -> secs(r0, r1), "exec_s" -> secs(r1, System.nanoTime()))
            } catch {
              case e: Throwable => J.obj("name" -> it.name, "error" -> e.toString.take(300))
            }
          }
        }
        (secs(t0, System.nanoTime()), rows)
      }
      val rec = mutable.LinkedHashMap[String, Any]("traced" -> traced)
      val (wall, rows) =
        if (!traced) pass()
        else {
          val (r, c) = Trace.traced(spark, spans)(pass())
          val owned = c.jobOwner.groupBy(_._2).map { case (span, js) => span -> js.keys.toSeq }
          val itemSkew = spans.done.filter(s => s.kind == "consume" && owned.contains(s.id)).map { s =>
            // the stage with the most task time in this consume, max ÷ median task
            val stages = owned(s.id).flatMap(c.jobStages.getOrElse(_, Nil)).flatMap(c.stageTaskMs.get)
            val skew = if (stages.isEmpty) 1.0 else {
              val ts = stages.maxBy(_.sum).sorted
              ts.last.toDouble / math.max(1L, ts(ts.size / 2))
            }
            s.name -> skew
          }.toMap
          rec("counters") = J.obj(
            "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
            "single_task_stages" -> c.singleTaskStages, "failed_tasks" -> c.failedTasks,
            "task_ms" -> c.taskMs, "cpu_ns" -> c.cpuNs, "wait_ms" -> c.waitMs,
            "shuffle_write_b" -> c.shuffleWriteB, "shuffle_read_b" -> c.shuffleReadB,
            "spill_b" -> c.spillB, "gc_ms" -> c.gcMs, "ckpt_jobs" -> c.ckptJobs, "ckpt_ms" -> c.ckptMs,
            "plan_ms" -> c.planMs, "skew" -> itemSkew)
          r
        }
      heap.sampling = false
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      batches.synchronized {
        rec("batches") = J.obj("trigger_ms" -> batches.triggerMs.toSeq, "commit_ms" -> batches.commitMs,
          "wal_ms" -> batches.walMs, "plan_ms" -> batches.planMs, "add_batch_ms" -> batches.addBatchMs,
          "state_rows" -> batches.state.values.map(_._1).sum,
          "state_bytes" -> batches.state.values.map(_._2).sum)
      }
      rec("wall_s") = wall
      rec("items") = rows
      passes += J.obj(rec.toSeq: _*)
      p += 1
    }
    heap.done = true
    out("passes") = passes.toSeq
    out("peak_sampled_mb") = heap.peak / 1048576.0
    out("stamp") = J.obj(
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"), "master" -> spark.sparkContext.master)
    spark.stop()

    Files.writeString(Paths.get(a("out")), J.render(J.obj(out.toSeq: _*)))
    Files.writeString(Paths.get(a("spans")), spans.done.map { s =>
      J.render(J.obj("id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "kind" -> s.kind, "start" -> s.start, "end" -> s.end))
    }.mkString("", "\n", "\n"))
  }

  private def refs(a: Map[String, String]): Unit = {
    val spark = BenchHarness.session("perfbench-refs")
    val dump = a("dump")
    val entries = a("rows").split(",").toSeq.map { r =>
      val v = Digest.frame(spark.read.parquet(s"$dump/$r"))
      r -> J.obj("rows" -> v.rows, "sum" -> v.sum, "cols" -> v.cols)
    }
    Files.writeString(Paths.get(a("out")), J.render(J.obj(entries: _*)))
    spark.stop()
  }
}

/** Minimal JSON writer for the raw record (maps keep insertion order). */
object J {
  final case class Obj(kvs: Seq[(String, Any)])

  def obj(kvs: (String, Any)*): Obj = Obj(kvs)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(kvs) => kvs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

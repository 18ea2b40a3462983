package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Ad-hoc per-query profiler: runs the named SparkEntry rows [[Reps]]
  * times each (same session config, warmup, and value-consuming evaluation
  * as [[Bench]], via [[BenchHarness]]) and prints every timing, so
  * regressions can be separated from JIT/ordering noise that a min-of-N
  * hides. Usage:
  *   sbt "runMain graft.Profile q10_json_extract x9_text_langid"
  * `--explain` prints each row's formatted physical plan instead;
  * `--stages` runs one cold pass over the named rows, then one
  * instrumented warm pass, and prints per row its slowest stages, the
  * generated classes compiled with their Janino ms, and the count of
  * [[Tables]]' schema-inference jobs, cold and warm. A warm row that
  * compiles or infers is re-paying a fixed cost a cache should hold.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object Profile {

  /** Timed runs per row in the default mode. */
  private val Reps = 5

  /** `--stages` collector: per-stage wall, task time and shuffle bytes,
    * plus the count of schema-inference jobs ([[Tables]]' `parquet` call
    * site). A stage's name is the call site Spark recorded for it; most
    * stages that AQE submits are named
    * `$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768`,
    * the frame of the asynchronous submission, not the engine's call site,
    * so only the other stages can be attributed by name.
    */
  private final class StageLog extends org.apache.spark.scheduler.SparkListener {
    final case class Row(id: Int, name: String, wallMs: Long, taskMs: Long,
                         shReadB: Long, shWriteB: Long, tasks: Int)
    val rows = new scala.collection.concurrent.TrieMap[Int, Row]()
    val tablesJobs = new java.util.concurrent.atomic.AtomicInteger()
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (e.stageInfos.exists(_.name.startsWith("parquet at Tables.scala"))) tablesJobs.incrementAndGet()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(0L)
      val tm = si.taskMetrics
      rows(si.stageId) = Row(si.stageId, si.name.linesIterator.next(), wall,
        tm.executorRunTime,
        tm.shuffleReadMetrics.localBytesRead + tm.shuffleReadMetrics.remoteBytesRead,
        tm.shuffleWriteMetrics.bytesWritten, si.numTasks)
    }
    def report(): Unit = {
      val all = rows.values.toSeq.sortBy(-_.wallMs)
      val totW = all.map(_.wallMs).sum
      println(f"[stages] ${all.size} stages, sum-of-stage-wall ${totW / 1e3}%.2f s")
      all.take(40).foreach { r =>
        println(f"[stages] ${r.wallMs}%6d ms wall ${r.taskMs}%7d ms task ${r.tasks}%4d t " +
          f"shR ${r.shReadB / 1024}%8d KiB shW ${r.shWriteB / 1024}%8d KiB  s${r.id}%-5d ${r.name.take(110)}")
      }
    }
  }

  /** One instrumented run: wall seconds, its stages, and the generated
    * classes it compiled (`CodegenMetrics`) with their Janino compile ms.
    * The codegen counters are JVM-wide, which in local mode includes
    * every task.
    */
  private final case class Pass(sec: Double, log: StageLog, classes: Long, compileMs: Double)

  private def measure(spark: SparkSession)(body: => Unit): Pass = {
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val (n0, ns0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    // listener bus is async; let the tail events drain
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(log)
    Pass(sec, log, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      (CodeGenerator.compileTime - ns0) / 1e6)
  }

  private def summary(ps: Seq[Pass]): String =
    f"${ps.map(_.classes).sum} classes ${ps.map(_.compileMs).sum}%.0f ms compile, " +
      s"${ps.map(_.log.tablesJobs.get).sum} parquet-at-Tables jobs"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // --explain: dump each query's formatted physical plan instead of
    // timing it — the plan-audit loop (pushdown reached the scan?
    // exchanges where expected? codegen spans wide?). An arg, not a
    // -D flag: sbt runMain forks, so sbt-side system properties never
    // reach this JVM.
    val explainFlag = args.contains("--explain")
    val stagesFlag = args.contains("--stages")
    // --no-ckpt (with --explain): disable every graft.ckpt so the dump
    // shows the full end-to-end plan instead of post-checkpoint stubs.
    // Plan-audit only — see the switch's scaladoc in graft.ckpt.
    val noCkptFlag = args.contains("--no-ckpt")
    require(!noCkptFlag || explainFlag,
      "--no-ckpt is plan-audit only (it voids GlobalRank's frozen-block contract); pass --explain")
    val qArgs = args.toSeq.filterNot(a =>
      a == "--explain" || a == "--stages" || a == "--no-ckpt")
    val rows = if (qArgs.nonEmpty) SparkEntry.select(qArgs) else SparkEntry.rows.sortBy(_.name)

    val spark = BenchHarness.session("graft-profile")
    BenchHarness.warmup(spark)
    if (noCkptFlag) spark.conf.set("spark.graft.ckpt.disable", "true")
    def run(row: SparkEntry.Row): Unit = BenchHarness.consume(row.run(spark, sfDir))
    if (explainFlag) rows.foreach { row =>
      println(s"===== ${row.name} =====")
      row.run(spark, sfDir).explain("formatted")
    } else if (stagesFlag) {
      // a cold pass over EVERY named row, then one instrumented warm
      // pass: a warm row that recompiles shows the codegen cache losing
      // its kernels to the rows in between, and a warm schema-inference
      // job shows a Tables cache miss
      val cold = rows.map(r => measure(spark)(run(r)))
      val warm = rows.map(r => measure(spark)(run(r)))
      rows.lazyZip(cold).lazyZip(warm).foreach { (row, c, w) =>
        println(f"===== ${row.name}: ${w.sec}%.3f s =====")
        println(s"[codegen] cold ${summary(Seq(c))}; warm ${summary(Seq(w))}")
        w.log.report()
      }
      println(s"[codegen] ${rows.size} rows: cold ${summary(cold)}; warm ${summary(warm)}")
    } else rows.foreach { row =>
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        run(row)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] ${row.name}%-24s ${times.map(t => f"$t%.3f").mkString(" ")}")
    }
    spark.stop()
  }
}

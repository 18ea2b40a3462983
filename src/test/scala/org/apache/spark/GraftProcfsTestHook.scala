package org.apache.spark

/** Test-only: Spark's executor-metrics getter forks `getconf PAGESIZE`
  * once per JVM, when it is first touched (the first executor heartbeat,
  * seconds after start-up). [[graft.ForklessFsSpec]] touches it before
  * it records, so it counts only the processes its own calls start.
  * Test classpath only.
  */
object GraftProcfsTestHook {
  def init(): Unit = executor.ProcfsMetricsGetter.pTreeInfo
}

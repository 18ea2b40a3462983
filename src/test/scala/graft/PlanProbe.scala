package graft

/** Scratch plan inspector for builder-side iteration (test scope, not
  * shipped): prints the optimized + physical plan of named queries.
  * Usage: Test/runMain graft.PlanProbe q33_grouping_sets q34_range_frame
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSpec.spark
    val dir = "/root/testdata/sf0.001"
    SparkEntry.select(args.toSeq).foreach { row =>
      val (name, df) = (row.name, row.run(spark, dir))
      println(s"\n===== $name OPTIMIZED =====")
      println(df.queryExecution.optimizedPlan.toString.take(4000))
      println(s"===== $name PHYSICAL =====")
      println(df.queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}

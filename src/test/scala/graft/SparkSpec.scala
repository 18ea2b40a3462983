package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse")
    wh.toFile.deleteOnExit()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh.toString) // static conf: set at build time
      // the mains' static settings: extensions, codegen cache, class
      // loader and local filesystem
      .config(BenchHarness.SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

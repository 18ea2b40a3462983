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
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.toString) // static conf: set at build time
      .config("spark.ui.enabled", "false")
      // static conf: the mains' codegen cache (BenchHarness), so a warm
      // pass here hits the compiled classes the way it does there
      .config("spark.sql.codegen.cache.maxEntries", BenchHarness.CodegenCacheEntries.toLong)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

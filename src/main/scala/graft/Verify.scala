package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each [[SparkEntry.rows]] result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** `sql` as one JSON object. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in an oracle string would otherwise make
    * the driver's json.load fail and drop every row's comparison.
    */
  def oracleJson(sql: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated row-name subset (builder-side
    // iteration only — the driver always calls with 2 args = full sweep)
    val (sfDir, outDir, rows) = args match {
      case Array(s, o)      => (s, o, SparkEntry.rows)
      case Array(s, o, sub) => (s, o, SparkEntry.select(sub.split(",").toSeq))
    }
    // SPARK_GRAFT_CKPT_DIR flips every graft.ckpt call to RELIABLE
    // checkpointing for the whole sweep — the cluster-durability posture
    // proven at ledger scale, not just CheckpointSpec's toy plan.
    val spark = BenchHarness.session("graft-verify", defaultCpus = 4)
    sys.env.get("SPARK_GRAFT_CKPT_DIR").foreach(spark.conf.set("spark.graft.checkpoint.dir", _))
    new java.io.File(outDir).mkdirs()
    rows.foreach { r =>
      try r.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${r.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${r.name} failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}

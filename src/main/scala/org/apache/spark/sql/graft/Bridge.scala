package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Minimal private[sql] bridge (the standard Spark-extension pattern, cf.
  * Sedona/Delta living under org.apache.spark.sql.*): construct a DataFrame
  * from a custom LogicalPlan or an `RDD[InternalRow]`, expose the logical
  * plan of a DataFrame.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Restore a KNOWN hash layout on a checkpointed relation.
    *
    * `Dataset.checkpoint`/`localCheckpoint` try to carry the physical
    * plan's `outputPartitioning` into the `LogicalRDD` they return, but
    * under AQE the captured root is an `AdaptiveSparkPlanExec`, whose
    * `outputPartitioning` is `SparkPlan`'s default `UnknownPartitioning`
    * — so a `repartition(n, cols).checkpoint()` silently loses its
    * layout and every downstream join/aggregate on those keys pays a
    * fresh exchange (measured in r21: PageRank re-shuffled its whole
    * edge relation every one of its ten iterations). The caller
    * GUARANTEES the wrapped RDD really is hash-partitioned by `cols`
    * into `n` parts — true whenever the checkpoint was taken immediately
    * above a user-specified `repartition(n, cols)`, which AQE never
    * rewrites. We rewrap the `LogicalRDD` with that `HashPartitioning`,
    * preserving the origin statistics and constraints.
    *
    * Any other input throws, naming its plan node: a relation that is
    * not a checkpointed `LogicalRDD` cannot carry the stamp, and
    * returning it unstamped would silently re-exchange every downstream
    * consumer. The one exception is the plan-audit mode
    * (`spark.graft.ckpt.disable=true`), where [[graft.ckpt]] is an
    * identity and the input is returned unchanged.
    */
  def withKnownHashPartitioning(df: DataFrame, cols: Seq[String], n: Int): DataFrame =
    planOf(df) match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        // Cheap invariant check (r21 ADVICE): the claim is caller-promised,
        // and a stamped layout that is WRONG silently returns wrong rows
        // from every downstream exchange-free join. Partition count is the
        // one component of the promise observable here for free (the RDD
        // is already materialized by ckpt) — a diverged ckpt mode or a
        // Spark version that re-partitions under checkpoint fails loudly.
        require(lr.rdd.getNumPartitions == n,
          s"withKnownHashPartitioning: claimed $n partitions but the " +
            s"checkpointed RDD has ${lr.rdd.getNumPartitions} — the " +
            "HashPartitioning promise would be false; only call this on " +
            s"a relation checkpointed immediately above repartition($n, $cols)")
        val attrs = cols.map(c => lr.output.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"withKnownHashPartitioning: no column '$c' in ${lr.output.map(_.name)}")))
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, n)
        // re-seed origin stats/constraints from the public accessors
        // (lr.stats resolves to the origin stats when present)
        ofRows(df.sparkSession, lr.copy(outputPartitioning = part)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(lr.stats), Some(lr.constraints)))
      case _ if df.sparkSession.conf.getOption("spark.graft.ckpt.disable").contains("true") =>
        df
      case other =>
        throw new IllegalArgumentException(
          s"withKnownHashPartitioning: expected a checkpointed LogicalRDD, got " +
            s"${other.nodeName} — only call this on a relation checkpointed " +
            s"immediately above repartition($n, $cols)")
    }
}

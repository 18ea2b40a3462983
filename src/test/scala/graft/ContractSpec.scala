package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Layout and spread contracts that are checked in code: a broken one
  * must throw, never degrade silently.
  */
class ContractSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("withKnownHashPartitioning throws on a relation that is not checkpointed") {
    val df = spark.range(8).toDF().repartition(4, col("id"))
    val e = intercept[IllegalArgumentException](
      Bridge.withKnownHashPartitioning(df, Seq("id"), 4))
    assert(e.getMessage.contains("RepartitionByExpression"), e.getMessage)
  }

  test("ckptBy stamps the hash layout; the plan-audit switch passes the input through") {
    Bridge.planOf(spark.range(8).ckptBy(4, "id")) match {
      case lr: LogicalRDD =>
        assert(lr.outputPartitioning.asInstanceOf[HashPartitioning].numPartitions == 4)
      case other => fail(s"ckptBy returned ${other.nodeName}")
    }
    spark.conf.set("spark.graft.ckpt.disable", "true")
    try {
      val df = spark.range(8).toDF().repartition(4, col("id"))
      assert(Bridge.withKnownHashPartitioning(df, Seq("id"), 4) eq df)
    } finally spark.conf.unset("spark.graft.ckpt.disable")
  }

  test("spreadNarrow rejects an input whose plan contains an exchange") {
    val docs = Tables.load(spark, sf, "documents")
    val e = intercept[IllegalArgumentException](
      graft.spreadNarrow(docs.groupBy("source").count(), col("source")))
    assert(e.getMessage.contains("Aggregate"), e.getMessage)
  }

  test("spreadNarrow accepts scans, filters, projections, unions and ckpt'd relations") {
    val docs = Tables.load(spark, sf, "documents")
    val n = docs.count()
    val scanOnly = docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")))
    assert(graft.spreadNarrow(scanOnly, col("doc_id")).count() == n)
    val agg = docs.groupBy("source").count()
    assert(graft.spreadNarrow(agg.ckpt(), col("source")).count() == agg.count())
  }
}

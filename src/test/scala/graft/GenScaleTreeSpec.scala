package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[GenScaleTree]] is the one k× replica generator: every scale run
  * (Verify/Profile on a k× tree, `AnnSizingSpec`'s corpus growth) reads
  * what `expandTable` writes. These tests pin the replica-disjoint
  * properties its scaladoc promises, at k = 3 over sf0.001.
  */
class GenScaleTreeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"
  private val K = 3

  private def base(name: String): DataFrame = Tables.load(spark, sf, name)
  private def scaled(name: String): DataFrame = GenScaleTree.expandTable(spark, sf, name, K)

  test("rotationOf: pairwise-distinct non-identity rotations for every admissible replica") {
    Seq(64, 7).foreach { dim =>
      val rots = (1 to dim - 2).map(GenScaleTree.rotationOf(_, dim))
      assert(rots.distinct.size == rots.size, s"dim $dim: colliding rotations $rots")
      assert(rots.forall(r => r >= 1 && r <= dim - 2), s"dim $dim: rotation out of range $rots")
    }
  }

  test("expandTable: facts grow k-fold, dimensions stay fixed") {
    Seq("lineitem", "orders", "events").foreach { t =>
      assert(scaled(t).count() == K * base(t).count(), t)
    }
    Seq("region", "nation").foreach { t =>
      val (b, s) = (base(t), scaled(t))
      assert(s.count() == b.count(), t)
      assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty, s"$t changed")
    }
  }

  test("expandTable: keys stay unique and joins replicate exactly k-fold") {
    val orders = scaled("orders")
    assert(orders.select("o_orderkey").distinct().count() == orders.count(),
      "o_orderkey not unique after expansion")
    def matches(li: DataFrame, o: DataFrame): Long =
      li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val baseMatches = matches(base("lineitem"), base("orders"))
    assert(baseMatches > 0)
    assert(matches(scaled("lineitem"), orders) == K * baseMatches)
  }

  test("expandTable: embeddings beyond dim-1 replicas fail the require") {
    val dim = base("embeddings").select(min(size(col("embedding")))).head().getInt(0)
    assert(dim >= 2)
    val e = intercept[IllegalArgumentException](
      GenScaleTree.expandTable(spark, sf, "embeddings", dim))
    assert(e.getMessage.contains(s"k=$dim"))
  }
}

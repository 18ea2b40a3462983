package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The row registry's own contracts and the oracle file Verify writes from
  * it; no Spark session needed.
  */
class RegistrySpec extends AnyFunSuite {
  private def row(name: String, sql: => String = "SELECT 1") =
    SparkEntry.Row(name, (_, _) => throw new UnsupportedOperationException(name), sql)

  test("building the registry fails naming every repeated row name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(row("a"), row("b"), row("a"), row("c"), row("b")))
    assert(e.getMessage.contains("duplicate row names: a, b"), e.getMessage)
  }

  test("building the registry reads no oracle") {
    val rs = SparkEntry.registry(row("a", throw new java.io.FileNotFoundException("no fixture")))
    assert(rs.map(_.name) == Seq("a"))
    intercept[java.io.FileNotFoundException](rs.head.oracle)
  }

  test("select returns the named rows in order and fails listing unknown and valid names") {
    assert(SparkEntry.select(Seq("q7_set_ops", "q3_filter_agg")).map(_.name) ==
      Seq("q7_set_ops", "q3_filter_agg"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q3_filter_agg", "q3_nope", "x0_nope")))
    assert(e.getMessage.contains("unknown rows: q3_nope, x0_nope"), e.getMessage)
    assert(SparkEntry.rows.forall(r => e.getMessage.contains(r.name)), e.getMessage)
  }

  test("oracle_sql.json parses back to SparkEntry.oracleSql, control characters included") {
    def parse(json: String): Map[String, String] =
      new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap
    val sql = SparkEntry.oracleSql
    assert(sql.keySet == SparkEntry.rows.map(_.name).toSet)
    assert(parse(Verify.oracleJson(sql)) == sql)
    val odd = Map("q\"uote" -> "a\"b\\c\td\re\nf\u0001g\u001fh é")
    assert(parse(Verify.oracleJson(odd)) == odd)
  }
}

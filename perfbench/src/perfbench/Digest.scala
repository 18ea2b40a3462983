package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest: the row count plus the sum of the
  * first 15 hex digits of each row's md5, read as an integer (the sum
  * counts duplicate rows, which an xor would cancel). taxi_gen.py computes
  * the same over the golden's lines.
  */
object Digest {

  final case class Value(rows: Long, sum: String, cols: String)

  /** Digest of a one-column frame of already formatted lines. */
  def lines(df: DataFrame): Value = {
    val r = df.toDF("line").agg(count(lit(1)), sum(conv(substring(md5(col("line")), 1, 15), 16, 10)
      .cast(DecimalType(38, 0)))).head()
    Value(r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString), "")
  }

  /** Digest of any frame: columns sorted by name (as the oracle gate
    * compares them), each value rendered as text, doubles to 8 significant
    * digits so a different summation order (row order, partition count)
    * cannot change the digest, nulls as `\N`.
    */
  def frame(df: DataFrame): Value = {
    val names = df.columns.sorted
    val cells = names.map { n =>
      val c = col(s"`$n`")
      when(c.isNull, lit("\\N")).otherwise(render(c, df.schema(n).dataType))
    }
    lines(df.select(concat_ws("\u0001", cells.toIndexedSeq: _*)))
      .copy(cols = names.mkString(","))
  }

  private def render(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(isnan(d), lit("NaN")).otherwise(format_string("%.7e", d + lit(0.0)))
    case BinaryType => hex(c)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast(StringType)
  }
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a query result: the row count plus the
  * sums of the low and high 32-bit halves of each row's `xxhash64`.
  * Sums are commutative, so any row order or partitioning gives the
  * same digest, and a duplicated, dropped or altered row changes it.
  * Floating-point cells are rounded to 6 decimals first (and -0.0
  * folded into 0.0), so summation-order noise in the last bits of a
  * double does not read as a different result.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cells: Seq[Column] = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6) + 0.0
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xffffffffL))),
        sum(shiftright(col("h"), 32)))
      .head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (long(0), f"${long(0)}%d:${long(1)}%x:${long(2)}%x")
  }
}

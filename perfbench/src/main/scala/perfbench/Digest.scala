package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: row count plus the exact sum of
  * one `xxhash64` per row over every column.
  *
  * Row order and partitioning do not change it (a sum commutes), so the
  * same query run in any operation order, at any parallelism, gives the
  * same digest. Floating values are rounded to 9 decimal places first,
  * the same canonical form the DuckDB oracle compare uses, so a last-bit
  * difference in a double sum does not read as a wrong answer. Maps are
  * hashed as their key-sorted entry arrays (`xxhash64` rejects maps).
  * The per-row hashes are summed as `decimal(38,0)`: a `long` sum would
  * overflow (and throw under ANSI mode) long before the row count does.
  */
object Digest {
  final case class Value(rows: Long, hashSum: BigDecimal) {
    def render: String = s"$rows:$hashSum"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":", 2)
    Value(r.toLong, BigDecimal(h))
  }

  /** The canonical form a column is hashed in (see the object doc). */
  def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(et, _) if needsCanon(et) =>
      transform(c, x => canonical(x, et))
    case StructType(fields) if fields.exists(f => needsCanon(f.dataType)) =>
      struct(fields.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canonical(array_sort(map_entries(c)), ArrayType(
        StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  private def needsCanon(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fields) => fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val rowHash =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("h")), lit(BigDecimal(0))).as("s"))
      .head()
    Value(row.getLong(0), BigDecimal(row.getDecimal(1)))
  }
}

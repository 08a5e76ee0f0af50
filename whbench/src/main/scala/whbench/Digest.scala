package whbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest: the row count plus the sum (as an exact
  * decimal) of one `xxhash64` per canonicalized row. Reordering rows or
  * partitions leaves it unchanged; changing any value changes it.
  *
  * Canonical form: floating-point values are printed with 9 significant
  * digits (so a sum taken in another order, which differs in its last
  * bits, hashes the same), -0.0 becomes 0.0, and a map becomes its entries
  * sorted by key (`xxhash64` does not accept maps). */
object Digest {

  final case class Value(rows: Long, hash: String) {
    override def toString: String = s"$rows:$hash"
  }

  def parse(s: String): Value = {
    val Array(r, h) = s.split(":", 2)
    Value(r.toLong, h)
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType) + lit(0.0)
      when(d.isNull, lit(null)).otherwise(format_string("%.8e", d))
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case StructType(fs) if fs.exists(f => needsCanon(f.dataType)) =>
      struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      val entries = array_sort(map_entries(c))
      transform(entries, e => struct(canon(e.getField("key"), kt).as("key"),
        canon(e.getField("value"), vt).as("value")))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case StructType(fs) => fs.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** Digest of `df`, computed by its own aggregation. */
  def of(df: DataFrame): Value = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    Value(row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

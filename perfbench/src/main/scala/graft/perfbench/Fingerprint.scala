package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a relation: its row count and the sum
  * of a 64-bit hash of every row. Doubles are hashed at float precision so
  * that a last-bit difference from summation order does not change the
  * fingerprint; maps are hashed as their sorted entry arrays.
  */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType)
    case _: DecimalType         => c.cast(DoubleType).cast(FloatType)
    case m: MapType             =>
      array_sort(map_entries(c))
    case ArrayType(et, _) if canonNeeded(et) =>
      transform(c, x => canon(x, et))
    case s: StructType if s.fields.exists(f => canonNeeded(f.dataType)) =>
      struct(s.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
    case _ => c
  }

  private def canonNeeded(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: DecimalType | _: MapType => true
    case ArrayType(et, _) => canonNeeded(et)
    case s: StructType => s.fields.exists(f => canonNeeded(f.dataType))
    case _ => false
  }

  /** The two aggregates of the fingerprint, named `fp_rows` and `fp_hash`. */
  def columns(df: DataFrame): (Column, Column) = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (count(lit(1)).as("fp_rows"), sum(h.cast(DecimalType(20, 0))).as("fp_hash"))
  }

  def fromValues(rows: Any, hash: Any): Fingerprint =
    Fingerprint(rows.asInstanceOf[Number].longValue,
      Option(hash).map(h => new java.math.BigDecimal(h.toString).toBigInteger.toString).getOrElse("0"))

  def fromRow(m: Map[String, Any]): Fingerprint = fromValues(m("fp_rows"), m("fp_hash"))

  def of(df: DataFrame): Fingerprint = {
    val (n, h) = columns(df)
    val r = df.agg(n, h).head()
    fromValues(r.get(0), r.get(1))
  }
}

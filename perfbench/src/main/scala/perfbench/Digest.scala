package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._

/** Order-independent digest of a result: its row count and the wrapping sum
  * of one 64-bit hash per row. Doubles are rounded to 6 decimals after a
  * 1e-9 nudge off decimal midpoints, so two correct formulations that add
  * floating-point values in different orders still agree.
  */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows%d:$hash%016x"
}

object Digest {

  /** Consumes every row of `df.queryExecution.toRdd`: all output columns
    * are computed, as with `toRdd.count()`, so this is also the action that
    * a call is timed by. */
  def of(df: DataFrame): Digest = {
    val types = df.schema.fields.map(_.dataType)
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r, types) }
      Iterator.single((n, h))
    }.fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    Digest(n, h)
  }

  def rowHash(r: SpecializedGetters, types: Array[DataType]): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < types.length) {
      h = mix(h * 31 + valueHash(r, i, types(i)))
      i += 1
    }
    h
  }

  def rounded(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else math.round((d + 1e-9) * 1e6)

  private def valueHash(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) 0x5bd1e9955bd1e995L
    else t match {
      case DoubleType => rounded(r.getDouble(i))
      case FloatType => rounded(r.getFloat(i).toDouble)
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case IntegerType | DateType => r.getInt(i).toLong
      case ShortType => r.getShort(i).toLong
      case ByteType => r.getByte(i).toLong
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case _: StringType =>
        val s = r.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case d: DecimalType =>
        rounded(r.getDecimal(i, d.precision, d.scale).toDouble)
      case ArrayType(et, _) =>
        val a = r.getArray(i)
        rowHash(a, Array.fill(a.numElements())(et))
      case s: StructType =>
        rowHash(r.getStruct(i, s.size), s.fields.map(_.dataType))
      case other => r.get(i, other).hashCode.toLong
    }

  /** splitmix64 finalizer */
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
}

package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Order-insensitive content hash over a frame's executed rows: the
  * wrapping sum of one 64-bit hash per row. Computed in the same job that
  * materializes `queryExecution.toRdd`, so checking an output costs no
  * second execution. */
object RowHash {

  /** (rows, hash) of the frame, forcing its own optimized plan. */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, schema) }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
  }

  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  private def bytes(b: Array[Byte]): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  def row(r: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = h * 31 + value(r, i, schema(i).dataType)
      i += 1
    }
    mix(h)
  }

  private def value(r: SpecializedGetters, i: Int, t: DataType): Long =
    if (r.isNullAt(i)) 0x9e3779b97f4a7c15L
    else t match {
      case BooleanType => if (r.getBoolean(i)) 1L else 2L
      case ByteType => r.getByte(i).toLong
      case ShortType => r.getShort(i).toLong
      case IntegerType | DateType => r.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => r.getLong(i)
      case FloatType => java.lang.Float.floatToIntBits(r.getFloat(i)).toLong
      case DoubleType => java.lang.Double.doubleToLongBits(r.getDouble(i))
      case StringType =>
        val s = r.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case BinaryType => bytes(r.getBinary(i))
      case d: DecimalType => bytes(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toString.getBytes)
      case a: ArrayType =>
        val arr = r.getArray(i)
        var h = 7L
        var j = 0
        while (j < arr.numElements()) { h = h * 31 + value(arr, j, a.elementType); j += 1 }
        mix(h)
      case s: StructType => row(r.getStruct(i, s.length), s)
      case m: MapType =>
        val map = r.getMap(i)
        var h = 0L
        var j = 0
        while (j < map.numElements()) {
          h += mix(value(map.keyArray(), j, m.keyType) * 31 + value(map.valueArray(), j, m.valueType))
          j += 1
        }
        h
      case other => String.valueOf(r.get(i, other)).hashCode.toLong
    }
}

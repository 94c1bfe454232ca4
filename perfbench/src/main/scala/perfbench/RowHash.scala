package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent content hash of a query result: each row hashes to
  * a 64-bit value and the result's hash is their sum (mod 2^64), so row
  * order and partitioning do not matter. Floating-point values are
  * rounded to 6 decimals first, because the last bits of a sum depend on
  * the order Spark adds in. */
object RowHash {
  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9E3779B97F4A7C15L
    x ^= x >>> 31
    x * 0xBF58476D1CE4E5B9L
  }

  private def double(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else {
      val r = math.rint(d * 1e6)
      if (math.abs(r) < 9e15) r.toLong else java.lang.Double.doubleToLongBits(d)
    }

  private def bytes(b: Array[Byte]): Long = b.foldLeft(0xcbf29ce484222325L)((h, x) => (h ^ (x & 0xff)) * 0x100000001b3L)

  def value(v: Any, t: DataType): Long = if (v == null) 0x5bd1e9955bd1e995L else t match {
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case StringType => bytes(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => bytes(v.asInstanceOf[Array[Byte]])
    case d: DecimalType => bytes(v.asInstanceOf[Decimal].toJavaBigDecimal.stripTrailingZeros.toString.getBytes("UTF-8"))
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).foldLeft(17L)((h, i) =>
        mix(h, value(if (a.isNullAt(i)) null else a.get(i, et), et)))
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map(i => mix(value(ks.get(i, kt), kt),
        value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))).sum
    case _ => mix(0L, v.hashCode.toLong)
  }

  def row(r: InternalRow, schema: StructType): Long =
    schema.fields.indices.foldLeft(0x12345678L) { (h, i) =>
      val t = schema.fields(i).dataType
      mix(h, value(if (r.isNullAt(i)) null else r.get(i, t), t))
    }
}

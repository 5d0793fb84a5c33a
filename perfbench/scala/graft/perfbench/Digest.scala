package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive content digest of a query result, computed while the
  * result is fully materialised (one job, like `toRdd.foreachPartition`).
  *
  * Each row hashes its values field by field; the digest is the row count
  * plus the wrapping sum of row hashes, so partitioning and row order do
  * not matter. Floating-point values are rounded to 9 significant digits
  * first: aggregates summed in a different partition order may differ in
  * the last bits between runs, and that is not a wrong result.
  */
object Digest {
  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  private def dbl(d: Double): Long =
    if (d.isNaN || d.isInfinite || d == 0.0) java.lang.Double.doubleToLongBits(d.abs)
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(new java.math.MathContext(9)).doubleValue)

  private def value(v: Any, t: DataType): Long = t match {
    case _ if v == null => 0x5bd1e995L
    case BooleanType => if (v.asInstanceOf[Boolean]) 1L else 2L
    case ByteType | ShortType | IntegerType | DateType | _: YearMonthIntervalType =>
      v.asInstanceOf[Number].longValue
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      v.asInstanceOf[Long]
    case FloatType => dbl(v.asInstanceOf[Float].toDouble)
    case DoubleType => dbl(v.asInstanceOf[Double])
    case _: DecimalType => v.toString.hashCode.toLong
    case _: StringType => v.hashCode.toLong * 31 + v.toString.length
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      (0 until a.numElements()).foldLeft(a.numElements().toLong) { (h, i) =>
        mix(h, if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))
      }
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      (0 until m.numElements()).foldLeft(0L) { (h, i) =>
        h + mix(value(m.keyArray().get(i, kt), kt),
          if (m.valueArray().isNullAt(i)) 0L else value(m.valueArray().get(i, vt), vt))
      }
    case s: StructType => row(v.asInstanceOf[InternalRow], s)
    case other => v.toString.hashCode.toLong ^ other.typeName.hashCode
  }

  private def row(r: InternalRow, s: StructType): Long =
    s.fields.indices.foldLeft(17L) { (h, i) =>
      val t = s.fields(i).dataType
      mix(h, if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, t), t))
    }

  /** Materialise `df` and return its digest as `<rows>:<hex sum>`. */
  def of(df: DataFrame): String = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L; var sum = 0L
      while (it.hasNext) { sum += row(it.next(), schema); n += 1 }
      Iterator((n, sum))
    }.collect()
    f"${parts.map(_._1).sum}:${parts.map(_._2).sum}%016x"
  }
}

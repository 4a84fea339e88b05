package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.json4s.JsonDSL._
import org.json4s.JObject

/** Order-insensitive fingerprint of a query result, folded over the
  * executed plan's rows (`queryExecution.toRdd`), so the whole plan runs,
  * final sort included, without a `count()` that lets Catalyst prune it.
  *
  * All arithmetic is JVM `Long` arithmetic inside the tasks, which wraps;
  * a SQL `sum(xxhash64(...))` would throw ARITHMETIC_OVERFLOW under ANSI
  * mode.
  *
  *  - `hash`: wrapping sum over rows of a 64-bit hash of the row's exact
  *    cells. Floating cells enter only as their class (finite, null, NaN,
  *    +Inf, -Inf), so integral, string, date and timestamp cells must
  *    match exactly.
  *  - per floating column, `sum` = Σ v·w and `norm` = Σ |v|·w over finite
  *    cells, with the weight w ∈ [1, 1024] taken from the row's exact-cell
  *    hash. This ties each value to its row; two results agree when the
  *    sums differ by no more than the oracle's 1e-12 per-cell tolerance
  *    allows (see `run.py`).
  *  - `bytes`: the result's UnsafeRow bytes.
  */
final case class Fingerprint(rows: Long, hash: Long, bytes: Long,
    floatSum: Map[String, Double], floatNorm: Map[String, Double], weight: Long) {
  def toJson: JObject =
    ("rows" -> rows) ~ ("hash" -> java.lang.Long.toHexString(hash)) ~ ("bytes" -> bytes) ~
    ("float_sum" -> floatSum) ~ ("float_norm" -> floatNorm) ~ ("weight" -> weight)
}

object Fingerprint {

  private final class Acc(nFloat: Int) extends Serializable {
    var rows, hash, bytes, weight = 0L
    val sum = new Array[Double](nFloat)
    val norm = new Array[Double](nFloat)
    def merge(o: Acc): Acc = {
      rows += o.rows; hash += o.hash; bytes += o.bytes; weight += o.weight
      for (i <- sum.indices) { sum(i) += o.sum(i); norm(i) += o.norm(i) }
      this
    }
  }

  private def isFloat(dt: DataType): Boolean = dt == DoubleType || dt == FloatType

  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val fields = schema.fields
    val floats = fields.indices.filter(i => isFloat(fields(i).dataType)).toArray
    fields.foreach(f => require(isFloat(f.dataType) || exactHashable(f.dataType),
      s"fingerprint: unsupported column type ${f.dataType} in ${f.name}"))
    val acc = df.queryExecution.toRdd.mapPartitions { it =>
      val a = new Acc(floats.length)
      val toUnsafe = UnsafeProjection.create(schema)
      val vals = new Array[Double](floats.length)
      while (it.hasNext) {
        val row = it.next()
        var h = 0x5bd1e995L
        var i = 0
        while (i < fields.length) {
          h = XXH64.hashLong(cell(row, i, fields(i).dataType, vals, floats), h)
          i += 1
        }
        val w = 1L + (h >>> 54)
        var j = 0
        while (j < floats.length) {
          val v = vals(j)
          if (!v.isNaN && !v.isInfinite) { a.sum(j) += v * w; a.norm(j) += math.abs(v) * w }
          j += 1
        }
        a.rows += 1; a.hash += h; a.weight += w
        a.bytes += (row match {
          case u: UnsafeRow => u.getSizeInBytes
          case r => toUnsafe(r).getSizeInBytes
        })
      }
      Iterator(a)
    }.collect().foldLeft(new Acc(floats.length))(_ merge _)
    val names = floats.map(fields(_).name)
    Fingerprint(acc.rows, acc.hash, acc.bytes,
      names.zip(acc.sum).toMap, names.zip(acc.norm).toMap, acc.weight)
  }

  private def exactHashable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType | BinaryType | _: DecimalType => true
    case _ => false
  }

  /** 64-bit value of cell `i`; a floating cell's value goes to `vals`. */
  private def cell(row: InternalRow, i: Int, dt: DataType,
      vals: Array[Double], floats: Array[Int]): Long = {
    val fi = java.util.Arrays.binarySearch(floats, i)
    if (row.isNullAt(i)) {
      if (fi >= 0) vals(fi) = Double.NaN
      return 0x9e3779b97f4a7c15L
    }
    dt match {
      case DoubleType | FloatType =>
        val v = if (dt == DoubleType) row.getDouble(i) else row.getFloat(i).toDouble
        vals(fi) = v
        if (v.isNaN) 2L else if (v == Double.PositiveInfinity) 3L
        else if (v == Double.NegativeInfinity) 4L else 1L
      case BooleanType => if (row.getBoolean(i)) 1L else 0L
      case ByteType => row.getByte(i).toLong
      case ShortType => row.getShort(i).toLong
      case IntegerType | DateType => row.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType => row.getLong(i)
      case StringType =>
        val s = row.getUTF8String(i)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      case BinaryType =>
        val b = row.getBinary(i)
        XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      case d: DecimalType =>
        val s = row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        XXH64.hashUnsafeBytes(s, Platform.BYTE_ARRAY_OFFSET, s.length, 42L)
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }
}

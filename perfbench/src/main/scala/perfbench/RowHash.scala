package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count and the
  * wrapping sum of a 64-bit hash of each row's canonical text.
  *
  * The canonical text is the one `perfbench/oracle.py` builds from a
  * DuckDB result, and it follows the normalization of the repo's
  * correctness checker: columns in name order, every number (integer,
  * decimal, float, boolean, numeric-looking string) compared as a
  * float64, NaN equal to NULL, dates and timestamps as epoch
  * microseconds. The digest is computed inside the same Spark job that
  * executes the query, so checking a result costs no second execution.
  */
object RowHash {

  final case class Digest(cols: Seq[String], rows: Long, sum: Long) {
    def sumHex: String = f"$sum%016x"
  }

  private val numeric = java.util.regex.Pattern.compile(
    "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?")

  private def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append('N')
    else {
      val bits = java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      sb.append('D').append(String.format("%016x", Long.box(bits)))
    }

  private def str(sb: java.lang.StringBuilder, s: String): Unit =
    if (numeric.matcher(s).matches()) num(sb, s.toDouble) else sb.append('S').append(s)

  private def put(sb: java.lang.StringBuilder, t: DataType, r: SpecializedGetters, i: Int): Unit =
    if (r.isNullAt(i)) sb.append('N')
    else t match {
      case BooleanType => num(sb, if (r.getBoolean(i)) 1.0 else 0.0)
      case ByteType => num(sb, r.getByte(i).toDouble)
      case ShortType => num(sb, r.getShort(i).toDouble)
      case IntegerType => num(sb, r.getInt(i).toDouble)
      case LongType => num(sb, r.getLong(i).toDouble)
      case FloatType => num(sb, r.getFloat(i).toDouble)
      case DoubleType => num(sb, r.getDouble(i))
      case d: DecimalType => num(sb, r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.doubleValue)
      case _: StringType => str(sb, r.getUTF8String(i).toString)
      case DateType => sb.append('T').append(r.getInt(i).toLong * 86400000000L)
      case TimestampType | TimestampNTZType => sb.append('T').append(r.getLong(i))
      case BinaryType =>
        sb.append('X')
        r.getBinary(i).foreach(b => sb.append(String.format("%02x", Byte.box(b))))
      case a: ArrayType =>
        val arr = r.getArray(i)
        sb.append('[')
        var j = 0
        while (j < arr.numElements()) {
          if (j > 0) sb.append(',')
          put(sb, a.elementType, arr, j)
          j += 1
        }
        sb.append(']')
      case m: MapType =>
        val md = r.getMap(i)
        val entries = (0 until md.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          put(e, m.keyType, md.keyArray(), j)
          e.append(':')
          put(e, m.valueType, md.valueArray(), j)
          e.toString
        }.sorted
        sb.append('{').append(entries.mkString(",")).append('}')
      case s: StructType =>
        val st = r.getStruct(i, s.size)
        sb.append('(')
        s.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          put(sb, s.fields(j).dataType, st, j)
        }
        sb.append(')')
      case other => sb.append('?').append(String.valueOf(r.get(i, other)))
    }

  /** Execute `df` once and digest every row it returns. */
  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var s = 0L
      it.foreach { row =>
        sb.setLength(0)
        var k = 0
        while (k < order.length) {
          if (k > 0) sb.append('\u001f')
          put(sb, types(order(k)), row, order(k))
          k += 1
        }
        s += ByteBuffer.wrap(md.digest(sb.toString.getBytes(UTF_8))).getLong
        n += 1
      }
      Iterator.single((n, s))
    }.collect()
    Digest(order.toSeq.map(fields(_).name), parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

package graftbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** A result's (row count, order-independent hash). */
final case class Fp(rows: Long, hash: Long) {
  def +(o: Fp): Fp = Fp(rows + o.rows, hash + o.hash)
  def hex: String = f"$hash%016x"
}

/** Folds every row of a DataFrame's executed plan into an [[Fp]].
  *
  * The rows come from `queryExecution.toRdd`, the executed plan itself,
  * so every output column is computed: a `count()` would let Catalyst
  * prune the projections away. Each row is encoded canonically (columns
  * sorted by name, integral doubles written as integers, other doubles
  * by their IEEE bits), hashed with MD5, and the first 8 bytes are
  * summed modulo 2^64, so row order does not matter. `oracle.py`
  * implements the same encoding over DuckDB results; the two must change
  * together.
  */
object Fingerprint {

  def of(df: DataFrame): Fp = {
    val qe = df.queryExecution
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => (fields(i).name, i)).toArray
    val types = fields.map(_.dataType)
    SQLExecution.withNewExecutionId(qe, Some("graftbench.fingerprint")) {
      qe.toRdd.mapPartitions(it => Iterator(fold(it, order, types)))
        .collect().foldLeft(Fp(0L, 0L))(_ + _)
    }
  }

  def fold(it: Iterator[InternalRow], order: Array[Int],
      types: Array[DataType]): Fp = {
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var n = 0L
    var h = 0L
    while (it.hasNext) {
      val r = it.next()
      sb.setLength(0)
      var k = 0
      while (k < order.length) {
        if (k > 0) sb.append('|')
        val i = order(k)
        enc(sb, if (r.isNullAt(i)) null else r.get(i, types(i)), types(i))
        k += 1
      }
      h += rowHash(md, sb.toString)
      n += 1
    }
    Fp(n, h)
  }

  def rowHash(md: MessageDigest, s: String): Long =
    ByteBuffer.wrap(md.digest(s.getBytes(StandardCharsets.UTF_8))).getLong

  private val MaxExact = 9.007199254740992e15 // 2^53

  def num(sb: java.lang.StringBuilder, d: Double): Unit =
    if (d.isNaN) sb.append("DNaN")
    else if (d.isInfinite) sb.append(if (d > 0) "D+Inf" else "D-Inf")
    else if (d == math.rint(d) && math.abs(d) < MaxExact)
      sb.append('I').append(d.toLong)
    else sb.append('D')
      .append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))

  def enc(sb: java.lang.StringBuilder, v: Any, dt: DataType): Unit =
    if (v == null) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "B1" else "B0")
      case ByteType | ShortType | IntegerType | LongType =>
        sb.append('I').append(v.toString)
      case FloatType => num(sb, v.asInstanceOf[Float].toDouble)
      case DoubleType => num(sb, v.asInstanceOf[Double])
      case _: DecimalType =>
        val bd = v.asInstanceOf[Decimal].toJavaBigDecimal
        if (bd.signum == 0 || bd.stripTrailingZeros.scale <= 0)
          sb.append('I').append(bd.toBigInteger)
        else num(sb, bd.doubleValue)
      case _: StringType =>
        val s = v.toString
        sb.append('S').append(s.codePointCount(0, s.length)).append(':').append(s)
      case BinaryType =>
        sb.append('X')
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"${b & 0xff}%02x"))
      case TimestampType | TimestampNTZType => sb.append('T').append(v.toString)
      case DateType => sb.append('Y').append(v.toString)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          enc(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.indices.foreach { i =>
          if (i > 0) sb.append(',')
          val ft = st.fields(i).dataType
          enc(sb, if (r.isNullAt(i)) null else r.get(i, ft), ft)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          enc(e, m.keyArray().get(i, kt), kt)
          e.append('=')
          enc(e, if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt)
          e.toString
        }.sorted
        sb.append("M{").append(entries.mkString(",")).append('}')
      case _ => sb.append('?').append(v.toString)
    }
}

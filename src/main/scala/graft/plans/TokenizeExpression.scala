package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.internal.types.StringTypeWithCollation
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Lowercased word tokens in one native pass: the result of
  * `filter(split(lower(text), delims.regex), t => length(t) > 0)`, with
  * the same output type (`array<string>`, `containsNull = false`).
  *
  * ASCII input (every byte below 0x80, default collation) is lowercased
  * A–Z byte by byte and cut on the delimiter bytes in the same loop,
  * dropping empty tokens: no regex, no `String`, no ICU. The tokens are
  * views into one lowercased copy of the row. Any other input makes
  * Spark's own calls: `CollationSupport.Lower.exec` with
  * `spark.sql.icu.caseMappings.enabled` read as `Lower` reads it, Java's
  * regex split, then the empty tokens dropped.
  *
  * Both delimiter sets are ASCII, so lowercasing never turns an ASCII
  * delimiter into a token byte or back, and the fast path cuts exactly
  * where the regex does. The ASCII path never loads Spark's
  * `CollationAwareUTF8String`, whose first use in a JVM builds ICU case
  * tables (about 1.3 s).
  *
  * Codegen is one static call, as in [[NfcNormalize]], so the operator
  * stays inside whole-stage codegen. */
case class Tokenize(child: Expression, delims: Tokenize.Delimiters)
    extends UnaryExpression with ImplicitCastInputTypes {

  // what `lower` accepts: other types are cast to string, and a
  // collated string keeps its collation
  override def inputTypes =
    Seq(StringTypeWithCollation(supportsTrimCollation = true))
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "graft_tokenize"

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId
  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(input: Any): Any =
    Tokenize.tokenize(input.asInstanceOf[UTF8String], delims, collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val d = ctx.addReferenceObj("delims", delims, classOf[Tokenize.Delimiters].getName)
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.Tokenize.tokenize($c, $d, $collationId, $useICU)")
  }

  override protected def withNewChildInternal(c: Expression): Tokenize =
    copy(child = c)
}

object Tokenize {

  /** A delimiter set: its regex (what the non-ASCII path splits on)
    * and the same set as a table over ASCII bytes. */
  sealed abstract class Delimiters(val regex: String, ascii: String)
      extends Serializable {
    @transient lazy val pattern: Pattern = Pattern.compile(regex)
    private val table: Array[Boolean] = {
      val t = new Array[Boolean](128)
      ascii.foreach(ch => t(ch) = true)
      t
    }
    def cuts(b: Byte): Boolean = table(b)
  }
  /** Java's `\s` (without UNICODE_CHARACTER_CLASS): ` \t\n\x0B\f\r`. */
  private val Space = " \t\n\u000b\f\r"
  /** Whitespace and the punctuation class, the default set. */
  case object Punctuation extends Delimiters("[\\s,;:!?.()\\[\\]{}\"']+",
    Space + ",;:!?.()[]{}\"'")
  case object Whitespace extends Delimiters("\\s+", Space)

  /** The tokens of `s`; see [[Tokenize]]. */
  def tokenize(s: UTF8String, d: Delimiters, collationId: Int,
      useICU: Boolean): ArrayData = {
    if (collationId != CollationFactory.UTF8_BINARY_COLLATION_ID)
      return viaSpark(s, d, collationId, useICU)
    val n = s.numBytes
    val lower = new Array[Byte](n)
    val out = new java.util.ArrayList[UTF8String]()
    var start = 0
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return viaSpark(s, d, collationId, useICU)
      if (d.cuts(b)) {
        if (i > start) out.add(UTF8String.fromBytes(lower, start, i - start))
        start = i + 1
      } else {
        lower(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      }
      i += 1
    }
    if (n > start) out.add(UTF8String.fromBytes(lower, start, n - start))
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** Spark's `lower`, then its regex split, then the empty tokens
    * dropped. */
  private def viaSpark(s: UTF8String, d: Delimiters, collationId: Int,
      useICU: Boolean): ArrayData = {
    val lowered = CollationSupport.Lower.exec(s, collationId, useICU).toString
    val parts = d.pattern.split(lowered, -1)
    new GenericArrayData(parts.iterator.filter(_.nonEmpty)
      .map(UTF8String.fromString).toArray[Any])
  }

  def column(text: Column, d: Delimiters): Column =
    GraftColumnBridge.column(Tokenize(GraftColumnBridge.expression(text), d))
}

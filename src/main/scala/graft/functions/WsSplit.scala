package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenization in ONE codegen'd byte scan — bit-parity
  * with `split(c, "\\s+")` (Spark's `StringSplit` with its default
  * limit −1), the tokenizer under every text/dedup query.
  *
  * Why an expression: `StringSplit` routes through
  * `UTF8String.split`, which converts the row to a `java.lang.String`
  * and calls `String.split(regex, limit)` — and for a multi-character
  * pattern like `\s+` that COMPILES THE REGEX PER ROW on top of the
  * String round-trip (decode + re-encode of every token). This is the
  * per-row constant of the corpus's hottest shared stage (tokenize →
  * shingle → hash). Here the separator class is scanned directly over
  * the UTF-8 bytes; Java's default `\s` is exactly the six ASCII
  * bytes { \t \n \x0B \f \r ' ' } (NO Unicode whitespace — NBSP is a
  * token byte), and ASCII bytes never occur inside multi-byte UTF-8
  * sequences, so the byte scan is exact for well-formed UTF-8. On an
  * invalid byte sequence the two differ: the scan keeps the raw bytes,
  * while `split`'s String round-trip turns them into U+FFFD.
  *
  * Parity contract (pinned by WsSplitSpec against the `split` Column
  * form, property-tested over separator-heavy generated strings):
  * tokens are the substrings BETWEEN maximal separator runs, with
  * Java split limit −1 semantics — a leading run yields a leading ""
  * element, a trailing run yields a trailing "" element, and an empty
  * input yields [""] (one empty token). Null input yields null (like
  * any UnaryExpression).
  */
case class WsSplit(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_split"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"ws_split requires string, got ${t.simpleString}")
  }

  override protected def nullSafeEval(s: Any): Any =
    WsSplit.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WsSplit$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WsSplit {

  /** Java regex `\s` without UNICODE_CHARACTER_CLASS: exactly
    * \t (0x09), \n (0x0A), \x0B, \f (0x0C), \r (0x0D), space (0x20).
    */
  @inline private def isSep(b: Byte): Boolean =
    b == 0x20.toByte || (b >= 0x09.toByte && b <= 0x0D.toByte)

  def compute(u: UTF8String): ArrayData = {
    // getBytes returns the backing array without copy when exactly
    // aligned, otherwise a fresh copy — either way an immutable
    // buffer the output tokens can safely alias as fromBytes views.
    val b = u.getBytes
    val n = b.length
    // count separator runs first so the output array is exact-sized
    // (documents are token-dense: two passes over bytes beat growing
    // an ArrayBuffer of UTF8Strings)
    var runs = 0
    var i = 0
    while (i < n) {
      if (isSep(b(i))) {
        runs += 1
        i += 1
        while (i < n && isSep(b(i))) i += 1
      } else i += 1
    }
    val out = new Array[Any](runs + 1)
    var k = 0
    var start = 0
    i = 0
    while (i < n) {
      if (isSep(b(i))) {
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
        i += 1
        while (i < n && isSep(b(i))) i += 1
        start = i
      } else i += 1
    }
    out(k) = UTF8String.fromBytes(b, start, n - start)
    new GenericArrayData(out)
  }
}

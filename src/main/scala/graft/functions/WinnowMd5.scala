package graft.functions

import java.security.MessageDigest
import java.util

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (md5-hex domain) of a token array in ONE
  * codegen'd pass — bit-parity with the Column chain in the test-side
  * `HofReferences.winnowFingerprintsMd5Hof`:
  * shingle strings (`concat_ws(" ", slice(tokens, i+1, n))`, empty
  * below n tokens) → md5 hex per shingle → per-w-window lexicographic
  * min (all hashes when fewer than w) → `array_sort(array_distinct)`.
  *
  * Why an expression: the HOF chain is interpreted and per document
  * pays one md5 Column dispatch per shingle plus an O(len·w) window
  * scan of `slice` + `array_min` allocations; here the shingle bytes
  * are assembled in one reusable buffer, each window minimum comes
  * from a monotonic-deque scan (O(len) comparisons total), and the
  * sorted distinct set falls out of one TreeSet — md5-hex values,
  * lexicographic order and the <w short-circuit all identical, so the
  * DuckDB twin that replays the md5 domain is untouched (pinned by
  * ShingleMinHashSpec).
  *
  * Ordering note: equal-length lowercase hex sorts identically under
  * UTF8String binary comparison and DuckDB varchar order — the same
  * equivalence [[graft.text.TextAnalysis.winnowFingerprintsMd5]]
  * already relies on.
  */
case class WinnowMd5(child: Expression, n: Int, w: Int)
    extends UnaryExpression {

  require(n >= 1, s"shingle width n >= 1, got $n")
  require(w >= 1, s"winnow window w >= 1, got $w")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "winnow_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_md5 requires array<string>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(toks: Any): Any =
    WinnowMd5.compute(toks.asInstanceOf[ArrayData], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.WinnowMd5$$.MODULE$$.compute($c, $n, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMd5 {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val HexChars = "0123456789abcdef".getBytes

  /** md5 of `len` bytes of `buf`, rendered as the 32-char lowercase hex
    * UTF8String Spark's `md5` Column produces.
    */
  private def md5Hex(md: MessageDigest, buf: Array[Byte], len: Int): UTF8String = {
    md.reset()
    md.update(buf, 0, len)
    val d = md.digest()
    val hex = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = HexChars((d(i) & 0xF0) >>> 4)
      hex(2 * i + 1) = HexChars(d(i) & 0x0F)
      i += 1
    }
    UTF8String.fromBytes(hex)
  }

  def compute(toks: ArrayData, n: Int, w: Int): ArrayData = {
    val m = toks.numElements()
    // < n tokens → shingles() yields an empty array → empty fingerprint
    // set (size 0 < w takes the sorted-distinct-of-empty branch)
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val ts = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      ts(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val md = digest.get()
    val nSh = m - n + 1
    val hashes = new Array[UTF8String](nSh)
    var buf = new Array[Byte](256)
    var sh = 0
    while (sh < nSh) {
      // concat_ws(" ", window): non-null tokens joined by one space —
      // identical byte assembly to ShingleHashes
      var len = 0
      var first = true
      var j = 0
      while (j < n) {
        val t = ts(sh + j)
        if (t != null) {
          len += (if (first) 0 else 1) + t.numBytes()
          first = false
        }
        j += 1
      }
      if (buf.length < len) {
        var cap = buf.length
        while (cap < len) cap *= 2
        buf = new Array[Byte](cap)
      }
      var off = 0
      first = true
      j = 0
      while (j < n) {
        val t = ts(sh + j)
        if (t != null) {
          if (!first) { buf(off) = ' '.toByte; off += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes()
          first = false
        }
        j += 1
      }
      hashes(sh) = md5Hex(md, buf, len)
      sh += 1
    }
    val set = new util.TreeSet[UTF8String]()
    if (nSh < w) {
      i = 0
      while (i < nSh) { set.add(hashes(i)); i += 1 }
    } else {
      // monotonic deque of candidate indices: head is the window min;
      // ties keep the EARLIER index (strict > eviction), which changes
      // nothing downstream — equal strings are one set element
      val deque = new Array[Int](nSh)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < nSh) {
        while (tail > head && hashes(deque(tail - 1)).compareTo(hashes(i)) > 0)
          tail -= 1
        deque(tail) = i
        tail += 1
        if (deque(head) <= i - w) head += 1
        if (i >= w - 1) set.add(hashes(deque(head)))
        i += 1
      }
    }
    val out = new Array[Any](set.size())
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

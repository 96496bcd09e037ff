package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.Platform

/** All LSH band hashes of a MinHash signature in ONE codegen'd pass —
  * bit-parity with the HOF chain it replaced:
  * `transform(sequence(0, bands-1), b => xxhash64(b, concat_ws(",",
  *   transform(slice(sig, b*rows+1, rows), _.cast("string")))))`
  * with `rows = sig.length / bands`.
  *
  * Spark's `xxhash64(b, str)` folds children into the running hash:
  * `hashUnsafeBytes(strBytes, hashInt(b, 42))`; the band string is the
  * comma-joined SIGNED DECIMAL rendering of the band's signature slots
  * — the construction the DuckDB XXH64 oracle replays verbatim, so the
  * bytes here must match it exactly (pinned by ShingleMinHashSpec).
  *
  * Why an expression: the HOF chain is interpreted and per band
  * allocates a slice array, one UTF8String per slot (cast to string),
  * and a concatenated UTF8String before hashing — at the k = 400 rung
  * that is ~300 allocations and interpreted dispatches per document.
  * Here the decimal bytes are written into one reusable scratch buffer
  * and hashed in place.
  */
case class BandHashes(child: Expression, bands: Int)
    extends UnaryExpression {

  require(bands >= 1, s"bands >= 1, got $bands")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"band_hashes requires array<bigint>, got ${t.simpleString}")
  }

  override protected def nullSafeEval(sig: Any): Any =
    BandHashes.compute(sig.asInstanceOf[ArrayData], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BandHashes$$.MODULE$$.compute($c, $bands)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BandHashes {

  private val Seed = 42L // Spark's xxhash64 default seed

  /** Write the signed decimal rendering of `v` (exactly
    * `java.lang.Long.toString`) into `buf` at `off`; returns the new
    * offset. buf must have >= 20 bytes of room.
    */
  private def writeLong(buf: Array[Byte], off0: Int, v: Long): Int = {
    var off = off0
    if (v == Long.MinValue) {
      val s = "-9223372036854775808".getBytes
      System.arraycopy(s, 0, buf, off, s.length)
      return off + s.length
    }
    var x = v
    if (x < 0) { buf(off) = '-'.toByte; off += 1; x = -x }
    // digits written backwards into a scratch tail, then reversed
    var i = off
    do {
      buf(i) = ('0' + (x % 10)).toByte
      x /= 10
      i += 1
    } while (x != 0)
    // reverse [off, i)
    var a = off
    var b = i - 1
    while (a < b) {
      val t = buf(a); buf(a) = buf(b); buf(b) = t
      a += 1; b -= 1
    }
    i
  }

  def compute(sig: ArrayData, bands: Int): ArrayData = {
    val k = sig.numElements()
    val rows = k / bands
    val out = new Array[Long](bands)
    // rows slots of <= 20 digits + sign, rows-1 commas
    val buf = new Array[Byte](rows * 21 + rows)
    var b = 0
    while (b < bands) {
      var off = 0
      var j = 0
      while (j < rows) {
        if (j > 0) { buf(off) = ','.toByte; off += 1 }
        // slice(sig, b*rows+1, rows): null slots cannot occur
        // (minhash_sig output containsNull = false); concat_ws would
        // skip them, matched here by construction
        off = writeLong(buf, off, sig.getLong(b * rows + j))
        j += 1
      }
      out(b) = XXH64.hashUnsafeBytes(
        buf, Platform.BYTE_ARRAY_OFFSET, off, XXH64.hashInt(b, Seed))
      b += 1
    }
    new GenericArrayData(out)
  }
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, Expression,
  UnaryExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}

/** `cents(d)` — the unscaled long of `CAST(d AS DECIMAL(18,2))`, bit for
  * bit, in one codegen'd branch instead of the cast's string round-trip.
  *
  * Why an expression: Spark casts a double to decimal through
  * `Double.toString` → `BigDecimal` → `Decimal.changePrecision`, a
  * string format, a parse and a BigDecimal rounding per row. Under the
  * exact sums of [[OracleSafe]] that cast was the largest single cost
  * of a warm dashboard read.
  *
  * Fast path: `x = d * 100` (one rounded double product). If
  * `|x| < 2^40` and `x` is more than `1e-3` from the nearest `k + 0.5`,
  * the result is `x` rounded to the nearest integer.
  *
  * Why that is exact. The cast rounds HALF_UP to two places the
  * decimal `S = Double.toString(d)`. `Double.toString` must name a
  * decimal that parses back to `d`, so `|S - d| <= ulp(d)/2`. Also
  * `|x - 100d| <= ulp(x)/2`, and since `|100d|` lies in
  * `[64|d|, 128|d|)`, `ulp(x) >= 64 ulp(d)`. Together
  * `|100S - x| <= 50 ulp(d) + ulp(x)/2 <= (50/64 + 1/2) ulp(x)`,
  * about 1.3 ulp(x). Below `2^40`, `ulp(x) <= 2^-12`, so
  * `|100S - x| <= 3.2e-4`. When `x` sits more than `1e-3` from a `.5`
  * boundary, `100S` is on the same side of it, and HALF_UP of `S` at
  * two places is the integer nearest to `x`. (Subnormal `d` make both
  * errors smaller, not larger.)
  *
  * Slow path: everything else — NaN, ±Inf, values within `1e-3` of a
  * tie, and `2^40` cents or more — is evaluated by Spark's own `Cast`
  * in the eval mode captured when the column is built, exactly as
  * `CAST(d AS DECIMAL(18,2))` would be. So the ANSI overflow error past
  * `1e16`, the non-ANSI null there, and the null the cast gives NaN and
  * ±Inf in both settings are the cast's own. The slow path runs the
  * cast interpreted; it is rare on money-like data.
  *
  * Parity contract (pinned by CentsSpec against the cast under
  * interpreted and codegen'd evaluation, both ANSI settings): for every
  * double, `cents(d)` equals `unscaled(CAST(d AS DECIMAL(18,2)))` or
  * raises the same error. Null input yields null.
  */
case class Cents(child: Expression, evalMode: EvalMode.Value = EvalMode.fromSQLConf(SQLConf.get))
    extends UnaryExpression {

  override def dataType: DataType = LongType
  // the slow path's cast yields null on NaN, ±Inf and non-ANSI overflow
  override def nullable: Boolean = true
  override def prettyName: String = "cents"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cents requires double, got ${t.simpleString}")
  }

  /** `UNSCALED(CAST(slot0 AS DECIMAL(18,2)))`, carrying this
    * expression's origin so an ANSI error names the caller's column.
    */
  @transient private lazy val cast: Expression = CurrentOrigin.withOrigin(origin) {
    UnscaledValue(Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(18, 2), None, evalMode))
  }

  /** The slow path: the cast's boxed long, or null. */
  def slow(d: Double): Any = cast.eval(InternalRow(d))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = v.asInstanceOf[Double]
      val x = d * 100.0
      val r = Math.rint(x)
      if (Math.abs(x) < Cents.FastLimit && Math.abs(x - r) < Cents.TieFree) r.toLong
      else slow(d)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("cents", this)
    val x = ctx.freshName("x")
    val r = ctx.freshName("r")
    val o = ctx.freshName("o")
    nullSafeCodeGen(ctx, ev, d =>
      s"""double $x = $d * 100.0;
         |double $r = java.lang.Math.rint($x);
         |if (java.lang.Math.abs($x) < ${Cents.FastLimit}D
         |    && java.lang.Math.abs($x - $r) < ${Cents.TieFree}D) {
         |  ${ev.value} = (long) $r;
         |} else {
         |  Object $o = $self.slow($d);
         |  if ($o == null) ${ev.isNull} = true;
         |  else ${ev.value} = (Long) $o;
         |}
         |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Cents {
  /** `2^40` cents: below it `ulp(d * 100) <= 2^-12`. */
  val FastLimit: Double = (1L << 40).toDouble

  /** `|x - rint(x)|` under this is more than `1e-3` from a `.5` tie. */
  val TieFree: Double = 0.499
}

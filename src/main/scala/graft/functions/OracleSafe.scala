package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{EvalMode, MakeDecimal, NumericEvalContext}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.DoubleType

/** Oracle-stable numeric aggregation helpers.
  *
  * Summing IEEE doubles is order-dependent, and Spark's partial
  * aggregation order differs run to run (and from any other engine).
  * Rounding each value to exact cents first makes the sum exact and
  * associative, so the result is bit-identical regardless of
  * partitioning — which is what both the DuckDB oracle compare and
  * 1000-executor reproducibility need. The final cast back to double
  * keeps schemas simple.
  *
  * `decSum` and `decAvg` sum [[Cents]] — the unscaled long of
  * `CAST(c AS DECIMAL(18,2))`, bit for bit — as a 64-bit long and turn
  * the total back into a two-place decimal. That is the same decimal
  * value `sum(CAST(c AS DECIMAL(18,2)))` gives, so it converts to the
  * same double; Spark's `DecimalAggregates` rule makes the same rewrite
  * for small-precision decimals but cannot fire at precision 18.
  *
  * Exactness bound: each value must cast to `decimal(18,2)`, so |c|
  * under 1e16 (past that the cast's ANSI error or non-ANSI null
  * applies; NaN and ±Inf cast to null, so the sums skip them), and the
  * running total must stay within a long: |Σ cents| ≤ `Long.MaxValue`,
  * about 9.2e16 in units of `c`.
  * A total past that raises an arithmetic-overflow error in both ANSI
  * settings; it never wraps and never turns into null.
  */
object OracleSafe {
  /** Exact cents of a double: `unscaled(CAST(c AS DECIMAL(18,2)))`. */
  def cents(c: Column): Column = ColumnBridge.column(Cents(ColumnBridge.expression(c)))

  /** Exact, order-independent sum of a double column (2 fractional digits). */
  def decSum(c: Column): Column = {
    val total = Sum(Cents(ColumnBridge.expression(c)), NumericEvalContext(EvalMode.ANSI))
    // 19 digits hold every long, so the rescale itself cannot overflow
    ColumnBridge.column(MakeDecimal(total.toAggregateExpression(), 19, 2))
      .cast(DoubleType)
  }

  /** Order-independent average: the exact [[decSum]] divided as a double
    * by `COUNT(*)` — null rows count in the denominator, as in the
    * oracle twins' `SUM(CAST(c AS DECIMAL(18,2))) / COUNT(*)`.
    */
  def decAvg(c: Column): Column = decSum(c) / count(lit(1))
}

package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Random-hyperplane sign-bit buckets of every LSH table in ONE
  * codegen'd pass: element t of the result is table t's bucket, bit p
  * set when the vector's dot product with `planes(t)(p)` is ≥ 0.
  *
  * Why not compose it from column functions: the column form
  * (`Knn.lshBucket` per table, one `DotProduct` per plane) re-reads
  * the vector from its column for each of the tables × planes
  * products — on a dictionary-encoded parquet float column every read
  * decodes again. Here the vector is copied once into a `double[]`.
  *
  * Arithmetic matches the column form bit-for-bit:
  *  - each projection is the same index-order double sum of
  *    `x * plane` as `DotProduct`, floats widened per element;
  *  - the bit rule is Spark's `proj >= 0`, where NaN compares above
  *    every number (so a NaN projection sets its bit) and −0.0 equals
  *    0.0;
  *  - a null vector, a null element or a length other than the planes'
  *    makes every projection null, and `when(null >= 0)` leaves every
  *    bit 0: bucket 0 in every table.
  *
  * Planes are held as Seq (structural equality keeps expression
  * canonicalization sane) and flattened to primitive arrays once per
  * executor via a transient lazy val.
  */
case class LshBuckets(child: Expression, planes: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  require(planes.flatMap(_.map(_.length)).distinct.sizeIs <= 1,
    "lsh_buckets: plane widths must be uniform")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_buckets requires array<float|double>, got ${t.simpleString}")
  }

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val flatPlanes: Array[Array[Array[Double]]] =
    planes.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val dim: Int = planes.flatten.headOption.fold(0)(_.length)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    LshBuckets.compute(
      if (v == null) null else v.asInstanceOf[ArrayData], flatPlanes, dim, isFloat)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("lshPlanes", flatPlanes, "double[][][]")
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.LshBuckets$$.MODULE$$.compute(
            ${childGen.isNull} ? null :
              (org.apache.spark.sql.catalyst.util.ArrayData) ${childGen.value},
            $planesRef, $dim, $isFloat);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBuckets {

  def compute(a: ArrayData, planes: Array[Array[Array[Double]]], dim: Int,
              aFloat: Boolean): ArrayData = {
    val buckets = new Array[Long](planes.length)
    val x = vector(a, dim, aFloat)
    if (x != null) {
      var t = 0
      while (t < planes.length) {
        val tp = planes(t)
        var bits = 0L
        var p = 0
        while (p < tp.length) {
          val pl = tp(p)
          var acc = 0.0
          var i = 0
          while (i < x.length) { acc += x(i) * pl(i); i += 1 }
          // Spark's `acc >= 0`: true for NaN as well
          if (!(acc < 0.0)) bits |= 1L << p
          p += 1
        }
        buckets(t) = bits
        t += 1
      }
    }
    new GenericArrayData(buckets)
  }

  /** The vector widened to doubles, or null where every projection is
    * null: a null vector, a null element, or a length other than `dim`.
    */
  private def vector(a: ArrayData, dim: Int, aFloat: Boolean): Array[Double] = {
    if (a == null || a.numElements() != dim) return null
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (a.isNullAt(i)) return null
      x(i) = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    x
  }
}

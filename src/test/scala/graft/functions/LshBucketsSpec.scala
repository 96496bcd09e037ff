package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.similarity.Knn

/** Bit-parity of the `lsh_buckets` kernel against the column form it
  * replaces under `Knn`'s bucketing: `array(lshBucket(e, dim, planes, t)
  * for t)`, one `DotProduct` per plane. Each case runs interpreted
  * (`NO_CODEGEN`, no whole-stage codegen) and generated
  * (`CODEGEN_ONLY`).
  */
class LshBucketsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dim = 16
  private val nPlanes = 10
  private val nTables = 4

  private val modes = Seq(
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"),
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"))

  private val rng = new scala.util.Random(20261020L)

  /** (id, kernel buckets, reference buckets) per vector. The
    * repartition keeps the optimizer from folding the projection over
    * a local relation, so it really runs in the mode under test.
    */
  private def both(elem: DataType, vs: Seq[Option[Seq[Any]]]): DataFrame = {
    val rows = vs.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.orNull) }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(elem, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .repartition(4)
      .select(col("id"),
        GraftFunctions.lshBuckets(col("v"), Knn.lshPlanes(dim, nPlanes, nTables))
          .as("fast"),
        array((0 until nTables).map(t =>
          Knn.lshBucket(col("v"), dim, nPlanes, t)): _*).as("ref"))
  }

  /** The kernel's buckets by row id, after asserting they equal the
    * reference's in both modes.
    */
  private def assertParity(elem: DataType, vs: Seq[Option[Seq[Any]]],
      label: String): Map[Long, Seq[Long]] =
    modes.map { case (mode, kvs) =>
      TestSpark.withConf(kvs: _*) {
        val got = both(elem, vs).collect()
        assert(got.length === vs.length)
        val bad = got.filter(r => r.getSeq[Long](1) != r.getSeq[Long](2))
        assert(bad.isEmpty, s"$label, $mode: ${bad.length} rows differ, e.g. " +
          bad.take(3).map(r => s"${r.get(0)}: ${r.get(1)} vs ${r.get(2)}").mkString("; "))
        got.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      }
    }.reduce { (a, b) => assert(a === b, s"$label: modes differ"); a }

  private def floats(n: Int): Seq[Option[Seq[Any]]] =
    Seq.fill(n)(Some(Seq.fill(dim)(rng.nextGaussian().toFloat)))

  test("random float vectors match the per-table column form") {
    val got = assertParity(FloatType, floats(2000), "float")
    // the planes really split the space: many distinct buckets per table
    (0 until nTables).foreach(t =>
      assert(got.values.map(_(t)).toSet.size > 100, s"table $t barely splits"))
  }

  test("random double vectors match the per-table column form") {
    val vs = Seq.fill(2000)(Some(Seq.fill(dim)(rng.nextGaussian() * 1e3)))
    assertParity(DoubleType, vs, "double")
  }

  test("signed zeros and NaN follow Spark's >= 0") {
    val zeros = Seq(Some(Seq.fill(dim)(0.0f)), Some(Seq.fill(dim)(-0.0f)),
      Some(Seq.tabulate(dim)(i => if (i % 2 == 0) 0.0f else -0.0f)))
    val nan = floats(3).map(_.map(_.updated(5, Float.NaN)))
    val got = assertParity(FloatType, zeros ++ nan, "zeros/NaN")
    // a zero projection is >= 0 and Spark orders NaN above every number:
    // every bit set in every table
    val allBits = (1L << nPlanes) - 1
    (0L until 6L).foreach(id => assert(got(id) === Seq.fill(nTables)(allBits)))
  }

  test("null vector, null element and wrong length give bucket 0 in every table") {
    val ragged = Seq(None,
      Some(Seq.tabulate(dim)(i => if (i == 3) null else 1.0f)),
      Some(Seq.fill(dim - 1)(1.0f)), Some(Seq.fill(dim + 1)(1.0f)),
      Some(Seq.empty[Float]))
    val got = assertParity(FloatType, ragged, "null/ragged")
    got.values.foreach(b => assert(b === Seq.fill(nTables)(0L)))
  }
}

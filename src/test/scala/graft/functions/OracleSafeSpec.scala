package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The long-cents exact sums: the same doubles as the decimal sums their
  * oracle twins compute, and an overflowing total is an error in both
  * ANSI settings, never a wrapped long or a null.
  */
class OracleSafeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("decSum and decAvg == the decimal(18,2) sum and its COUNT(*) average") {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    val rows = (0 until 20000).map { i =>
      val v = if (i % 97 == 0) None
        else Some(rng.nextLong() % 100000000L / math.pow(10, 2 + i % 3))
      (i % 13, v)
    }
    val df = rows.toDF("g", "v").repartition(7)
    val dec = col("v").cast(DecimalType(18, 2))
    val got = df.groupBy("g").agg(
      OracleSafe.decSum(col("v")).as("s"), OracleSafe.decAvg(col("v")).as("a"))
    val want = df.groupBy("g").agg(
      sum(dec).cast(DoubleType).as("s"),
      (sum(dec).cast(DoubleType) / count(lit(1))).as("a"))
    assert(got.schema === want.schema)
    assert(got.orderBy("g").collect().toSeq === want.orderBy("g").collect().toSeq)
  }

  test("decSum of an all-null group is null; nulls count in decAvg's denominator") {
    import spark.implicits._
    val df = Seq((1, Option(1.0)), (1, None), (2, None)).toDF("g", "v")
    val r = df.groupBy("g")
      .agg(OracleSafe.decSum(col("v")), OracleSafe.decAvg(col("v")))
      .orderBy("g").collect().map(r => (r.get(1), r.get(2)))
    assert(r.toSeq === Seq((1.0, 0.5), (null, null)))
  }

  test("decSum past Long.MaxValue cents is an arithmetic-overflow error under both ANSI settings") {
    import spark.implicits._
    // 11 × 9e17 cents = 9.9e18 > Long.MaxValue ≈ 9.22e18; each value
    // alone casts to decimal(18,2)
    val values = Seq.fill(11)(9e15)
    for (ansi <- Seq(true, false))
      TestSpark.withConf("spark.sql.ansi.enabled" -> ansi.toString) {
        val df = values.toDF("v").repartition(3)
        val e = intercept[Exception](df.agg(OracleSafe.decSum(col("v"))).collect())
        val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case s: SparkThrowable if s.getCondition != null => s.getCondition }.toSeq
        assert(conditions.contains("ARITHMETIC_OVERFLOW"),
          s"ansi=$ansi: expected ARITHMETIC_OVERFLOW, got $conditions ($e)")
        // one value fewer fits, and is exact
        val ok = values.tail.toDF("v").agg(OracleSafe.decSum(col("v"))).head().getDouble(0)
        assert(ok === 9e16)
      }
  }
}

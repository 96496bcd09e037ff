package graft.functions

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Bit-parity of the `cents` kernel against the
  * `CAST(d AS DECIMAL(18,2))` it stands in for under every exact sum
  * (`OracleSafe.decSum`/`decAvg`) — so this pin is what allows swapping
  * it without moving any registered query's output. Each case runs
  * interpreted (`NO_CODEGEN`, no whole-stage codegen) and generated
  * (`CODEGEN_ONLY`), and the edge values under both ANSI settings:
  * the fast path must agree with the cast where it answers, and the
  * slow path must be the cast, errors and nulls included.
  */
class CentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val modes = Seq(
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"),
    "codegen" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"))

  /** Every (mode, ANSI) pair; the frame is built inside, so both the
    * kernel and the cast capture that ANSI setting.
    */
  private def everyMode(ansi: Seq[Boolean])(body: String => Unit): Unit =
    for ((name, kvs) <- modes; a <- ansi)
      TestSpark.withConf(kvs :+ ("spark.sql.ansi.enabled" -> a.toString): _*) {
        body(s"$name, ansi=$a")
      }

  /** (d, cents(d), unscaled cast) per row. The repartition keeps the
    * optimizer from folding the projection over a local relation, so
    * the projection really runs in the mode under test.
    */
  private def both(ds: Seq[Double]): DataFrame = {
    import spark.implicits._
    ds.toDF("d").repartition(4).select(
      col("d"),
      OracleSafe.cents(col("d")).as("fast"),
      col("d").cast(DecimalType(18, 2)).as("ref"))
  }

  private def assertParity(ds: Seq[Double], label: String): Unit = {
    val rows = both(ds).collect()
    assert(rows.length === ds.length)
    val bad = rows.filter { r =>
      val fast = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val ref = if (r.isNullAt(2)) None
        else Some(r.getDecimal(2).unscaledValue.longValueExact)
      fast != ref
    }
    assert(bad.isEmpty, s"$label: cents diverged on ${bad.length} rows, e.g. " +
      bad.take(3).map(r => s"${r.getDouble(0)} -> ${r.get(1)} vs ${r.get(2)}").mkString("; "))
  }

  private def conditionOf(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  private val rng = new scala.util.Random(20261017L)

  /** `(k + 0.5) / 100` and its two neighbours, for small and large k
    * (up to 2^50, past the fast path's 2^40): the doubles closest to a
    * HALF_UP tie, on both sides of it.
    */
  private val tieAdjacent: Seq[Double] = {
    val ks = (0L until 3000L) ++ Seq.fill(3000)(rng.nextLong() >>> 24) ++
      Seq.fill(1000)((1L << 40) - 1 - rng.nextInt(1 << 20)) ++
      Seq.fill(1000)(rng.nextLong() >>> 14)
    ks.flatMap { k =>
      val t = (k + 0.5) / 100
      Seq(t, Math.nextUp(t), Math.nextDown(t))
    }.flatMap(d => Seq(d, -d))
  }

  /** The 2^40-cent fast-path boundary, ±1 ulp, and its nearest ties. */
  private val fastLimit: Seq[Double] = {
    val b = Cents.FastLimit / 100
    val ties = Seq(Cents.FastLimit - 0.5, Cents.FastLimit + 0.5).map(_ / 100)
    (Seq(b, Math.nextUp(b), Math.nextDown(b)) ++
      ties.flatMap(t => Seq(t, Math.nextUp(t), Math.nextDown(t))))
      .flatMap(d => Seq(d, -d))
  }

  /** Decimals of 2, 3 and 4 places, and uniform doubles up to 2^41 cents. */
  private val moneyLike: Seq[Double] =
    Seq.fill(4000)(rng.nextLong() % 10000000000L / 100.0) ++
      Seq.fill(4000)(rng.nextLong() % 10000000000L / 1000.0) ++
      Seq.fill(4000)(rng.nextLong() % 10000000000L / 10000.0) ++
      Seq.fill(4000)((rng.nextDouble() * 2 - 1) * 2 * Cents.FastLimit / 100)

  /** Raw bit patterns: every exponent, NaN and ±Inf included. */
  private val randomBits: Seq[Double] =
    Seq.fill(6000)(java.lang.Double.longBitsToDouble(rng.nextLong()))

  private val special: Seq[Double] =
    Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      1e16, -1e16, Math.nextDown(1e16), Math.nextUp(-1e16),
      Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue, Double.MinValue)

  /** The ANSI cast raises only past 1e16; NaN and ±Inf cast to null. */
  private def ansiCasts(d: Double): Boolean = d.isNaN || d.isInfinite || Math.abs(d) < 1e16

  test("cents == unscaled CAST(d AS DECIMAL(18,2)) next to every tie") {
    everyMode(Seq(true, false)) { m => assertParity(tieAdjacent, m) }
  }

  test("cents == the cast at the 2^40-cent boundary ±1 ulp") {
    everyMode(Seq(true, false)) { m => assertParity(fastLimit, m) }
  }

  test("cents == the cast on 2-, 3- and 4-place decimals and wide uniforms") {
    everyMode(Seq(true, false)) { m => assertParity(moneyLike, m) }
  }

  test("cents == the cast on random bit patterns") {
    // without ANSI the cast's nulls must match too; with ANSI the
    // patterns the cast rejects are left to the edge-value test
    everyMode(Seq(false)) { m => assertParity(randomBits, m) }
    everyMode(Seq(true)) { m => assertParity(randomBits.filter(ansiCasts), m) }
  }

  test("cents on ±0.0, NaN, ±Inf and ±1e16: the cast's value, null or error") {
    everyMode(Seq(false)) { m => assertParity(special, m) }
    everyMode(Seq(true)) { m =>
      val raised = special.filter { d =>
        val fast = scala.util.Try(both(Seq(d)).select("fast").collect())
        val ref = scala.util.Try(both(Seq(d)).select("ref").collect())
        assert(fast.isSuccess === ref.isSuccess, s"$m: $d: cents $fast, the cast $ref")
        if (fast.isSuccess) assertParity(Seq(d), m)
        else {
          val (f, r) = (conditionOf(fast.failed.get), conditionOf(ref.failed.get))
          assert(f.isDefined && f === r, s"$m: $d raised $f, the cast $r")
        }
        fast.isFailure
      }
      assert(raised.toSet === special.filterNot(ansiCasts).toSet, m)
    }
  }

  test("cents of null is null") {
    import spark.implicits._
    val r = Seq(Option(1.25), Option.empty[Double]).toDF("d")
      .select(OracleSafe.cents(col("d"))).collect().map(_.get(0))
    assert(r.toSeq === Seq(125L, null))
  }
}

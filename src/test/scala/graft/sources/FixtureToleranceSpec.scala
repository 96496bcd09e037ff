package graft.sources

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Schema-on-read tolerance for driver-regenerated fixtures.
  *
  * The round-6 driver regeneration rewrote `events.parquet` from
  * TIMESTAMP(NANOS) to plain micros with no UTC flag — Spark 4 reads
  * that as TIMESTAMP_NTZ and every `unix_micros(ts)` call site failed
  * analysis, silently dropping 5 registered queries from the
  * correctness record. This spec round-trips the events table through
  * all three writer layouts a fixture generation has actually shipped
  * (tz-micros, plain-micros/NTZ, nanos-as-long) and asserts that
  * `Tables.events` normalizes each to a plain TIMESTAMP with identical
  * values, and that the event-family queries still analyze. The
  * reference's reads are similarly writer-tolerant (fetch.py:90-98
  * coerces on read rather than trusting the writer's schema).
  */
class FixtureToleranceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Canonical events rows from the committed fixture (whatever layout
    * the driver shipped this round), as (event_id, micros) pairs.
    */
  private lazy val canonical: Seq[(Long, Long)] = values(Tables.events(spark, TestSpark.SfDir))

  private def values(events: DataFrame): Seq[(Long, Long)] =
    events.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .orderBy("event_id").limit(200)
      .as[(Long, Long)].collect().toSeq

  /** Rewrite the fixture's events into `layout` under `dir` (a fresh
    * temp dir by default) and return that dir (shaped like an sfDir:
    * contains events.parquet).
    */
  private def writeLayout(layout: String, dir: String = ""): String = {
    val into =
      if (dir.nonEmpty) dir
      else java.nio.file.Files.createTempDirectory(s"graft-fixture-$layout").toString
    val base = Tables.events(spark, TestSpark.SfDir)
    val out = layout match {
      case "tz-micros"  => base // session TZ is UTC; Spark writes isAdjustedToUTC micros
      case "ntz-micros" => base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case "nanos-long" => base.withColumn("ts", unix_micros(col("ts")) * 1000L)
    }
    out.coalesce(1).write.mode("overwrite").parquet(s"$into/events.parquet")
    into
  }

  for (layout <- Seq("tz-micros", "ntz-micros", "nanos-long")) {
    test(s"Tables.events normalizes the $layout layout to TIMESTAMP with identical values") {
      val dir = writeLayout(layout)
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType,
        s"$layout: expected TimestampType, got ${df.schema("ts").dataType}")
      assert(values(df) === canonical, s"$layout: values drifted from canonical read")
    }

    test(s"event-family queries analyze against the $layout layout") {
      val dir = writeLayout(layout)
      // The 4 batch queries that died on the round-6 NTZ drift — all
      // read only the events table, so the layout dir suffices.
      for (q <- Seq("w5_latest_run", "events_gap_stats", "asof_join", "range_join")) {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        df.queryExecution.assertAnalyzed()
      }
    }
  }

  /** `body`'s result and the jobs it starts. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val (result, events) = TestSpark.withEvents(body)
    (result, events.count(_.isInstanceOf[SparkListenerJobStart]))
  }

  test("a second Tables read of unchanged files starts no job") {
    val first = Tables.orders(spark, TestSpark.SfDir)
    val (again, jobs) = withJobCount(Tables.orders(spark, TestSpark.SfDir))
    assert(jobs === 0)
    assert(again.schema === first.schema)
  }

  test("a table rewritten in place with another layout is inferred again") {
    val dir = writeLayout("ntz-micros")
    assert(values(Tables.events(spark, dir)) === canonical)
    writeLayout("nanos-long", dir)
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType === TimestampType)
    assert(values(df) === canonical, "nanos-long rewrite: values drifted from canonical read")
  }

  test("a conf that changes inference re-infers the read schema") {
    // The fixture's ts is pyarrow micros without the UTC flag: NTZ by
    // default, plain TIMESTAMP once NTZ inference is off.
    def ntzCasts(df: DataFrame): Int = df.queryExecution.analyzed
      .flatMap(_.expressions.flatMap(_.collect {
        case c: Cast if c.child.dataType == TimestampNTZType => c
      })).size
    assert(ntzCasts(Tables.events(spark, TestSpark.SfDir)) === 1,
      "fixture events.ts is expected to be written as NTZ micros")
    TestSpark.withConf("spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      val df = Tables.events(spark, TestSpark.SfDir)
      assert(ntzCasts(df) === 0)
      assert(values(df) === canonical)
    }
  }

  test("a missing table still fails with PATH_NOT_FOUND") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixture-missing").toString
    val e = intercept[AnalysisException](Tables.orders(spark, dir))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}

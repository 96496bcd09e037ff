package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GraftFunctions

class SimilarityPrefilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pairs = Seq(
    ("stratus network", "stratus networks"),   // merge (0.968)
    ("broadband dynamics", "broadband dynamic"),
    ("x", "this one is far too long to ever match"), // bound prunes
    ("telnyx", "twilio"),
    ("same", "same"))

  test("rule rewrites ratio>t to the bounded form (both comparison shapes)") {
    // RDD-backed frame: ConvertToLocalRelation would otherwise
    // constant-evaluate the whole filter before we can inspect it
    val rdd = spark.sparkContext.parallelize(pairs)
    val df = spark.createDataFrame(rdd).toDF("a", "b")
      .filter(GraftFunctions.roSimilarity(col("a"), col("b")) > 0.95)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("ro_similarity_bounded"),
      s"rule did not fire:\n$optimized")
    // and the rewritten plan computes the same rows as the raw predicate
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      ("stratus network", "stratus networks"),
      ("broadband dynamics", "broadband dynamic"),
      ("same", "same")))
  }

  test("bounded eval equals full ratio on every side of the threshold") {
    pairs.foreach { case (a, b) =>
      val full = graft.functions.RatcliffObershelp.ratio(a, b)
      val bounded = BoundedRatio.eval(a, b, 0.95)
      assert((full > 0.95) === (bounded > 0.95), s"($a, $b)")
    }
  }

  test("GraftSession wires the rule, the strategy and SQL functions") {
    assert(spark.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(SimilarityPrefilterRule))
    assert(spark.sessionState.planner.strategies.contains(TopKStrategy))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      graft.GraftSession.CodegenCacheEntries.toString)
    val r = spark.sql("SELECT uuid5('6ba7b810-9dad-11d1-80b4-00c04fd430c8', 'broadband dynamics') AS id")
      .collect()(0).getString(0)
    assert(r === "869d9876-ec7b-5fab-ba2a-ccb08f70571f")
    val d = spark.sql("SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(d === 11.0)
    val sk = spark.sql(
      "SELECT sample_k(v, 2) AS s FROM VALUES ('a'), ('b'), ('c') AS t(v)")
      .collect()(0).getSeq[String](0)
    assert(sk.length === 2)
    assert(sk === Seq("a", "b", "c")
      .map(v => (graft.functions.HashSampleK.md5Hex(v), v)).sorted.take(2).map(_._2))
  }
}

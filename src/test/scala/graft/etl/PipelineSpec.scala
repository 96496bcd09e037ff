package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Full run_pipeline analog end-to-end on fixture bronze: two runs over
  * the same data must be incremental (cache hits, downloads skipped).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBronze(dir: String): String = {
    val rows = Seq(
      ("1", "Test Telecom LLC", "2024-01-15", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/1/1", "https://x/f/1"),
      ("2", "Stratus Network", "2024-01-20", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/2/1", "https://x/f/2"),
      ("3", "Stratus Networks", "2024-04-05", "PETITION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "", "https://x/f/3"))
    rows.toDF(IpesSchemas.bronze.fieldNames.toIndexedSeq: _*)
      .write.mode("overwrite").json(s"$dir/bronze")
    s"$dir/bronze"
  }

  test("enrichment cache from an older layout (no docket_context) still loads") {
    // caches written before docket_context existed must migrate with a
    // null default instead of failing the hits select / unionByName.
    val oldCache = Seq(("stratus network", true, "sig", "seg", "sum", "pos"))
      .toDF("normalized_name", "is_active", "activity_signal",
        "industry_segment", "product_summary", "market_position")
    val companies = Seq(
      ("c1", "stratus network", 2L, Seq("INBOX-52.15")),
      ("c2", "test telecom llc", 1L, Seq.empty[String]))
      .toDF("id", "normalized_name", "filing_count", "dockets")
    val (enriched, newCache) = Enrich.enrichWithCache(spark, companies, oldCache)
    val byName = enriched.collect()
      .map(r => r.getAs[String]("normalized_name") -> r).toMap
    // the hit passes through with a migrated (null) context; the miss
    // computes a fresh context from its dockets
    assert(byName("stratus network").getAs[String]("docket_context") === null)
    assert(byName("test telecom llc").getAs[String]("docket_context") === "")
    assert(newCache.columns.contains("docket_context"))
    assert(newCache.count() === 2)
  }

  test("two pipeline runs: second is fully incremental") {
    val dir = Files.createTempDirectory("pipeline").toString
    val bronzePath = writeBronze(dir)
    val fetch: String => Either[String, Array[Byte]] =
      url => Right(s"%PDF-1.7 $url".getBytes)

    val conf = Pipeline.Config(bronzePath, s"$dir/out",
      runTs = "2024-01-01T00:00:00Z", fetch = fetch)
    val r1 = Pipeline.run(spark, conf)
    assert(r1.companies === 2) // test telecom + merged stratus
    assert(r1.filings === 3)
    assert(r1.invalidCompanies === 0)
    assert(r1.cacheHits === 0)
    assert(r1.enriched === 2)
    assert(r1.downloadsOk === 2) // filing 3 has no url

    // outputs exist and are readable
    val companies = spark.read.option("header", true)
      .csv(s"$dir/out/structured/companies")
    assert(companies.count() === 2)
    val pdfs = new java.io.File(s"$dir/out/downloads").list()
    assert(pdfs.length === 2 && pdfs.forall(_.endsWith(".pdf")))

    val r2 = Pipeline.run(spark, conf.copy(runTs = "2024-01-02T00:00:00Z"))
    assert(r2.cacheHits === 2, "second run must hit the enrichment cache")
    assert(!new java.io.File(s"$dir/out/enrichment_cache.tmp").exists,
      "the cache swap must not leave its staging directory behind")
    assert(r2.downloadsOk === 0, "second run must skip completed downloads")
    val hist = spark.read.parquet(s"$dir/out/monitoring/run_stats")
    assert(hist.count() === 2)
    val latest = hist.orderBy(col("run_ts").desc).limit(1).collect()(0)
    assert(latest.getAs[Long]("downloads_ok") === 0L)
  }

  test("a corrupt enrichment cache fails the run; a missing one starts empty") {
    val dir = Files.createTempDirectory("pipeline-cache").toString
    val conf = Pipeline.Config(writeBronze(dir), s"$dir/out")
    val cacheFile = new java.io.File(s"$dir/out/enrichment_cache/part-00000.parquet")
    cacheFile.getParentFile.mkdirs()
    Files.write(cacheFile.toPath, "not parquet".getBytes)
    intercept[Exception](Pipeline.run(spark, conf))
    assert(new String(Files.readAllBytes(cacheFile.toPath)) === "not parquet",
      "an unreadable cache must be left for inspection, not overwritten")

    val fresh = Pipeline.run(spark, conf.copy(outDir = s"$dir/fresh"))
    assert(fresh.cacheHits === 0)
    assert(fresh.enriched === 2)
  }

  test("repeated runs reuse generated code instead of recompiling it") {
    // Spark's generated-class cache must hold a whole run's classes:
    // at its default of 100 entries every run recompiled about 146.
    val dir = Files.createTempDirectory("pipeline-codegen").toString
    val bronzePath = writeBronze(dir)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val deltas = (1 to 3).map { i =>
      val c0 = compiles.getCount
      Pipeline.run(spark, Pipeline.Config(bronzePath, s"$dir/out$i"))
      compiles.getCount - c0
    }
    assert(deltas.last <= 5, s"compiles per run: ${deltas.mkString(", ")}")
  }
}

package graft.etl

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.scheduler.SparkListenerStageSubmitted
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Full run_pipeline analog end-to-end on fixture bronze: two runs over
  * the same data must be incremental (cache hits, downloads skipped).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBronze(dir: String): String = writeBronze(dir, bronzeRows)

  private val bronzeRows = Seq(
      ("1", "Test Telecom LLC", "2024-01-15", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/1/1", "https://x/f/1"),
      ("2", "Stratus Network", "2024-01-20", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/2/1", "https://x/f/2"),
      ("3", "Stratus Networks", "2024-04-05", "PETITION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "", "https://x/f/3"))

  private def writeBronze(dir: String,
                          rows: Seq[(String, String, String, String, String, String,
                            String, String, String, String, String, String)]): String = {
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
    val (enriched, hits) = Enrich.enrichWithCache(spark, companies, oldCache)
    val byName = enriched.collect()
      .map(r => r.getAs[String]("normalized_name") -> r).toMap
    // the hit passes through with a migrated (null) context; the miss
    // computes a fresh context from its dockets
    assert(byName("stratus network").getAs[String]("docket_context") === null)
    assert(byName("test telecom llc").getAs[String]("docket_context") === "")
    assert(hits.get("hits") === 1L)
    val newCache = Enrich.grownCache(oldCache, enriched)
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

  test("run stats equal recounts of the written outputs, fresh and incremental") {
    val dir = Files.createTempDirectory("pipeline-stats").toString
    val fetch: String => Either[String, Array[Byte]] = url => Right(s"%PDF-1.7 $url".getBytes)
    val out = s"$dir/out"
    def recount(bronzePath: String, oldCacheNames: Seq[String]): Pipeline.RunStats = {
      def csv(name: String) = spark.read.option("header", true).csv(s"$out/structured/$name")
      val structured = IpesPipeline.structure(
        graft.sources.Readers.jsonLines(spark, IpesSchemas.bronze, bronzePath)
          .filter(col("_corrupt_record").isNull).drop("_corrupt_record"))
      val companies = csv("companies").count()
      Pipeline.RunStats(companies, csv("filings").count(), companies,
        structured.companies.filter(!coalesce(Validate.companyConstraint, lit(false))).count(),
        spark.read.parquet(s"$out/enriched").count(),
        csv("companies").join(oldCacheNames.toDF("normalized_name"), Seq("normalized_name"),
          "left_semi").count(),
        0L, 0L)
    }
    def cacheNames = spark.read.parquet(s"$out/enrichment_cache")
      .select("normalized_name").as[String].collect().toSeq

    val first = writeBronze(s"$dir/b1")
    val r1 = Pipeline.run(spark, Pipeline.Config(first, out, fetch = fetch))
    assert(r1.copy(downloadsOk = 0, downloadsFailed = 0) === recount(first, Nil))

    // a new company and a new filing for a known one
    val grown = writeBronze(s"$dir/b2", bronzeRows ++ Seq(
      ("4", "Nimbus Voice Inc", "2024-05-01", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/4/1", "https://x/f/4"),
      ("5", "Test Telecom LLC", "2024-06-01", "APPLICATION", "INBOX-52.15",
        "VoIP Numbering Authorization", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/5/1", "https://x/f/5")))
    val before = cacheNames
    val r2 = Pipeline.run(spark, Pipeline.Config(grown, out, fetch = fetch))
    assert(r2.copy(downloadsOk = 0, downloadsFailed = 0) === recount(grown, before))
    assert((r2.companies, r2.filings, r2.cacheHits, r2.downloadsOk) === (3, 5, 2, 2))
    assert(cacheNames.sorted === Seq("nimbus voice", "stratus network", "test telecom"))
  }

  test("a bronze input with no relevant filing gives all-zero run stats") {
    val dir = Files.createTempDirectory("pipeline-empty").toString
    val bronzePath = writeBronze(dir, Seq(
      ("1", "Acme Energy LLC", "2024-01-15", "APPLICATION", "WC-17-108",
        "Pole attachments", "", "DISSEMINATED", "", "",
        "https://www.fcc.gov/ecfs/document/1/1", "https://x/f/1")))
    // every Observation must be filled even though no row reaches it
    val run = Future(Pipeline.run(spark, Pipeline.Config(bronzePath, s"$dir/out")))
    assert(Await.result(run, 3.minutes) === Pipeline.RunStats(0, 0, 0, 0, 0, 0, 0, 0))
  }

  test("the enrichment effect stage runs once per run") {
    // The write-back used to recompute the misses, so every miss paid
    // the effect (an LLM call in the reference) twice.
    val dir = Files.createTempDirectory("pipeline-effect").toString
    val (stats, events) = TestSpark.withEvents(
      Pipeline.run(spark, Pipeline.Config(writeBronze(dir), s"$dir/out")))
    assert(stats.enriched === 2 && stats.cacheHits === 0)
    // an RDD's scope is the physical operator that built it
    val stages = events.collect { case e: SparkListenerStageSubmitted =>
      e.stageInfo.rddInfos.flatMap(_.scope.map(_.name)).toSeq
    }
    assert(stages.count(_.contains("MapPartitions")) === 1,
      stages.map(_.mkString(",")).mkString("\n"))
  }
}

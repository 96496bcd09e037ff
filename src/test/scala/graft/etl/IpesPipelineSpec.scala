package graft.etl

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** End-to-end bronze→silver scenarios from FIXTURES.md §1 (mirrors the
  * reference CI mock `.github/workflows/ci.yml:44-75` plus the dedup
  * cases from its README).
  */
class IpesPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def bronzeRow(
      id: String, name: String, date: String, subType: String,
      docket: String = "INBOX-52.15",
      desc: String = "VoIP Numbering Authorization Application (Fee Required)",
      urls: String = ""): Row =
    Row(id, name, date, subType, docket, desc, "", "DISSEMINATED", "", "",
      urls, s"https://www.fcc.gov/ecfs/filing/$id")

  private def bronze(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), IpesSchemas.bronze.asInstanceOf[StructType])

  private val fixture = Seq(
    // two applications, distinct companies
    bronzeRow("1", "Test Telecom LLC", "2024-01-15", "APPLICATION",
      urls = "https://x/doc/1/1; https://x/doc/1/2"),
    bronzeRow("2", "Broadband Dynamics Inc", "2024-02-01", "APPLICATION"),
    // suffix variant of company 1 -> same normalized name
    bronzeRow("3", "Test Telecom, Inc.", "2024-03-10", "REQUEST"),
    // singular/plural pair -> fuzzy dedup merge
    bronzeRow("4", "Stratus Network", "2024-01-20", "APPLICATION"),
    bronzeRow("5", "Stratus Networks", "2024-04-05", "PETITION",
      urls = "https://x/doc/5/1"),
    // COMMENT-only entity -> dropped by applicant gate
    bronzeRow("6", "Comment Only Networks LLC", "2024-01-01", "COMMENT"),
    // blocklisted bureau -> dropped
    bronzeRow("7", "Wireline Competition Bureau", "2024-01-02", "APPLICATION"),
    // individual -> dropped
    bronzeRow("8", "John Smith", "2024-01-03", "APPLICATION"),
    // irrelevant proceeding -> dropped before grouping
    bronzeRow("9", "Offtopic Industries LLC", "2024-01-04", "APPLICATION",
      docket = "99-999", desc = "Spectrum auction matters"))

  private lazy val out = IpesPipeline.structure(bronze(fixture))

  test("company set: merges suffix + plural variants, drops gated rows") {
    val companies = out.companies.collect()
      .map(r => r.getAs[String]("normalized_name") -> r).toMap
    assert(companies.keySet === Set("test telecom", "broadband dynamics", "stratus network"))
  }

  test("merged groups count filings across variants and keep longest display name") {
    val byNorm = out.companies.collect()
      .map(r => r.getAs[String]("normalized_name") ->
        (r.getAs[String]("entity_name"), r.getAs[Long]("filing_count"),
          r.getAs[String]("latest_filing_date"))).toMap
    assert(byNorm("test telecom") === (("Test Telecom, Inc.", 2L, "2024-03-10")))
    assert(byNorm("stratus network") === (("Stratus Networks", 2L, "2024-04-05")))
    assert(byNorm("broadband dynamics") === (("Broadband Dynamics Inc", 1L, "2024-02-01")))
  }

  test("company ids are reference-parity uuid5 of the normalized name") {
    val ids = out.companies.collect()
      .map(r => r.getAs[String]("normalized_name") -> r.getAs[String]("id")).toMap
    assert(ids("test telecom") === "ee0d7101-b1a2-5ca0-9fbd-48c290cf0523")
    assert(ids("broadband dynamics") === "869d9876-ec7b-5fab-ba2a-ccb08f70571f")
    // canonical is the singular form (min of the merged component)
    assert(ids("stratus network") === "94fd2c33-deba-578e-9322-cb12fd8e636f")
  }

  test("fact rows: FK to company, primary_doc_url from packed list") {
    val facts = out.filings.collect()
      .map(r => r.getAs[String]("filing_id") ->
        (r.getAs[String]("company_id"), r.getAs[String]("primary_doc_url"))).toMap
    assert(facts.keySet === Set("1", "2", "3", "4", "5"))
    assert(facts("1") === (("ee0d7101-b1a2-5ca0-9fbd-48c290cf0523", "https://x/doc/1/1")))
    assert(facts("3")._1 === "ee0d7101-b1a2-5ca0-9fbd-48c290cf0523")
    assert(facts("2")._2 === "") // no urls -> empty primary
  }

  test("nested form sorts filings newest-first") {
    val stratus = out.nested
      .filter(org.apache.spark.sql.functions.col("normalized_name") === "stratus network")
      .selectExpr("transform(filings, f -> f.filing_id) AS ids")
      .collect()(0).getSeq[String](0)
    assert(stratus === Seq("5", "4"))
  }

  test("the outputs read the name map and company keys as pinned leaves") {
    // Every write plans its output on its own, so an output that
    // re-derives the name-level aggregate runs it again per write.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    def aggregates(p: LogicalPlan) = p.collect { case a: Aggregate => a }.size
    def pinned(p: LogicalPlan) =
      p.collectLeaves().collect { case r: LogicalRDD => r.output.map(_.name).toSet }
    val canon = Set("name", "normalized_name")
    val keyed = Set("id", "entity_name", "normalized_name", "entity_type",
      "is_applicant", "filing_count", "latest_filing_date")
    val companies = out.companies.queryExecution.optimizedPlan
    val filings = out.filings.queryExecution.optimizedPlan
    val nested = out.nested.queryExecution.optimizedPlan
    assert(aggregates(companies) === 0, companies)
    assert(aggregates(filings) === 0, filings)
    assert(aggregates(nested) === 1, nested) // the per-company filing lists
    assert(pinned(companies).contains(keyed), companies)
    for (p <- Seq(filings, nested)) {
      assert(pinned(p).contains(canon), p)
      assert(pinned(p).contains(keyed), p)
    }
  }

  test("validation split + stats: all silver companies pass the constraint") {
    val st = Validate.stats(out.companies, Validate.companyConstraint).collect()(0)
    assert(st.getLong(0) === 3 && st.getLong(1) === 0 && st.getLong(2) === 3)
  }

  test("observedValid yields counts through the Observation channel") {
    val (valid, obs) = Validate.observedValid(out.companies, Validate.companyConstraint)
    assert(valid.count() === 3) // the action that populates the observation
    val m = obs.get
    assert(m("n_valid") === 3L)
    assert(m("n_invalid") === 0L)
  }

  private def withDockets(companies: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val dockets = out.filings.groupBy(col("company_id"))
      .agg(array_sort(collect_set(col("docket_number"))).as("dockets"))
    companies.join(dockets, companies("id") === dockets("company_id"), "left")
      .drop("company_id")
      .withColumn("dockets", coalesce(col("dockets"), array().cast("array<string>")))
  }

  test("enrichment stub is deterministic and cache path short-circuits") {
    import spark.implicits._
    val keys = withDockets(out.companies)
      .select($"id", $"normalized_name", $"filing_count", $"dockets")
      .as[Enrich.CompanyKey]
    val first = Enrich.enrichAll(keys).collect().sortBy(_.normalized_name)
    val second = Enrich.enrichAll(keys).collect().sortBy(_.normalized_name)
    assert(first.toSeq === second.toSeq)
    assert(first.forall(e => IpesSchemas.IndustrySegments.contains(e.industry_segment)))
    // the A6 docket context reaches the stub output
    assert(first.forall(_.docket_context === "INBOX-52.15"))
    assert(first.forall(_.activity_signal.endsWith("across 1 dockets")))
    // cache with one pre-enriched row: that row must come back unchanged
    val cache = Seq(("test telecom", false, "cached", "Unknown", "cached summary",
        "SMB", "CACHED-DOCKET"))
      .toDF("normalized_name", "is_active", "activity_signal",
        "industry_segment", "product_summary", "market_position", "docket_context")
    val (all, hits) =
      Enrich.enrichWithCache(spark, withDockets(out.companies), cache)
    val tt = all.filter($"normalized_name" === "test telecom").collect()(0)
    assert(tt.getAs[String]("activity_signal") === "cached")
    assert(tt.getAs[String]("docket_context") === "CACHED-DOCKET")
    assert(all.count() === 3)
    assert(hits.get("hits") === 1L)
    assert(Enrich.grownCache(cache, all).count() === 3) // grew by the two misses
  }

  /** Twelve distinct relevant applicant names: a name universe past a
    * parity cap tightened to 10.
    */
  private lazy val twelveNames = bronze(Seq("Alpha", "Bravo", "Charlie", "Delta",
    "Echo", "Foxtrot", "Golf", "Hotel", "India", "Juliet", "Kilo", "Lima")
    .zipWithIndex.map { case (w, i) =>
      bronzeRow(s"${100 + i}", s"$w Telecom LLC", "2024-05-01", "APPLICATION")
    })

  test("greedy parity mode refuses a name universe past the driver cap") {
    // Parity mode collects the distinct-name universe to the driver;
    // past spark.graft.dedup.greedyParityMaxNames it must refuse with
    // a pointer at the distributed default, not OOM.
    val key = "spark.graft.dedup.greedyParityMaxNames"
    spark.conf.set(key, "10")
    try {
      val e = intercept[IllegalArgumentException] {
        IpesPipeline.structure(twelveNames, greedyDedup = true).companies.count()
      }
      assert(e.getMessage.contains("greedyDedup parity mode"))
      assert(e.getMessage.contains("greedyDedup = false"))
    } finally spark.conf.unset(key)
    // And the default cap admits this domain.
    assert(IpesPipeline.structure(twelveNames, greedyDedup = true).companies.count() === 12)
    assert(IpesPipeline.GreedyParityMaxNames >= 1000000)
  }

  test("greedy parity cap refuses Int.MaxValue instead of wrapping") {
    // limit(cap + 1) at cap = Int.MaxValue wraps negative — the guard
    // must turn that into the same loud refusal as a non-positive cap,
    // not a downstream AnalysisException.
    val key = "spark.graft.dedup.greedyParityMaxNames"
    for (bad <- Seq(Int.MaxValue.toString, "0", "-5")) {
      spark.conf.set(key, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          IpesPipeline.structure(twelveNames, greedyDedup = true).companies.count()
        }
        assert(e.getMessage.contains("greedyParityMaxNames"))
      } finally spark.conf.unset(key)
    }
  }
}

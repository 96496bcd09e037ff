package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DownloadSink, Readers, Writers}

/** The reference's `run_pipeline.py` as one composed driver
  * (SURVEY §3.1): bronze → structure → validate → silver star outputs →
  * cached enrichment → incremental document downloads → run-stats
  * append. Layer boundaries are parquet/CSV writes; each stage is a
  * `DataFrame => DataFrame` library call, so any subset can run
  * standalone.
  */
object Pipeline {

  case class Config(
      bronzePath: String,
      outDir: String,
      ratioThreshold: Double = 0.95,
      docLimit: Int = 0,
      runTs: String = "1970-01-01T00:00:00Z",
      fetch: String => Either[String, Array[Byte]] = _ => Left("offline"))

  case class RunStats(
      companies: Long, filings: Long, validCompanies: Long,
      invalidCompanies: Long, enriched: Long, cacheHits: Long,
      downloadsOk: Long, downloadsFailed: Long)

  def run(spark: SparkSession, conf: Config): RunStats = {
    // Stage 1-2: bronze (tolerant JSON lines) -> silver star schema.
    val bronze = Readers.jsonLines(spark, IpesSchemas.bronze, conf.bronzePath)
      .filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val structured = IpesPipeline.structure(bronze, conf.ratioThreshold)

    // Validation gate (F15/A13) before anything is written. The run
    // stats come from Observations on the writes below, each read only
    // after the action that fills it: `get` waits for a run that has
    // not happened.
    val (valid, validity) =
      Validate.observedValid(structured.companies, Validate.companyConstraint)
    val companies = valid.cache()
    val filings = structured.filings.cache()
    val filingCount = Observation()

    Writers.csvOrdered(companies,
      Seq("id", "entity_name", "normalized_name", "entity_type",
        "filing_count", "latest_filing_date"),
      s"${conf.outDir}/structured/companies")
    Writers.csvOrdered(filings.observe(filingCount, count(lit(1)).as("n")),
      Seq("company_id", "filing_id", "date_received", "docket_number",
        "submission_type", "status", "primary_doc_url"),
      s"${conf.outDir}/structured/filings")
    Writers.json(structured.nested, s"${conf.outDir}/structured/companies_nested")

    // Stage 3: enrichment with the persisted cache (J2 + write-back).
    val cachePath = s"${conf.outDir}/enrichment_cache"
    // Only a missing cache starts empty: a cache that exists but cannot
    // be read fails the run rather than re-enriching every company and
    // overwriting the good cache.
    val cache0 =
      try spark.read.parquet(cachePath)
      catch { case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "normalized_name STRING, is_active BOOLEAN, activity_signal STRING, " +
              "industry_segment STRING, product_summary STRING, market_position STRING, " +
              "docket_context STRING"))
      }
    // A6 context: the distinct docket set per company feeds the
    // enrichment effect (the reference folds it into the LLM prompt).
    val companyDockets = filings
      .groupBy(col("company_id"))
      .agg(sort_array(collect_set(col("docket_number"))).as("dockets"))
    val companiesWithContext = companies
      .join(companyDockets, companies("id") === companyDockets("company_id"), "left")
      .drop("company_id")
      .withColumn("dockets",
        coalesce(col("dockets"), array().cast("array<string>")))
    val (enriched, cacheHits) =
      Enrich.enrichWithCache(spark, companiesWithContext, cache0)
    val enrichedCount = Observation()
    val enrichedPath = s"${conf.outDir}/enriched"
    enriched.observe(enrichedCount, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(enrichedPath)
    // The write-back reads the enriched rows as written, with their
    // known schema (no inference job), so the effect runs once per
    // miss. It is written before the swap: its plan reads the old
    // cache files.
    Enrich.grownCache(cache0, spark.read.schema(enriched.schema).parquet(enrichedPath))
      .write.mode("overwrite").parquet(s"$cachePath.tmp")
    val cacheDir = new Path(cachePath)
    val fs = cacheDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(cacheDir, true)
    if (!fs.rename(new Path(s"$cachePath.tmp"), cacheDir))
      throw new java.io.IOException(s"could not move $cachePath.tmp to $cachePath")

    // Stage 4: incremental downloads (S9-S11) against the manifest.
    val manifestPath = s"${conf.outDir}/downloads"
    val manifestNames = Option(new java.io.File(manifestPath).list())
      .getOrElse(Array.empty[String])
      .map { n =>
        val i = n.lastIndexOf('.')
        if (i >= 0) n.substring(0, i) else n
      }
    val manifest = {
      import spark.implicits._
      manifestNames.toSeq.toDF("filename")
    }
    val docQueue = filings.filter(col("primary_doc_url") =!= "")
      .join(companies.select(col("id"), col("entity_name")),
        filings("company_id") === col("id"))
      .select(col("filing_id").as("doc_id"), col("entity_name"),
        col("primary_doc_url").as("url"))
    val queue = DownloadSink.buildQueue(docQueue, manifest,
      manifestNames.length.toLong, conf.docLimit)
    val summary = DownloadSink.run(queue, manifestPath, conf.fetch)

    // Epilogue: append-history stats (S8).
    def n(obs: Observation, name: String) = obs.get(name).asInstanceOf[Long]
    val nValid = n(validity, "n_valid")
    val stats = RunStats(
      nValid, n(filingCount, "n"),
      nValid, n(validity, "n_invalid"),
      n(enrichedCount, "n"), n(cacheHits, "hits"),
      summary.succeeded, summary.failed)
    import spark.implicits._
    Writers.appendHistory(
      Seq((stats.companies, stats.filings, stats.validCompanies,
        stats.invalidCompanies, stats.enriched, stats.cacheHits,
        stats.downloadsOk, stats.downloadsFailed))
        .toDF("companies", "filings", "valid_companies", "invalid_companies",
          "enriched", "cache_hits", "downloads_ok", "downloads_failed"),
      s"${conf.outDir}/monitoring/run_stats", conf.runTs)
    companies.unpersist()
    filings.unpersist()
    stats
  }
}

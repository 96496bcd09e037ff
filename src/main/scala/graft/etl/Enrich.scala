package graft.etl

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-layer enrichment (`code/enrich_data.py`), Spark-shaped.
  *
  * The reference calls an LLM per company with a 21 s rate limit and a
  * JSON cache keyed by normalized name. The Spark architecture keeps
  * the two halves the reference hand-codes:
  *
  *  - J2 cache join: companies LEFT JOIN the persisted cache; hits pass
  *    through, misses flow to the effect stage, which runs once per
  *    miss: the write-back reads the enriched rows as written.
  *  - The effect stage is `mapPartitions` over a typed Dataset — the
  *    batch-boundary pattern for side-effecting calls (HTTP + JSON
  *    parse), never a per-row UDF inside a select. Offline, the call is
  *    a deterministic stub (md5-derived labels) so results are
  *    oracle-checkable; the rate limiter hook marks where pacing lives.
  *    `coalesce(maxConcurrency)` caps parallel callers the way the
  *    reference's serial loop caps at 1.
  */
object Enrich {

  /** `dockets` is the company's distinct docket list — the aggregation
    * context the reference folds into the LLM prompt
    * (`code/enrich_data.py:170-173`, the A6 set feeding the effect).
    */
  case class CompanyKey(
      id: String, normalized_name: String, filing_count: Long,
      dockets: Seq[String])
  case class Enriched(
      id: String, normalized_name: String, filing_count: Long,
      is_active: Boolean, activity_signal: String, industry_segment: String,
      product_summary: String, market_position: String, docket_context: String)

  /** Deterministic offline stand-in for the LLM call: labels derived
    * from md5(normalized_name) nibbles (ascii mod), so any engine can
    * reproduce them. The docket context flows into the output the way
    * the reference's prompt consumes its docket list — sorted/distinct
    * so the result is partitioning-independent.
    */
  def stub(key: CompanyKey): Enriched = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(key.normalized_name.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val seg = IpesSchemas.IndustrySegments(hex.charAt(0).toInt % IpesSchemas.IndustrySegments.length)
    val pos = IpesSchemas.MarketPositions(hex.charAt(1).toInt % IpesSchemas.MarketPositions.length)
    val dockets = key.dockets.distinct.sorted
    Enriched(
      key.id, key.normalized_name, key.filing_count,
      is_active = hex.charAt(2).toInt % 2 == 0,
      activity_signal =
        s"${key.filing_count} filings on record across ${dockets.size} dockets",
      industry_segment = seg,
      product_summary = s"Provider of ${key.normalized_name} services",
      market_position = pos,
      docket_context = dockets.mkString("; "))
  }

  /** Enrich all companies through the mapPartitions effect stage.
    * `rateLimitMs` > 0 sleeps between calls (the reference's 21 s
    * pacing); 0 for offline stub runs.
    */
  def enrichAll(
      companies: Dataset[CompanyKey],
      rateLimitMs: Long = 0,
      maxConcurrency: Int = 8): Dataset[Enriched] = {
    import companies.sparkSession.implicits._
    companies
      .coalesce(maxConcurrency)
      .mapPartitions { it =>
        it.map { k =>
          if (rateLimitMs > 0) Thread.sleep(rateLimitMs)
          stub(k)
        }
      }
  }

  /** F16: parse + validate an LLM JSON reply (`enrich_data.py:114-124`):
    * strip markdown fences, tolerant `from_json` (null on malformed),
    * then require all five contract keys non-null or null the whole
    * struct — the column form of the reference's key check.
    */
  def parseLlmReply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("is_active", BooleanType),
      StructField("activity_signal", StringType),
      StructField("industry_segment", StringType),
      StructField("product_summary", StringType),
      StructField("market_position", StringType)))
    val parsed = from_json(regexp_replace(c, "```(json)?", ""), schema)
    when(
      parsed.isNotNull &&
        parsed.getField("is_active").isNotNull &&
        parsed.getField("activity_signal").isNotNull &&
        parsed.getField("industry_segment").isNotNull &&
        parsed.getField("product_summary").isNotNull &&
        parsed.getField("market_position").isNotNull,
      parsed).otherwise(lit(null).cast(schema))
  }

  /** Columns the current cache layout carries beyond the key; caches
    * written by earlier layouts load with null defaults (layout
    * migration — an incremental run against an old cache dir must not
    * fail on select/unionByName).
    */
  private val CacheValueColumns = Seq(
    "is_active" -> "boolean", "activity_signal" -> "string",
    "industry_segment" -> "string", "product_summary" -> "string",
    "market_position" -> "string", "docket_context" -> "string")

  private def migrateCache(cache: DataFrame): DataFrame =
    CacheValueColumns.foldLeft(cache) { case (df, (name, typ)) =>
      if (df.columns.contains(name)) df
      else df.withColumn(name, lit(null).cast(typ))
    }

  /** J2: cache probe → enrich only the misses. Returns the enriched
    * frame and an Observation whose `hits` is the number of companies
    * found in the cache, filled by the action that consumes the frame.
    * Cache keys are unique (the cache grows only by misses), so the
    * inner join's row count is the hit count. `companies` must carry a
    * `dockets` array column (the A6 context); cache rows store the full
    * enrichment output including the docket-derived fields, so hits
    * never recompute context.
    */
  def enrichWithCache(
      spark: SparkSession,
      companies: DataFrame,
      cache0: DataFrame): (DataFrame, Observation) = {
    import spark.implicits._
    val cache = migrateCache(cache0)
    val hitCount = Observation()
    val hits = companies.join(broadcast(cache), Seq("normalized_name"), "inner")
      .observe(hitCount, count(lit(1)).as("hits"))
    val misses = companies.join(broadcast(cache.select("normalized_name")),
        Seq("normalized_name"), "left_anti")
      .select(col("id"), col("normalized_name"), col("filing_count"),
        col("dockets"))
      .as[CompanyKey]
    val fresh = enrichAll(misses).toDF()
    (hits.select(fresh.columns.map(col).toSeq: _*).unionByName(fresh), hitCount)
  }

  /** The write-back: `cache0` plus the rows of `enriched` whose names
    * it lacks, i.e. the misses. Pass the enriched rows as written and
    * read back: the lazy frame [[enrichWithCache]] returns would run
    * the effect a second time for every miss.
    */
  def grownCache(cache0: DataFrame, enriched: DataFrame): DataFrame = {
    val cache = migrateCache(cache0)
    val cacheColumns = "normalized_name" +: CacheValueColumns.map(_._1)
    cache.unionByName(
      enriched.join(broadcast(cache.select("normalized_name")),
          Seq("normalized_name"), "left_anti")
        .select(cacheColumns.map(col): _*))
  }
}

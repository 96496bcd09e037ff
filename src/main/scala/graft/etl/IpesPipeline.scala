package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.FuzzyDedup
import graft.functions.GraftFunctions

/** Bronze → silver: the reference's `structure_data()` re-expressed as
  * one declarative plan (`code/structure_data.py:125-378`).
  *
  * Stage order matches the reference's hand-coded pushdown: relevance +
  * blocklist filters run BEFORE the quadratic dedup so the expensive
  * pass sees |distinct names|, not |rows| — except here Catalyst also
  * pushes the filters into the scan. The group-collect, argmax display
  * name, bool_or applicant flag, desc sort, and uuid5 id are all one
  * aggregation over a single shuffle on the canonical name.
  *
  * Scale: the only shuffles are (1) the canonical-name dedup join
  * (broadcast — |distinct names| is tiny relative to rows), (2) the
  * groupBy canonical name — and that groupBy aggregates SCALARS only.
  * Each output is a separate write and each write is planned on its
  * own, so `structure` pins the two frames every output shares, once
  * per call: the canonical-name map (one row per distinct name) and the
  * company keys (one row per company). `companies` is a projection of
  * the pinned keys, and the fact table is the row-level checkpoint
  * joined to the pinned map and keys (both broadcast): no write re-runs
  * the name-level dedup join or the grouped aggregate.
  * The r7 form collected the per-name filing list inside the phase-1
  * aggregation (behind a localCheckpoint, so column pruning could
  * never drop it): one aggregation buffer then held every filing of a
  * name — ~330k structs/name at the 100× orders replica — and OOM'd
  * the executor. Now the star outputs (`companies`, `filings`) touch
  * no collect_list at all, and only the `nested` JSON form — whose
  * CONTRACT is a per-company array — builds its lists (its one
  * aggregate), lazily, when actually written. Filings-per-company skew
  * in that one consumer is the documented residual; cap with slice()
  * if a company's array must be bounded.
  */
object IpesPipeline {

  /** Star-schema outputs + the nested silver form. */
  case class Structured(companies: DataFrame, filings: DataFrame, nested: DataFrame)

  /** Hard cap on the distinct-name universe `greedyDedup = true` will
    * collect to the driver. Parity mode exists to replay the
    * reference's order-dependent sequential merge bit-for-bit, which
    * is a driver-side algorithm by nature; past this bound the collect
    * itself is the OOM, so `structure` refuses with a pointer at the
    * distributed CC default rather than letting the caller discover it
    * as a dead JVM. 1M names ≈ tens of MB of strings — comfortably
    * driver-sized — while the greedy merge's own O(n²) ratio scan is
    * already impractical well before that. Override per session with
    * `spark.graft.dedup.greedyParityMaxNames`.
    */
  val GreedyParityMaxNames: Int = 1000000

  def structure(
      bronze: DataFrame,
      ratioThreshold: Double = 0.95,
      withId: Boolean = true,
      greedyDedup: Boolean = false): Structured = {

    val base = bronze
      .filter(
        Normalize.isRelevant(col("proceeding_description"), col("docket_number")) &&
          !Normalize.shouldExclude(col("company_name")))
      .withColumn("normalized_raw", Normalize.normalizeName(col("company_name")))
      .filter(col("normalized_raw") =!= "")

    val filingStruct = struct(
      col("submission_id").as("filing_id"),
      col("date_received"),
      col("docket_number"),
      col("submission_type"),
      col("filing_status"),
      when(col("document_urls").isNull || col("document_urls") === "",
        array().cast("array<string>"))
        .otherwise(split(col("document_urls"), "; ")).as("document_urls"),
      col("detail_url"))

    // Phase 1 — ONE pass over bronze, materialized at ROW level
    // (partition-parallel, spills to disk — per-task memory stays
    // bounded no matter how filings skew across names). Every later
    // consumer (name aggregation, dedup edge-collect, fact join,
    // nested lists) reads this checkpoint, so bronze is scanned and
    // the regex chain run exactly once. SERIALIZED storage level, not
    // the deserialized default: this checkpoint is CORPUS-sized, and
    // deserialized blocks hold every row as live heap objects — at the
    // 150M-filing 1000× replica that OOM'd a 64 GB single JVM outright
    // (32 tasks unrolling ~5M-row object blocks concurrently).
    // Serialized blocks are compact and overflow to disk gracefully;
    // the deserialize-on-reuse CPU is noise next to the regex chain
    // this checkpoint exists to avoid re-running.
    val baseP = base.select(
        col("company_name"), col("normalized_raw"),
        col("submission_type"), col("date_received"), filingStruct.as("f"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

    // Scalar-only per-name pre-aggregation: every aggregate is
    // constant-size per group (the r7 collect_list here is what OOM'd
    // at 100× — see the class doc). Name-domain-sized output.
    val perName = baseP
      .groupBy(col("normalized_raw"))
      .agg(
        max_by(col("company_name"),
          concat(lpad(length(col("company_name")).cast("string"), 4, "0"),
            col("company_name"))).as("entity_name"),
        count(lit(1)).as("filing_count"),
        bool_or(Normalize.isApplicationType(col("submission_type")))
          .as("is_applicant"),
        max(col("date_received")).as("_latest"))
      .localCheckpoint()

    // J3 over the pre-aggregated name domain (no extra bronze pass).
    // greedyDedup = true replays the reference's order-dependent merge
    // exactly (bit-parity mode); default is the CC superset semantics.
    val canon = (if (greedyDedup) {
      val spark = bronze.sparkSession
      import spark.implicits._
      // Parity mode is inherently driver-sided (the reference's greedy
      // merge is order-dependent, so the whole name universe must be
      // walked sequentially) — refuse loudly past a bounded name
      // domain instead of collecting a corpus-scale universe into
      // driver memory. limit(N+1) bounds the probe itself; the
      // distributed default (greedyDedup = false) has no such bound.
      // Conf-overridable (the topk.maxBufferedKeys pattern) so a
      // deployment can tighten it to its driver size.
      val cap = spark.conf
        .get("spark.graft.dedup.greedyParityMaxNames",
          GreedyParityMaxNames.toString).toInt
      // upper bound too: limit(cap + 1) would wrap negative at
      // Int.MaxValue and surface as a confusing AnalysisException
      // instead of this refusal.
      require(cap > 0 && cap < Int.MaxValue,
        s"greedyParityMaxNames must be in [1, ${Int.MaxValue - 1}], got $cap")
      val probe = perName.select(col("normalized_raw")).limit(cap + 1).collect()
      require(probe.length <= cap,
        s"greedyDedup parity mode walks the name universe on the driver " +
          s"and is capped at $cap distinct names; this corpus exceeds it — " +
          "use the default distributed CC dedup (greedyDedup = false)")
      val keys = probe.map(_.getString(0)).toSeq
      FuzzyDedup.greedyCanonicalMap(keys, ratioThreshold).toSeq
        .toDF("name", "canonical")
    } else {
      FuzzyDedup.canonicalMap(
        perName.select(col("normalized_raw").as("name")), "name",
        ratioThreshold)
    }).withColumnRenamed("canonical", "normalized_name")
      // Pinned (see the class doc): the company keys below, the fact
      // join and the nested lists all read this map. One row per
      // distinct name.
      .localCheckpoint()

    // Phase 2 — merge dedup'd groups: scalar aggregates re-combine
    // losslessly (max of max, sum of counts, or of ors).
    val grouped = perName
      .join(broadcast(canon), perName("normalized_raw") === canon("name"))
      .groupBy(col("normalized_name"))
      .agg(
        max_by(col("entity_name"),
          concat(lpad(length(col("entity_name")).cast("string"), 4, "0"),
            col("entity_name"))).as("entity_name"),
        sum(col("filing_count")).as("filing_count"),
        bool_or(col("is_applicant")).as("is_applicant"),
        max(col("_latest")).as("_latest"))

    val gated = grouped
      .withColumn("is_individual", Normalize.isLikelyIndividual(col("entity_name")))
      .filter(col("is_applicant") && !col("is_individual"))
      .withColumn("entity_type", lit("Company"))
      .withColumn("latest_filing_date", coalesce(col("_latest"), lit("")))
      .drop("is_individual", "_latest")

    // Pinned: companies, the fact table's id map and both nested sides
    // read the company keys, and each would re-run the grouped
    // aggregate above in its own write. One row per company.
    val keyed = (if (withId)
      gated.withColumn("id", GraftFunctions.uuid5(col("normalized_name")))
    else gated.withColumn("id", col("normalized_name"))).localCheckpoint()

    val companies = keyed.select(
      col("id"), col("entity_name"), col("normalized_name"),
      col("entity_type"), col("filing_count"), col("latest_filing_date"))

    // Fact rows straight off the row-level checkpoint: canonicalize
    // each filing's name (broadcast — name-domain sized), keep only
    // gated companies (broadcast — company-domain sized), emit one row
    // per filing. No per-group state anywhere on this path.
    val canonRows = baseP
      .join(broadcast(canon), baseP("normalized_raw") === canon("name"))
    val idMap = broadcast(keyed.select(col("normalized_name"), col("id")))
    val filings = canonRows
      .join(idMap, "normalized_name")
      .select(
        col("id").as("company_id"),
        col("f.filing_id").as("filing_id"),
        col("f.date_received").as("date_received"),
        col("f.docket_number").as("docket_number"),
        col("f.submission_type").as("submission_type"),
        col("f.filing_status").as("status"),
        coalesce(try_element_at(col("f.document_urls"), lit(1)), lit(""))
          .as("primary_doc_url"))

    // Nested JSON form: the one consumer whose contract IS a
    // per-company array — its collect_list is LAZY (runs only when
    // nested is written), sorted newest-first with the same
    // (date, filing-struct) comparator as before.
    val lists = canonRows
      .join(idMap.select(col("normalized_name")), "normalized_name")
      .groupBy(col("normalized_name"))
      .agg(sort_array(
        collect_list(struct(col("date_received").as("_k"), col("f").as("f"))),
        asc = false).as("_sorted"))
      .withColumn("filings", transform(col("_sorted"), x => x.getField("f")))
      .drop("_sorted")
    val nested = keyed
      .join(lists, "normalized_name")
      .select("id", "entity_name", "normalized_name", "entity_type",
        "is_applicant", "filing_count", "latest_filing_date", "filings")

    Structured(companies, filings, nested)
  }
}

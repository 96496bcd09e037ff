package graft.registry

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.etl.{Normalize, Validate}
import graft.functions.OracleSafe._
import graft.sources.{DownloadSink, Readers, Writers}

/** S-family sources/sinks under the driver's oracle gate: write through
  * the engine's writers into a fresh temp dir, read back through the
  * schema-explicit readers, and compare against the identity oracle —
  * the round-trip IS the assertion that serialization is lossless.
  * `s8_run_stats_trend` additionally replays the reference Monitoring
  * page's read-back analytics over the append-history sink
  * (`dashboard/pages/2_📊_Monitoring.py:24-100`: per-run status table +
  * valid/invalid metrics, newest first).
  */
object SourceQueries extends QueryRegistry {

  /** The S10 download-queue fixture: (docs, manifest) synthesized from
    * orders — every 5th doc already downloaded. Shared by the
    * registered query and tools/BloomProbe (which also needs the
    * UNGATED plain-anti form for its shuffle-volume comparison).
    */
  private[graft] def s10Fixture(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.orders(s, dir).select(
      col("o_orderkey").cast("string").as("doc_id"),
      concat(lit("Vendor "), col("o_custkey") % 40, lit(" <Networks>"))
        .as("entity_name"),
      concat(lit("https://www.fcc.gov/ecfs/document/"), col("o_orderkey"),
        lit("/1")).as("url"))
    val manifest = docs.filter(col("doc_id").cast("long") % 5 === 0)
      .select(concat(Normalize.sanitizeFilename(col("entity_name")),
        lit("_"), col("doc_id")).as("filename"))
    (docs, manifest)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S6 write (JSON lines) -> S3-family schema-explicit tolerant read.
    "s6_s3_json_roundtrip" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_json_rt") + "/docs"
      Writers.json(Tables.documents(s, dir), out)
      Readers.jsonLines(s,
        StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
        out)
        .drop("_corrupt_record")
        .select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // S7 column-ordered CSV write -> S4 headered schema-explicit read.
    // The write order is deliberately non-natural (DictWriter-fieldnames
    // semantics); the read schema matches the file order, the final
    // select restores natural order for the oracle.
    "s7_s4_csv_roundtrip" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_csv_rt") + "/cust"
      Writers.csvOrdered(Tables.customer(s, dir),
        Seq("c_mktsegment", "c_custkey", "c_name", "c_acctbal", "c_nationkey"), out)
      Readers.csv(s,
        StructType.fromDDL(
          "c_mktsegment STRING, c_custkey BIGINT, c_name STRING, " +
            "c_acctbal DOUBLE, c_nationkey INT"),
        out)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    }),

    // A13: the validation-tally row the run-stats sink records, over an
    // engineered companies frame with empty-id / null-name / negative-
    // count violations.
    "a13_validation_stats" -> ((s, dir) => {
      val companies = Tables.customer(s, dir).select(
        when(col("c_custkey") % 11 === 0, lit(""))
          .otherwise(col("c_custkey").cast("string")).as("id"),
        when(col("c_custkey") % 13 === 0, lit(null).cast("string"))
          .otherwise(col("c_name")).as("entity_name"),
        when(col("c_custkey") % 7 === 0, lit(-1L))
          .otherwise(col("c_custkey") % 100).as("filing_count"))
      Validate.stats(companies, Validate.companyConstraint)
    }),

    // S10+S11+F14 composition: the download queue build — endpoint
    // rewrite, sanitized filename, manifest anti-join (every 5th doc
    // already downloaded). Goes through the gated buildQueue: plain
    // broadcast anti-join at fixture tiers (manifest < 1M rows),
    // Bloom split at replica tiers — the oracle (the plain anti-join
    // SQL) is the same either way by BloomSkip's construction.
    "s10_queue_build" -> ((s, dir) => {
      val (docs, manifest) = s10Fixture(s, dir)
      DownloadSink.buildQueue(docs, manifest, manifest.count())
        .select("doc_id", "entity_name", "url", "filename")
    }),

    // S11 at scale: the SAME skip-existing semantics as
    // s10_queue_build's anti-join, routed through the Bloom-
    // pre-filtered split (graft.sources.BloomSkip) — only Bloom
    // suspects (true manifest hits + fpp false positives) pay the
    // shuffle; rows the filter has never seen stream straight through.
    // The oracle is the PLAIN anti-join: matching it row-for-row is
    // the losslessness proof (Bloom filters have no false negatives;
    // the residual exact join removes the false positives). Unlike
    // s10's in-plan manifest derivation, the manifest here is
    // PERSISTED state read back from parquet — which is what it is in
    // production (the list of already-completed outputs); the Bloom
    // build's two passes then scan a small file, not the corpus-sized
    // queue-derivation chain.
    "s11_bloom_skip" -> ((s, dir) => {
      val docs = Tables.orders(s, dir).select(
        col("o_orderkey").cast("string").as("doc_id"),
        concat(lit("Vendor "), col("o_custkey") % 40, lit(" <Networks>"))
          .as("entity_name"),
        concat(lit("https://www.fcc.gov/ecfs/document/"), col("o_orderkey"),
          lit("/1")).as("url"))
        .withColumn("url", DownloadSink.rewriteUrl(col("url")))
        .withColumn("filename",
          concat(Normalize.sanitizeFilename(col("entity_name")), lit("_"),
            col("doc_id")))
      val out = QueryTmp.dir("graft_bloom_manifest") +
        "/manifest"
      docs.filter(col("doc_id").cast("long") % 5 === 0)
        .select("filename").write.mode("overwrite").parquet(out)
      graft.sources.BloomSkip.skipExisting(docs, s.read.parquet(out), "filename")
        .select("doc_id", "entity_name", "url", "filename")
    }),

    // Output-layout control at scale: hive-partitioned parquet write
    // (one dir per lang, repartitioned so each partition writes one
    // file instead of |tasks| small files) -> partition-pruned read
    // back. The small-files problem is a first-class 100 TB concern.
    "s6_partitioned_write" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_part_write") + "/docs"
      Tables.documents(s, dir)
        .repartition(col("lang"))
        .write.option("maxRecordsPerFile", 100000)
        .partitionBy("lang").parquet(out)
      s.read.parquet(out).select("doc_id", "lang", "n_chars")
    }),

    // Schema evolution on read: batch 2 added a column after batch 1
    // shipped — mergeSchema unions the file schemas and null-backfills
    // the old files, the append-only evolution contract a long-lived
    // 100 TB table needs (no rewrite of history).
    "s14_schema_evolution" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_schema_evo")
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"))
        .write.parquet(s"$out/batch1")
      Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)
        .select(col("doc_id"), col("source"), col("lang"))
        .write.parquet(s"$out/batch2")
      s.read.option("mergeSchema", true)
        .parquet(s"$out/batch1", s"$out/batch2")
        .select(col("doc_id"), col("source"), col("lang"))
    }),

    // Range-partitioned sorted layout: repartitionByRange + in-partition
    // sort gives non-overlapping sorted files — the layout that lets
    // downstream consumers merge-scan or min/max-prune on the sort key.
    // SourcesSpec proves the file ranges don't overlap.
    "s15_range_partitioned_write" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_range_write") + "/orders"
      Tables.orders(s, dir)
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.parquet(out)
      s.read.parquet(out).select("o_orderkey", "o_totalprice")
    }),

    // S18: ORC round-trip — the second columnar format Spark ships
    // natively; same schema-explicit write/read contract as the
    // parquet paths (identity oracle).
    "s18_orc_roundtrip" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_orc_rt") + "/docs"
      Tables.documents(s, dir).write.orc(out)
      s.read.orc(out).select("doc_id", "text", "lang", "source", "n_chars")
    }),

    // S17: z-order (Morton) clustered layout — the two-key pruning
    // complement to S15's single-key range sort. Written z-ordered,
    // read back under a 2-D box predicate; every file is a compact
    // bounding box in BOTH keys, so parquet stats prune on either.
    // ZOrderSpec proves the bounding-box tightening; the oracle is the
    // plain relational predicate (layout is pure reordering).
    "s17_zorder_scan" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_zorder_q") + "/orders"
      graft.operators.ZOrder.layoutBy(
          Tables.orders(s, dir)
            .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
          "o_custkey", "o_orderkey", numFiles = 8)
        .write.parquet(out)
      s.read.parquet(out)
        .filter(col("o_custkey").between(100, 400) &&
          col("o_orderkey").between(1000, 30000))
    }),

    // Bucketed co-located join: both sides are written pre-shuffled on
    // the join key (8 buckets + in-bucket sort), so the sort-merge join
    // plans with NO runtime Exchange on either input — the shuffle
    // happens once at write time and every subsequent join of these
    // tables rides it. At 100 TB this is THE join strategy for
    // repeatedly-joined fact tables; the spec asserts the exchange-free
    // plan. (merge hints keep the demonstration honest — without them
    // the small side would broadcast and hide the bucketing.)
    "bucketed_colocated_join" -> ((s, dir) => {
      // Unique per-invocation table names: fixed globals would race
      // under concurrent registry use and strand catalog entries. The
      // tiny agg result is materialized (localCheckpoint) so the
      // catalog entries and bucket files can be dropped before return.
      val p = java.nio.file.Paths.get(QueryTmp.dir("graft_bucketed"))
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val (tOrders, tLine) = (s"graft_b_orders_$tag", s"graft_b_lineitem_$tag")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$p/orders").saveAsTable(tOrders)
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$p/lineitem").saveAsTable(tLine)
      val res = s.table(tLine).hint("merge")
        .join(s.table(tOrders).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), decSum(col("l_extendedprice")).as("revenue"))
        .localCheckpoint(true)
      s.sql(s"DROP TABLE IF EXISTS $tOrders")
      s.sql(s"DROP TABLE IF EXISTS $tLine")
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      res
    }),

    // S9 readback: real files on disk through Spark's binaryFile
    // source — the §1.1 document-repository row over engine-written
    // binaries, not synthetic in-memory bytes. Deterministic content
    // (magic prefix by doc_id class + utf8 text) goes down via
    // Writers.binaryDocs, comes back as (path, length, content),
    // is F13-classified and measured; the oracle recomputes all of it
    // from `documents`.
    "s9_binary_readback" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_bin_repo")
      val bin = Tables.documents(s, dir).filter(col("doc_id") < 100)
        .select(
          concat(lit("doc_"), col("doc_id")).as("filename"),
          concat(
            when(col("doc_id") % 3 === 0, lit("%PDF-1.7 "))
              .when(col("doc_id") % 3 === 1, lit("PK archive "))
              .otherwise(lit("")),
            col("text")).cast("binary").as("content"))
      Writers.binaryDocs(bin, out)
      s.read.format("binaryFile").load(out)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          coalesce(Normalize.classifyFileType(col("content")), lit("bin"))
            .as("file_type"))
    }),

    // A14: the download-run tally row (success/fail/skip counters the
    // reference prints at download_pdfs_robust.py:311-345), oracle-able
    // by snapshotting the sink's accumulators into a one-row frame.
    // The fetcher is deterministic (trailing url id % 7 fails), so the
    // DuckDB twin recomputes every counter relationally.
    "s9_download_summary" -> ((s, dir) => {
      val out = QueryTmp.dir("graft_dl_summary")
      val docs = Tables.orders(s, dir)
        .filter(col("o_orderkey") < 15000 && col("o_orderkey") % 8 === 0)
        .select(
          col("o_orderkey").cast("string").as("doc_id"),
          concat(lit("Vendor "), col("o_custkey") % 40, lit(" <Networks>"))
            .as("entity_name"),
          concat(lit("https://www.fcc.gov/ecfs/document/"), col("o_orderkey"),
            lit("/1")).as("url"))
      val manifest = docs.filter(col("doc_id").cast("long") % 5 === 0)
        .select(concat(Normalize.sanitizeFilename(col("entity_name")),
          lit("_"), col("doc_id")).as("filename"))
      val queue = DownloadSink.buildQueue(docs, manifest, manifest.count())
      val fetch: String => Either[String, Array[Byte]] = url => {
        val id = url.split("/").takeRight(2).head.toLong
        if (id % 7 == 0) Left(s"simulated 404 for $id")
        else Right(s"%PDF-1.7 payload $id".getBytes("UTF-8"))
      }
      val sum = DownloadSink.run(queue, out, fetch, maxConcurrency = 8)
      val nTotal = docs.count()
      val nQueued = queue.count()
      import s.implicits._
      Seq((nTotal, nTotal - nQueued, sum.succeeded, sum.failed))
        .toDF("n_total", "n_skipped", "n_succeeded", "n_failed")
    }),

    // S8 append-history sink + Monitoring read-back: three runs sliced
    // deterministically from events, appended as run_ts partitions,
    // then the success-rate/trend table newest-run-first.
    "s8_run_stats_trend" -> ((s, dir) => {
      val sink = QueryTmp.dir("graft_run_history") + "/run_stats"
      val e = Tables.events(s, dir)
      (0 until 3).foreach { r =>
        val stats = e.filter(col("event_id") % 3 === r).agg(
          count(lit(1)).as("total_processed"),
          sum(when(col("event_type") =!= "error", 1).otherwise(0)).as("valid_records"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("invalid_records"),
          decSum(col("value")).as("duration_proxy"))
        Writers.appendHistory(stats, sink, s"run_${r + 1}")
      }
      // run history is one row per run — a single-partition window over
      // it is the correct scale shape (|runs|, not |events|).
      val w = Window.orderBy(col("run_ts"))
      s.read.parquet(sink)
        .withColumn("success_rate",
          round(col("valid_records").cast("double") / col("total_processed"), 6))
        .withColumn("valid_delta",
          col("valid_records") - lag(col("valid_records"), 1).over(w))
        .select(col("run_ts").cast("string").as("run_ts"),
          col("total_processed"), col("valid_records"), col("invalid_records"),
          col("duration_proxy"), col("success_rate"), col("valid_delta"))
    }),
  )

  def oracle: Map[String, String] = Map(
    "s6_s3_json_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "s7_s4_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",

    "a13_validation_stats" -> """
      |WITH c AS (
      |  SELECT
      |    CASE WHEN c_custkey % 11 = 0 THEN '' ELSE CAST(c_custkey AS VARCHAR) END AS id,
      |    CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_name END AS entity_name,
      |    CASE WHEN c_custkey % 7 = 0 THEN -1 ELSE c_custkey % 100 END AS filing_count
      |  FROM customer),
      |f AS (
      |  SELECT (filing_count >= 0 AND id IS NOT NULL AND id <> ''
      |          AND entity_name IS NOT NULL AND entity_name <> '') AS ok
      |  FROM c)
      |SELECT
      |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
      |  CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS invalid_records,
      |  COUNT(*) AS total_records
      |FROM f""".stripMargin,

    "s10_queue_build" -> """
      |WITH docs AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
      |    'Vendor ' || (o_custkey % 40) || ' <Networks>' AS entity_name,
      |    'https://www.fcc.gov/ecfs/document/' || o_orderkey || '/1' AS url
      |  FROM orders),
      |named AS (
      |  SELECT doc_id, entity_name,
      |    regexp_replace(url, '/document/', '/documents/', 'g') AS url,
      |    regexp_replace(
      |      substring(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(entity_name, '[<>:"/\\|?*]', '_', 'g'),
      |            '\s+', '_', 'g'),
      |          '_+', '_', 'g'),
      |        1, 80),
      |      '^_+|_+$', '', 'g') || '_' || doc_id AS filename
      |  FROM docs),
      |manifest AS (
      |  SELECT filename FROM named WHERE CAST(doc_id AS BIGINT) % 5 = 0)
      |SELECT doc_id, entity_name, url, filename FROM named
      |WHERE filename NOT IN (SELECT filename FROM manifest)""".stripMargin,

    // Identical relational result to s10_queue_build by design: the
    // Bloom pre-filter + residual anti-join must be indistinguishable
    // from the plain anti-join.
    "s11_bloom_skip" -> """
      |WITH docs AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
      |    'Vendor ' || (o_custkey % 40) || ' <Networks>' AS entity_name,
      |    'https://www.fcc.gov/ecfs/document/' || o_orderkey || '/1' AS url
      |  FROM orders),
      |named AS (
      |  SELECT doc_id, entity_name,
      |    regexp_replace(url, '/document/', '/documents/', 'g') AS url,
      |    regexp_replace(
      |      substring(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(entity_name, '[<>:"/\\|?*]', '_', 'g'),
      |            '\s+', '_', 'g'),
      |          '_+', '_', 'g'),
      |        1, 80),
      |      '^_+|_+$', '', 'g') || '_' || doc_id AS filename
      |  FROM docs),
      |manifest AS (
      |  SELECT filename FROM named WHERE CAST(doc_id AS BIGINT) % 5 = 0)
      |SELECT doc_id, entity_name, url, filename FROM named
      |WHERE filename NOT IN (SELECT filename FROM manifest)""".stripMargin,

    "s6_partitioned_write" ->
      "SELECT doc_id, lang, n_chars FROM documents",

    "s14_schema_evolution" -> """
      |SELECT doc_id, source,
      |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang
      |FROM documents""".stripMargin,

    "s15_range_partitioned_write" ->
      "SELECT o_orderkey, o_totalprice FROM orders",

    "bucketed_colocated_join" -> """
      |SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |GROUP BY 1""".stripMargin,

    "s9_binary_readback" -> """
      |WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN '%PDF-1.7 '
      |         WHEN doc_id % 3 = 1 THEN 'PK archive '
      |         ELSE '' END || text AS content
      |  FROM documents WHERE doc_id < 100)
      |SELECT doc_id,
      |  CAST(octet_length(encode(content)) AS BIGINT) AS n_bytes,
      |  CASE WHEN left(content, 4) = '%PDF' THEN 'pdf'
      |       WHEN left(content, 2) = 'PK' THEN 'docx'
      |       ELSE 'bin' END AS file_type
      |FROM b""".stripMargin,

    "s18_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",

    "s17_zorder_scan" -> """
      |SELECT o_custkey, o_orderkey, o_totalprice FROM orders
      |WHERE o_custkey BETWEEN 100 AND 400
      |  AND o_orderkey BETWEEN 1000 AND 30000""".stripMargin,

    "s9_download_summary" -> """
      |WITH docs AS (
      |  SELECT o_orderkey AS id FROM orders
      |  WHERE o_orderkey < 15000 AND o_orderkey % 8 = 0),
      |q AS (SELECT id FROM docs WHERE id % 5 <> 0)
      |SELECT
      |  (SELECT COUNT(*) FROM docs) AS n_total,
      |  (SELECT COUNT(*) FROM docs WHERE id % 5 = 0) AS n_skipped,
      |  CAST(SUM(CASE WHEN id % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_succeeded,
      |  CAST(SUM(CASE WHEN id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed
      |FROM q""".stripMargin,

    "s8_run_stats_trend" -> """
      |WITH runs AS (
      |  SELECT 'run_' || (event_id % 3 + 1) AS run_ts,
      |    COUNT(*) AS total_processed,
      |    CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS invalid_records,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS duration_proxy
      |  FROM events GROUP BY 1)
      |SELECT run_ts, total_processed, valid_records, invalid_records,
      |  duration_proxy,
      |  round(CAST(valid_records AS DOUBLE) / total_processed, 6) AS success_rate,
      |  valid_records - lag(valid_records) OVER (ORDER BY run_ts) AS valid_delta
      |FROM runs""".stripMargin,
  )
}

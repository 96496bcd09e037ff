package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.etl.Normalize

/** S9–S11 + A14: the document-download effect sink
  * (`code/download_pdfs_robust.py`), Spark-shaped.
  *
  * Relational prep (all lazy, all pushdown-friendly):
  *  - S10 URL rewrite: `/document/` → `/documents/` (SPA shell vs
  *    binary endpoint);
  *  - F14 filename sanitization;
  *  - S11/J4 skip-existing: the incremental restart contract — an
  *    exact anti-join against the manifest of completed outputs,
  *    planned as a broadcast anti-join while the manifest is small
  *    and as the Bloom-split form ([[BloomSkip]]) once it outgrows
  *    broadcast size (see [[BloomSkipMinManifestRows]]).
  *
  * The effect itself is `foreachPartition` with an injected fetcher
  * (HTTP client in production, deterministic fake in tests — this
  * container has no egress), per-partition pacing, magic-byte type
  * sniffing (F13 semantics, JVM-side), and A14 success/fail/skip
  * accumulators. `coalesce(maxConcurrency)` caps parallel fetchers the
  * way the reference's serial loop caps at 1 — at scale, partition
  * count IS the politeness knob.
  */
object DownloadSink {

  case class Summary(succeeded: Long, failed: Long)

  /** S10: endpoint rewrite as a column op. */
  def rewriteUrl(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(c, "/document/", "/documents/")

  /** Manifest row count above which [[buildQueue]] switches from the
    * plain anti-join to the Bloom-split form ([[BloomSkip]]). The gate
    * is the break-even structure, not a tuning guess: BELOW it the
    * manifest is broadcast-sized — Spark plans a broadcast anti-join
    * and the queue never shuffles, so a Bloom pre-pass buys nothing
    * and costs an extra queue scan + filter build. ABOVE it the plain
    * anti-join falls back to a sort-merge/shuffled-hash join that
    * shuffles the ENTIRE queue on the key; the Bloom split confines
    * that shuffle to true hits + fpp·|queue| (measured at the 100×
    * replica: 15.0M records / 2,542 MB → 3.12M / 643 MB). 1M filename
    * keys ≈ 40–80 MB as join-side rows — past any sane
    * autoBroadcastJoinThreshold.
    */
  val BloomSkipMinManifestRows: Long = 1000000L

  /** Build the download queue: rewrite, name, skip-existing against
    * the manifest. ONE code path for the skip-existing contract, two
    * physical strategies behind a measured gate: the caller passes the
    * manifest's row count (`manifestRows`; it is persisted
    * completed-outputs state, which a caller usually has listed
    * already), and that count picks plain anti-join
    * (broadcast-sized manifest) vs Bloom split (shuffle-sized
    * manifest) and sizes the filter, so the manifest is never scanned
    * just to be counted. Both branches are exact whatever the count:
    * a wrong count can only pick the slower branch or mis-size the
    * filter (more suspects), never change the rows. DownloadSinkSpec
    * pins the equality on both sides of the gate.
    *
    * DETERMINISM PRECONDITION (inherited from
    * [[BloomSkip.skipExisting]], which evaluates the queue plan twice
    * past the gate): `docs` must be a deterministic plan — a frame
    * derived from `rand()`/`uuid()`/`monotonically_increasing_id()`
    * could land rows in neither or both Bloom branches once the
    * manifest crosses the gate, a silent semantics change from the
    * single-evaluation anti-join below it. Persist or checkpoint a
    * nondeterministic frame before calling.
    */
  def buildQueue(docs: DataFrame, manifest: DataFrame, manifestRows: Long,
                 limit: Int = 0,
                 bloomGate: Long = BloomSkipMinManifestRows): DataFrame = {
    require(manifestRows >= 0, s"manifestRows must be >= 0, got $manifestRows")
    val named = docs
      .withColumn("url", rewriteUrl(col("url")))
      .withColumn("filename",
        concat(Normalize.sanitizeFilename(col("entity_name")), lit("_"),
          col("doc_id")))
    val m = manifest.select(col("filename"))
    val q =
      if (manifestRows >= bloomGate)
        // The sink KNOWS the manifest size, so let the filter grow to
        // hold the stated 1% fpp: 2^30 bits (128 MiB serialized worst
        // case, shipped once per executor) covers ~112M keys at 1%.
        // The 16 MiB library default is for callers sizing blind; at a
        // 30M-key manifest it silently degrades fpp to ~12% — measured
        // at the 1000× replica as 44M suspects instead of 31M. Past
        // the cap fpp degrades gracefully; exactness never depends on
        // it.
        BloomSkip.skipExisting(named, m, "filename",
          maxNumBits = 1L << 30, knownExistingCount = manifestRows)
      else named.join(m, Seq("filename"), "left_anti")
    if (limit > 0) q.limit(limit) else q
  }

  /** Magic-byte extension choice (reference :112-124). */
  def extensionFor(content: Array[Byte], fallback: String = ".bin"): String =
    if (content.length >= 4 && content.startsWith("%PDF".getBytes)) ".pdf"
    else if (content.length >= 2 && content(0) == 'P'.toByte && content(1) == 'K'.toByte) ".docx"
    else if (content.length >= 4 &&
      (content(0) & 0xFF) == 0xD0 && (content(1) & 0xFF) == 0xCF &&
      (content(2) & 0xFF) == 0x11 && (content(3) & 0xFF) == 0xE0) ".doc"
    else fallback

  /** Run the sink. `fetch` is the injected effect (url → bytes or
    * failure); files land at `outDir/<filename><sniffed-ext>`.
    * `maxAttempts` bounds per-URL retries (the reference attempts once
    * and paces; transient-failure retry is the operational knob a real
    * fetcher needs) — pacing applies before every attempt so retries
    * never burst.
    */
  def run(queue: DataFrame, outDir: String,
          fetch: String => Either[String, Array[Byte]],
          rateLimitMs: Long = 0, maxConcurrency: Int = 4,
          maxAttempts: Int = 1): Summary = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    val sc = queue.sparkSession.sparkContext
    val ok: LongAccumulator = sc.longAccumulator("downloads_succeeded")
    val bad: LongAccumulator = sc.longAccumulator("downloads_failed")
    val dir = new org.apache.hadoop.fs.Path(outDir)
    dir.getFileSystem(sc.hadoopConfiguration).mkdirs(dir)
    queue.select(col("url"), col("filename"))
      .coalesce(maxConcurrency)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // Hadoop FS from the task context (shared-filesystem writes on a
        // real cluster), not java.nio (executor-local disk).
        val fs = Writers.taskFs(outDir)
        it.foreach { row =>
          var attempt = 0
          var result: Either[String, Array[Byte]] = Left("not attempted")
          while (attempt < maxAttempts && result.isLeft) {
            if (rateLimitMs > 0) Thread.sleep(rateLimitMs)
            result = fetch(row.getString(0))
            attempt += 1
          }
          result match {
            case Right(bytes) =>
              val name = row.getString(1) + extensionFor(bytes)
              Writers.requireSafeFilename(name)
              val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
              try out.write(bytes) finally out.close()
              ok.add(1)
            case Left(_) => bad.add(1)
          }
        }
      }
    Summary(ok.value, bad.value)
  }
}

package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DownloadSinkSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "Acme Telecom LLC", "https://www.fcc.gov/ecfs/document/1/1"),
    (2L, "Stratus Networks", "https://www.fcc.gov/ecfs/document/2/1"),
    (3L, "Bad Url Co", "https://www.fcc.gov/ecfs/document/broken/1"))
    .toDF("doc_id", "entity_name", "url")

  private val fakeFetch: String => Either[String, Array[Byte]] = url =>
    if (url.contains("broken")) Left("HTTP 404")
    else if (url.contains("/documents/1/"))
      Right("%PDF-1.7 fake".getBytes)
    else Right(Array[Byte]('P', 'K', 3, 4, 0))

  test("S10 URL rewrite hits the binary endpoint") {
    val urls = DownloadSink.buildQueue(docs, Seq.empty[String].toDF("filename"), 0L)
      .select("url").collect().map(_.getString(0))
    assert(urls.forall(_.contains("/documents/")))
  }

  test("sink writes sniffed extensions and counts outcomes") {
    val out = Files.createTempDirectory("dl").toString
    val q = DownloadSink.buildQueue(docs, Seq.empty[String].toDF("filename"), 0L)
    val s = DownloadSink.run(q, out, fakeFetch)
    assert(s === DownloadSink.Summary(2, 1))
    val files = new java.io.File(out).list().sorted
    assert(files === Array("Acme_Telecom_LLC_1.pdf", "Stratus_Networks_2.docx"))
  }

  test("a download leaves checksum side files on for later Spark writes") {
    // The sink's file system is the JVM-wide cached local one; switching
    // its checksums off for the documents switched them off for every
    // later write in the process.
    val root = Files.createTempDirectory("dl_crc").toString
    DownloadSink.run(
      DownloadSink.buildQueue(docs, Seq.empty[String].toDF("filename"), 0L),
      s"$root/downloads", fakeFetch)
    Seq((1, "a")).toDF("k", "v").write.csv(s"$root/csv")
    val written = new java.io.File(s"$root/csv").list()
    assert(written.exists(n => n.startsWith(".part-") && n.endsWith(".csv.crc")),
      s"no checksum side file among ${written.sorted.mkString(", ")}")
    assert(new java.io.File(s"$root/downloads").list().sorted ===
      Array("Acme_Telecom_LLC_1.pdf", "Stratus_Networks_2.docx"))
  }

  test("bounded retry: transient failures succeed on the second attempt") {
    // fetcher fails the first call per URL within a task, succeeds
    // after — a transient-error simulation. The per-task map travels
    // inside the closure; the accumulator counts total fetch calls
    // back on the driver.
    val calls = spark.sparkContext.longAccumulator("fetch_calls")
    val attempts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val flaky: String => Either[String, Array[Byte]] = url => {
      calls.add(1)
      val n = attempts.merge(url, 1, (a, b) => a + b)
      if (n < 2) Left("HTTP 503") else Right("%PDF-1.7 ok".getBytes)
    }
    val queue = DownloadSink.buildQueue(
      docs.filter(col("doc_id") < 3), Seq.empty[String].toDF("filename"), 0L)
    val once = DownloadSink.run(queue,
      Files.createTempDirectory("graft-retry1").toString, flaky, maxConcurrency = 1)
    assert(once === DownloadSink.Summary(0, 2)) // single attempt: all transient-fail
    assert(calls.value === 2)
    calls.reset()
    val retried = DownloadSink.run(queue,
      Files.createTempDirectory("graft-retry2").toString, flaky,
      maxConcurrency = 1, maxAttempts = 3)
    assert(retried === DownloadSink.Summary(2, 0))
    assert(calls.value === 4) // 2 urls x (1 fail + 1 success), no over-retry
  }

  test("S11 skip-existing: manifest anti-join shrinks the queue") {
    val manifest = Seq("Acme_Telecom_LLC_1").toDF("filename")
    val q = DownloadSink.buildQueue(docs, manifest, 1L)
    assert(q.count() === 2)
    assert(!q.select("filename").collect().map(_.getString(0))
      .contains("Acme_Telecom_LLC_1"))
  }

  test("S11 gate: Bloom-split and plain anti-join branches are equal") {
    // A 400-doc queue with every 5th filename already in the manifest,
    // run through buildQueue on BOTH sides of the bloomGate: gate
    // above the 80-row manifest → plain anti-join; gate at 1 → Bloom
    // split. The results must be row-identical (BloomSkip's
    // losslessness surfaced at the sink-integration layer).
    val many = spark.range(1, 401).select(
      col("id").as("doc_id"),
      concat(lit("Vendor "), col("id") % 7).as("entity_name"),
      concat(lit("https://www.fcc.gov/ecfs/document/"), col("id"), lit("/1"))
        .as("url"))
    val manifest = many.filter(col("doc_id") % 5 === 0)
      .select(concat(graft.etl.Normalize.sanitizeFilename(col("entity_name")),
        lit("_"), col("doc_id")).as("filename"))
    def rows(gate: Long, manifestRows: Long = 80L) =
      DownloadSink.buildQueue(many, manifest, manifestRows, bloomGate = gate)
        .select("doc_id", "entity_name", "url", "filename")
        .collect().map(_.toSeq).toSet
    val plain = rows(Long.MaxValue)
    val bloomed = rows(1L)
    assert(plain.size === 320)
    assert(bloomed === plain)
    // The caller's count only picks the branch and sizes the filter: an
    // understated count (a filter sized for one key, so nearly every
    // row is a suspect) and an overstated one give the same rows.
    assert(rows(1L, manifestRows = 1L) === plain)
    assert(rows(1L, manifestRows = 1000000L) === plain)
    assert(rows(Long.MaxValue, manifestRows = 0L) === plain)
  }

  test("doc-limit caps the queue like --doc-limit") {
    val q = DownloadSink.buildQueue(docs, Seq.empty[String].toDF("filename"), 0L, limit = 1)
    assert(q.count() === 1)
  }

  test("magic-byte extension fallback for unknown content") {
    assert(DownloadSink.extensionFor("hello".getBytes) === ".bin")
    assert(DownloadSink.extensionFor(Array(0xD0, 0xCF, 0x11, 0xE0, 1).map(_.toByte)) === ".doc")
  }

  test("sink-written repository reads back through binaryFile into F13 + multimodal") {
    // close the document-repository loop: the files the sink just
    // downloaded come back as a Spark binary frame, re-classify to the
    // same types the sink sniffed, and feed the multimodal metadata op.
    val out = Files.createTempDirectory("dl_readback").toString
    DownloadSink.run(
      DownloadSink.buildQueue(docs, Seq.empty[String].toDF("filename"), 0L),
      out, fakeFetch)
    val repo = spark.read.format("binaryFile").load(out)
    val classified = repo.select(
      element_at(split(col("path"), "/"), -1).as("name"),
      graft.etl.Normalize.classifyFileType(col("content")).as("file_type"),
      col("length"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(classified("Acme_Telecom_LLC_1.pdf")._1 === "pdf")
    assert(classified("Stratus_Networks_2.docx")._1 === "docx")
    assert(classified.values.forall(_._2 > 0))
    val meta = graft.multimodal.Multimodal.withMetadata(repo, "content")
      .select("size_bytes", "file_type").collect()
    assert(meta.length === 2)
    assert(meta.map(_.getString(1)).sorted === Array("docx", "pdf"))
  }
}

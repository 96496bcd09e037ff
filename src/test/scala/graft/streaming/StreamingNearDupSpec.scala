package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingNearDup.{BandRow, Decision}

/** The streaming LSH admission gate on a real MemoryStream: bucket
  * state must survive micro-batches, within-batch ties must break on
  * min doc_id, and the banding must be bit-identical to the batch
  * plan (same hash chain as ScaleDedup's LSH stage).
  */
class StreamingNearDupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val d1 = (1L, "alpha beta gamma delta epsilon zeta")
  private val d4 = (4L, "alpha beta gamma delta epsilon zeta") // same text, same batch
  private val d3 = (3L, "one two three four five six seven")
  private val d2 = (2L, "alpha beta gamma delta epsilon zeta") // same text, LATER batch

  test("bucket state survives micro-batches; within-batch ties break on min id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val bands = StreamingNearDup.bandRows(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text").as[BandRow]
    val q = StreamingNearDup.admit(bands).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("lshnd_spec_out").start()
    mem.addData(d1, d4, d3); q.processAllAvailable()
    mem.addData(d2); q.processAllAvailable()
    val out = spark.table("lshnd_spec_out").as[Decision].collect()
    q.stop()

    val byDoc = out.groupBy(_.doc_id)
    // identical texts share every band bucket
    assert(byDoc(1L).map(r => (r.band, r.band_hash)).toSet ===
      byDoc(2L).map(r => (r.band, r.band_hash)).toSet)
    // d1 (min id in batch 1) admits every bucket; d4 (same batch,
    // larger id) and d2 (later batch) are flagged in all of them
    assert(byDoc(1L).forall(_.first), "min-id doc must admit its buckets")
    assert(byDoc(4L).forall(!_.first), "same-batch duplicate must be flagged")
    assert(byDoc(2L).forall(!_.first), "cross-batch duplicate must be flagged")
    // d3's text is distinct — all buckets fresh
    assert(byDoc(3L).forall(_.first), "distinct doc must admit its buckets")
  }

  test("streamed band rows are bit-identical to the batch plan") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(d1, d3).toDF("doc_id", "text")
    val batch = StreamingNearDup.bandRows(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mem = MemoryStream[(Long, String)]
    val q = StreamingNearDup.bandRows(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode("append").format("memory")
      .queryName("lshnd_bands_out").start()
    mem.addData(d1, d3); q.processAllAvailable()
    val streamed = spark.table("lshnd_bands_out")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed === batch)
    // ... and to the batch LSH stage's band keys at the same (k, bands)
    val batchLsh = graft.dedup.ScaleDedup.bandHashesOfSets(
        graft.dedup.ScaleDedup.docShingleSets(docs, "doc_id", "text", 3), 16, 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batchLsh.nonEmpty)
    assert(streamed === batchLsh)
  }

  test("shingle-less docs never reach the state store") {
    import spark.implicits._
    val tiny = Seq((9L, "two words")).toDF("doc_id", "text")
    assert(StreamingNearDup.bandRows(tiny, "doc_id", "text").count() === 0)
  }
}

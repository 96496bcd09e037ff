package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-dup admission: the LSH front of the batch
  * [[graft.dedup.ScaleDedup]] family run as an incremental gate — docs
  * arrive on a stream, each lands in `bands` LSH buckets, and a bucket
  * that has EVER admitted a doc flags every later arrival as a
  * near-dup candidate. The admission state survives micro-batch
  * boundaries (the training-ingest shape: yesterday's corpus filters
  * today's crawl).
  *
  * Scale design: the per-doc MinHash signature is computed entirely
  * inside the row — `shingles → xxhash64 → per-slot salted min` as
  * nested array expressions, no shuffle, no distinct (a min over the
  * shingle multiset equals the min over the set) — so the only wide
  * ops are the banding explode and the per-bucket state shuffle.
  * State per bucket is ONE boolean, so total state is bounded by the
  * number of distinct occupied buckets (≤ bands × docs, 8-byte keys),
  * not by corpus text. Bit-parity with the batch path: the same
  * `minhash_sig` and `band_hashes` expressions as
  * `ScaleDedup.bandHashesOfSets` (`xxhash64(slot, sh)` salted rehash,
  * comma-joined signed band strings, `xxhash64(band, str)`).
  *
  * A doc's verdict is per-band here; `ANY(first = false)` downstream
  * marks the doc a candidate for exact verification — same contract
  * as the batch LSH stage (candidates, not certainties).
  */
object StreamingNearDup {

  case class BandRow(doc_id: Long, band: Int, band_hash: Long)
  case class Decision(doc_id: Long, band: Int, band_hash: Long, first: Boolean)

  /** (doc_id, band, band_hash) rows from raw (doc_id, text) — pure
    * projection + one posexplode; plan-identical on batch and stream.
    * Docs with no shingle (< n tokens) are dropped, as the batch
    * [[graft.dedup.ScaleDedup.bandHashesOfSets]] drops empty sets.
    */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, k: Int = 16, bands: Int = 8): DataFrame = {
    // the hashed-shingle pass, the k-slot mins and the band hashes are
    // ONE codegen'd expression each (shingle_hashes, minhash_sig,
    // band_hashes — bit-parity with the interpreted HOF chains they
    // replace, pinned by ShingleMinHashSpec), so a doc costs one
    // window-hash pass plus a primitive k×|shingles| loop.
    val shs = graft.functions.GraftFunctions.shingleHashes(
      graft.text.TextAnalysis.tokens(col(textCol)), n)
    docs
      .select(col(idCol).as("doc_id"), shs.as("_shs"))
      .filter(size(col("_shs")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashSig(col("_shs"), k).as("sig"))
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.bandHashes(col("sig"), bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
  }

  /** Stateful admission over band rows: per (band, band_hash) bucket,
    * the first-ever arrival (min doc_id within a micro-batch — group
    * iterators carry no order guarantee, so the function sorts) gets
    * `first = true`; every later arrival, same batch or any later one,
    * gets `false`.
    */
  def admit(bandRows: Dataset[BandRow]): Dataset[Decision] = {
    import bandRows.sparkSession.implicits._
    bandRows.groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState[Boolean, Decision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), it: Iterator[BandRow], state: GroupState[Boolean]) =>
          val seen = state.getOption.getOrElse(false)
          val sorted = it.toSeq.sortBy(_.doc_id)
          val out = sorted.zipWithIndex.map { case (r, i) =>
            Decision(r.doc_id, r.band, r.band_hash, !seen && i == 0)
          }
          state.update(true)
          out.iterator
      }
  }
}

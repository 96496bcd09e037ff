package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.EventStreams

/** Streaming-at-scale probe: replays an events fixture through the
  * registered Structured Streaming shapes as a REAL file-source stream
  * (time-ordered micro-batches, AvailableNow) and records the metrics
  * that decide whether the plan survives 100 TB of events:
  *
  *   - throughput (rows/s end-to-end through the state store),
  *   - MAX state rows across batches (the executor-memory bound: for
  *     tumbling windows it must track windows-in-flight, for keyed
  *     dedup the watermark horizon — never total history),
  *   - rows dropped by watermark (must stay 0 on an in-order replay —
  *     a non-zero count means the replay order or watermark is wrong
  *     and the throughput number would be fake),
  *   - streamed output rows vs the batch run of the SAME transform
  *     (append mode holds back windows the final watermark has not
  *     passed, so streamed ≤ batch with the gap bounded by the
  *     trailing watermark delay — both counts are printed).
  *
  * Replay realism: the fixture's parquet is range-partitioned by `ts`
  * into `nFiles` part files; the file source lists same-mtime files in
  * path order, and range partition i holds the i-th time slice, so
  * micro-batches advance in event time exactly like a live ingest.
  *
  * Usage: runMain graft.tools.StreamScaleProbe <fixtureDir> [label]
  *   [nFiles] [maxFilesPerTrigger]
  * Prints one JSON line per query — collected into bench/STREAM_SCALE.md.
  */
object StreamScaleProbe {

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else "tier"
    val nFiles = if (args.length > 2) args(2).toInt else 64
    val filesPerTrigger = if (args.length > 3) args(3).toInt else 4
    val spark = graft.GraftSession.local("graft-stream-scale")
    spark.sparkContext.setLogLevel("WARN")

    // ---- one-time prepare: time-ordered part files under target/
    val prepared = Paths.get(s"target/streamprobe/$label-events")
    if (!Files.exists(prepared.resolve("_DONE"))) {
      rmrf(prepared)
      Tables.events(spark, dir)
        .repartitionByRange(nFiles, col("ts"))
        .write.mode("overwrite").parquet(prepared.toString)
      // The file source orders same-batch files by MODIFICATION TIME,
      // not path — a single write job stamps near-identical mtimes in
      // arbitrary order, which would scramble the time-ordered replay
      // (observed: 1.6% of rows arrived behind the watermark). Restamp
      // part files with strictly increasing mtimes in path order: part
      // file i of a range partitioning IS time slice i.
      import scala.jdk.CollectionConverters._
      val parts = Files.list(prepared).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val base = System.currentTimeMillis() - parts.size * 2000L
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      }
      Files.createFile(prepared.resolve("_DONE"))
    }
    val batchEvents = spark.read.parquet(prepared.toString)
    val totalRows = batchEvents.count()

    def stream(): DataFrame = spark.readStream
      .schema(batchEvents.schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(prepared.toString)

    // Append mode holds back exactly the groups the FINAL watermark has
    // not closed. `heldBack` (when given) receives that watermark — the
    // one Spark itself reported in the last progress, not a re-derived
    // max(ts)−delay — and must return the batch-side count of groups
    // with end > watermark. The probe then REQUIRES
    //   stream_out + held_back == batch_out
    // so the parity columns carry no unexplained deltas: a mismatch is
    // a correctness failure (lost or duplicated windows), not a
    // footnote.
    def run(name: String, q: DataFrame => DataFrame, batchRows: => Long,
            heldBack: Option[java.sql.Timestamp => Long] = None): Unit = {
      val ckpt = Paths.get(s"target/streamprobe/$label-ckpt-$name")
      rmrf(ckpt)
      val t0 = System.nanoTime()
      val sq = q(stream()).writeStream
        .format("noop")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      val wallS = (System.nanoTime() - t0) / 1e9
      val progs = sq.recentProgress.toSeq
      require(progs.size < 100,
        s"recentProgress window overflow (${progs.size} batches) — raise maxFilesPerTrigger")
      val inRows = progs.map(_.numInputRows).sum
      val outRows = progs.flatMap(p => Option(p.sink)).map(_.numOutputRows).sum
      val maxState = (0L +: progs.map(_.stateOperators.map(_.numRowsTotal).sum)).max
      val dropped = progs.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
      // Final watermark: max across progresses (ISO-8601 sorts
      // chronologically); AvailableNow's trailing no-data batch has
      // already flushed everything this watermark closes.
      val finalWm = progs
        .flatMap(p => Option(p.eventTime).flatMap(m => Option(m.get("watermark"))))
        .maxOption
      val heldStats = heldBack.map { f =>
        val wm = java.sql.Timestamp.from(java.time.Instant.parse(finalWm.getOrElse(
          sys.error(s"$name: heldBack requested but no watermark in progress"))))
        val held = f(wm)
        require(outRows + held == batchRows,
          s"$name parity broken: stream_out=$outRows + held_back=$held != batch_out=$batchRows (final watermark $wm)")
        s""","held_back":$held,"final_watermark":"${finalWm.get}","parity":"exact""""
      }.getOrElse("")
      println(
        s"""{"probe":"stream_scale","tier":"$label","query":"$name",""" +
        s""""total_rows":$totalRows,"input_rows":$inRows,"batches":${progs.size},""" +
        s""""wall_s":${f"$wallS%.1f"},"rows_per_s":${(inRows / wallS).toLong},""" +
        s""""max_state_rows":$maxState,"dropped_late":$dropped,""" +
        s""""stream_out_rows":$outRows,"batch_out_rows":$batchRows$heldStats}""")
    }

    run("tumbling_hourly", df => EventStreams.tumblingCounts(df, "1 hour"),
      EventStreams.tumblingCounts(batchEvents, "1 hour").count(),
      heldBack = Some(wm => batchEvents
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)))
        .filter(col("window.end") > lit(wm)).count()))
    // batch twin: dropDuplicatesWithinWatermark is streaming-only; its
    // batch semantics on an already-unique key are plain dropDuplicates
    run("dedup_ttl", df => EventStreams.streamingDedupTtl(df, "event_id"),
      batchEvents.dropDuplicates("event_id").count(),
      heldBack = Some(_ => 0L)) // dedup emits on arrival: parity must be exact
    run("sessions", df => EventStreams.sessionCounts(df),
      EventStreams.sessionCounts(batchEvents).count(),
      heldBack = Some(wm => batchEvents
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)))
        .filter(col("session_window.end") > lit(wm)).count()))

    // stream–stream attribution: the most state-hungry shape (BOTH
    // sides buffer inside the watermark). Views and clicks are two
    // independent file sources over the same time-ordered files, so
    // the sides advance in rough event-time lockstep like two real
    // ingest topics.
    def views(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
    def clicks(df: DataFrame): DataFrame = df
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val ckpt = Paths.get(s"target/streamprobe/$label-ckpt-attribution")
    rmrf(ckpt)
    val t0 = System.nanoTime()
    val sq = EventStreams.attributionJoin(views(stream()), clicks(stream()))
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    val wallS = (System.nanoTime() - t0) / 1e9
    val progs = sq.recentProgress.toSeq
    val inRows = progs.map(_.numInputRows).sum
    val outRows = progs.flatMap(p => Option(p.sink)).map(_.numOutputRows).sum
    val maxState = (0L +: progs.map(_.stateOperators.map(_.numRowsTotal).sum)).max
    val dropped = progs.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    val batchRows =
      EventStreams.attributionJoin(views(batchEvents), clicks(batchEvents)).count()
    // Stream–stream INNER join emits matches on arrival (the watermark
    // only evicts state), so parity with the batch join is exact — pin it.
    require(outRows == batchRows,
      s"attribution_join parity broken: stream_out=$outRows != batch_out=$batchRows")
    println(
      s"""{"probe":"stream_scale","tier":"$label","query":"attribution_join",""" +
      s""""total_rows":$totalRows,"input_rows":$inRows,"batches":${progs.size},""" +
      s""""wall_s":${f"$wallS%.1f"},"rows_per_s":${(inRows / wallS).toLong},""" +
      s""""max_state_rows":$maxState,"dropped_late":$dropped,""" +
      s""""stream_out_rows":$outRows,"batch_out_rows":$batchRows}""")
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

/** Shuffle-volume forensics for the two S11 skip-existing paths:
  * `s10_queue_build` (plain LEFT ANTI join — the whole queue pays the
  * shuffle) vs `s11_bloom_skip` (Bloom split — only suspects do). The
  * wall-clock on a single box understates the Bloom path's value (a
  * local "shuffle" is memory-speed); the record/byte counts are the
  * cluster-relevant evidence. Run:
  * `tools/run_graft.sh graft.tools.BloomProbe <sfDir> [q1 q2 ...]`.
  */
object BloomProbe {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("s10_queue_build", "s11_bloom_skip")
    val spark = graft.GraftSession.local("graft-bloom-probe")
    spark.sparkContext.setLogLevel("WARN")

    names.foreach { name =>
      val t0 = System.nanoTime()
      // "s10_plain_anti": the s10 fixture FORCED down the plain
      // anti-join (gate disabled) — the comparison baseline, since the
      // registered s10_queue_build itself engages the Bloom split once
      // the manifest passes BloomSkipMinManifestRows.
      val df =
        if (name == "s10_plain_anti") {
          val (docs, manifest) =
            graft.registry.SourceQueries.s10Fixture(spark, dir)
          graft.sources.DownloadSink
            .buildQueue(docs, manifest, manifest.count(), bloomGate = Long.MaxValue)
            .select("doc_id", "entity_name", "url", "filename")
        } else graft.SparkEntry.queries(name)(spark, dir)
      // Execute THIS QueryExecution (df.write would plan a fresh one,
      // leaving these metrics at zero).
      df.queryExecution.toRdd.foreach(_ => ())
      val sec = (System.nanoTime() - t0) / 1e9
      // Reused exchanges appear multiple times in the tree as the SAME
      // node object (under ReusedExchangeExec) — count each once. Dedup
      // by reference identity, not case-class equality: with exchange
      // reuse disabled, two structurally identical but physically
      // distinct exchanges each carry their own metrics and must both
      // be counted.
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[ShuffleExchangeLike, java.lang.Boolean]())
      val exchanges = nodes(df.queryExecution.executedPlan)
        .collect { case s: ShuffleExchangeLike => s }
        .filter(seen.add)
      val rows = exchanges.map(e =>
        e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L))
      val bytes = exchanges.map(e =>
        e.metrics.get("dataSize").map(_.value).getOrElse(0L))
      println(f"[bloomprobe] $name%-18s ${sec}%7.1f s  " +
        f"shuffles=${exchanges.size}  records=${rows.sum}%,d  " +
        f"dataMB=${bytes.sum / 1e6}%,.1f  per-exchange=${rows.mkString(",")}")
    }
    spark.stop()
  }
}

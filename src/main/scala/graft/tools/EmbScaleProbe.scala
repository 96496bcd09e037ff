package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Knn

/** Dev tool: occupancy/candidate/wall-clock curve for the sign-bit-LSH
  * near-dup stage at a given (nPlanes, nTables) — the knob a corpus
  * 100× bigger must turn. Sign-bit buckets shard a near-orthogonal
  * corpus into ~n/2^nPlanes-sized cells, so candidate pairs grow like
  * n²/2^nPlanes: at 2k vectors 8 planes is comfortable (≈9/bucket);
  * at 200k the same 8 planes leave ≈780/bucket — a quadratic
  * candidate explosion. nPlanes must track log₂(n) (+tables to buy
  * back boundary recall) — which is exactly what the registry default
  * now does ([[Knn.autoPlanes]]); pass `auto` to probe that path and
  * confirm occupancy stays flat across 1×/10×/100× with NO manual
  * plane bump.
  *
  * Usage: runMain graft.tools.EmbScaleProbe <sfDir> <nPlanes|auto> <nTables> [time]
  */
object EmbScaleProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nTables = args(2).toInt
    val timeIt = args.length > 3 && args(3) == "time"
    val spark = graft.GraftSession.local("graft-emb-scale-probe")
    spark.sparkContext.setLogLevel("WARN")

    val vecs = graft.registry.SimilarityQueries.withPerturbed(spark, dir)
    val n = vecs.count()
    val nPlanes = if (args(1) == "auto") Knn.autoPlanes(n) else args(1).toInt

    // per-(table, bucket) occupancy and implied candidate-pair count —
    // computed from the bucketing alone (cheap even when the pair join
    // itself would explode)
    val b = vecs.select(col("vec_id"),
        posexplode(array((0 until nTables).map(t =>
          Knn.lshBucket(col("embedding"), 64, nPlanes, t)): _*)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("c"))
    val occ = b.agg(
      max(col("c")).as("max_occ"),
      avg(col("c")).as("avg_occ"),
      sum(col("c") * (col("c") - 1) / 2).as("cand_pairs")).head()
    println(s"[embprobe] dir=$dir n=$n planes=$nPlanes tables=$nTables " +
      s"maxOcc=${occ.get(0)} avgOcc=${"%.1f".format(occ.getDouble(1))} " +
      s"candPairs=${occ.get(2)}")

    if (timeIt) {
      for (t <- 1 to 2) {
        val t0 = System.nanoTime()
        // `auto` exercises the registry-default path end-to-end
        // (nPlanes = 0 → semanticDedup derives the count itself)
        val cnt = Knn.semanticDedup(vecs, dim = 64, threshold = 0.99,
          nPlanes = if (args(1) == "auto") 0 else nPlanes,
          nTables = nTables).count()
        println(f"[embprobe] semanticDedup trial $t: " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s rows=$cnt")
      }
    }
  }
}

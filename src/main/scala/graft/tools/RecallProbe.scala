package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Knn

/** Dev tool: measure ANN recall@k vs brute-force ground truth on a
  * given fixture directory — the scale-up companion to KnnSpec's
  * sf0.1 recall floors (LSH ≥ 0.8, IVF ≥ 0.9), re-run where bucket
  * occupancy changes (10× corpus, same table/probe defaults).
  *
  * Usage: runMain graft.tools.RecallProbe <sfDir> [k]
  */
object RecallProbe {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val k = if (args.length > 1) args(1).toInt else 5
    val spark = graft.GraftSession.local("graft-recall-probe")
    spark.sparkContext.setLogLevel("WARN")

    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val qs = emb.filter(col("vec_id") < 20)

    // floors-only mode: just the per-query hit distributions that size
    // the bounded-outlier recall gates (minHits=2, maxBelow=2) — run
    // per fixture seed, sub-minute, no sweeps.
    if (args.contains("floors")) {
      def floorStats(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
        val h = Knn.recallAudit(ann, qs, emb, k)
          .select(col("hits")).collect().map(_.getLong(0))
        println(s"[recall] $name: min=${h.min} sum=${h.sum} " +
          s"below2=${h.count(_ < 2)} zeros=${h.count(_ == 0)} n=${h.length}")
      }
      // optional trailing numeric args: explicit rerank factors to
      // sweep for pq/ivfpq — sizes the autoRerank slope at a new decade
      val rrs = args.drop(args.indexOf("floors") + 1).map(_.toInt)
      if (rrs.isEmpty) {
        println(s"[recall] auto dials at n=$n: " +
          s"nCentroids=${Knn.autoCentroids(n)} " +
          s"nProbe=${Knn.autoProbe(Knn.autoCentroids(n))} " +
          s"rerank=${Knn.autoRerank(n)}")
        floorStats("ann_lsh_topk", Knn.lshTopK(emb, qs, 64, 3, k, nTables = 12))
        floorStats("ann_ivf_topk", Knn.ivfTopK(emb, qs, 0, 0, k, 1))
        floorStats("ann_pq_topk", Knn.pqTopK(emb, qs, 64, 16, 32, k, 2, 0))
        floorStats("ann_ivfpq_topk", Knn.ivfPqTopK(emb, qs, 64, 0, 0, 16, 32, k, 1, 0))
      } else for (rr <- rrs) {
        floorStats(s"pq rr$rr", Knn.pqTopK(emb, qs, 64, 16, 32, k, 2, rr))
        floorStats(s"ivfpq rr$rr", Knn.ivfPqTopK(emb, qs, 64, 16, 8, 16, 32, k, 1, rr))
      }
      spark.stop(); return
    }

    // ivfsweep mode: explicit nc:np grid for the ivf/ivfpq families —
    // sizes the autoCentroids/autoProbe rules at a new decade.
    // Usage: RecallProbe <dir> [k] ivfsweep 16:8 64:32 0:0 ...
    if (args.contains("ivfsweep")) {
      def floorStats(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
        val h = Knn.recallAudit(ann, qs, emb, k)
          .select(col("hits")).collect().map(_.getLong(0))
        println(s"[recall] $name: min=${h.min} sum=${h.sum} " +
          s"below2=${h.count(_ < 2)} zeros=${h.count(_ == 0)} n=${h.length}")
      }
      val grid = args.drop(args.indexOf("ivfsweep") + 1)
        .map { s => val Array(a, b) = s.split(":"); (a.toInt, b.toInt) }
      for ((nc, np) <- grid) {
        val t0 = System.nanoTime()
        floorStats(s"ivf $nc:$np", Knn.ivfTopK(emb, qs, nc, np, k, 1))
        val t1 = System.nanoTime()
        floorStats(s"ivfpq $nc:$np",
          Knn.ivfPqTopK(emb, qs, 64, nc, np, 16, 32, k, 1, 0))
        println(f"[recall] ivf $nc:$np ${(t1 - t0) / 1e9}%.1f s, " +
          f"ivfpq ${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
      spark.stop(); return
    }
    val brute = Knn.bruteForceTopK(qs, emb, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[recall] corpus=$n k=$k ground-truth pairs=${brute.size}")

    def report(name: String, got: Set[(Long, Long)]): Unit = {
      val hit = brute.intersect(got).size
      println(f"[recall] $name: $hit/${brute.size} = ${hit.toDouble / brute.size}%.3f")
    }
    report("lsh 3x8", Knn.lshTopK(emb, qs, 64, 3, k, nTables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    report("lsh 3x12", Knn.lshTopK(emb, qs, 64, 3, k, nTables = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    report("ivf 16/12 lloyd1", Knn.ivfTopK(emb, qs, 16, 12, k, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    report("ivf 64/32 lloyd1", Knn.ivfTopK(emb, qs, 64, 32, k, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    report("ivf 128/64 lloyd1", Knn.ivfTopK(emb, qs, 128, 64, k, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // Per-query hit counts at the REGISTRY parameters — sizes the
    // minHits floors for the recall-checked ANN oracles.
    def hitStats(name: String, ann: org.apache.spark.sql.DataFrame): Unit = {
      val h = Knn.recallAudit(ann, qs, emb, k)
        .select(col("hits")).collect().map(_.getLong(0))
      println(s"[recall] $name registry-params hits: min=${h.min} " +
        f"avg=${h.sum.toDouble / h.length}%.2f sum=${h.sum} n=${h.length}")
    }
    // the registry params (keep in sync with SimilarityQueries)
    hitStats("ann_lsh_topk", Knn.lshTopK(emb, qs, 64, 3, k, nTables = 12))
    hitStats("lsh 2x16", Knn.lshTopK(emb, qs, 64, 2, k, nTables = 16))
    hitStats("ann_ivf_topk", Knn.ivfTopK(emb, qs, 16, 8, k, 1))
    hitStats("ann_pq_topk", Knn.pqTopK(emb, qs, 64, 16, 32, k, 2, 0))
    hitStats("ann_ivfpq_topk", Knn.ivfPqTopK(emb, qs, 64, 16, 8, 16, 32, k, 1, 0))
    // rerank-factor sweep: sizes the auto-rerank rule (ADC ranking
    // noise puts more true near-ties inside the shortlist band as the
    // corpus grows, so the shortlist must grow with n)
    for (rr <- Seq(24, 32, 48, 64)) {
      hitStats(s"pq rr$rr", Knn.pqTopK(emb, qs, 64, 16, 32, k, 2, rr))
      hitStats(s"ivfpq rr$rr", Knn.ivfPqTopK(emb, qs, 64, 16, 8, 16, 32, k, 1, rr))
    }

    // incremental split at the ann_incremental_topk registry params:
    // index trains on the frozen reference slice only; the held-out
    // batch probes it. Ground truth = exact top-k within the reference
    // corpus (what the index can possibly return).
    val ref = emb.filter(col("vec_id") % 10 =!= 7)
    val batch = emb.filter(col("vec_id") % 10 === 7 && col("vec_id") < 200)
    val incH = Knn.recallAudit(
        Knn.ivfTopK(ref, batch, 16, 8, k, 1), batch, ref, k)
      .select(col("hits")).collect().map(_.getLong(0))
    println(s"[recall] ann_incremental_topk registry-params hits: " +
      f"min=${incH.min} avg=${incH.sum.toDouble / incH.length}%.2f " +
      s"sum=${incH.sum} n=${incH.length}")
  }
}

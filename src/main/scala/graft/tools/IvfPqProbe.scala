package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.similarity.Knn

/** Dev tool: per-stage wall clock of the ivfPqTopK chain (the slowest
  * registered query at the 10× replica) — names the stage that owns
  * the time instead of the whole query. Usage: IvfPqProbe <sfDir>.
  */
object IvfPqProbe {

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[ivfpq]   $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local("graft-ivfpq-probe")
    spark.sparkContext.setLogLevel("WARN")
    println(s"[ivfpq] === $dir ===")
    val (dim, m, kCode, k) = (64, 16, 32, 5)
    val emb = Tables.embeddings(spark, dir)
    val queries = graft.registry.SimilarityQueries.queriesDf(spark, dir)
    val vecsN = timed("normalize + checkpoint") {
      val v = emb.select(col("vec_id"),
        graft.functions.GraftFunctions.l2Normalize(col("embedding")).as("embedding"))
        .localCheckpoint()
      v.count(); v
    }
    val n = vecsN.count()
    val nc = Knn.autoCentroids(n)
    val nPr = Knn.autoProbe(nc)
    println(s"[ivfpq]   n=$n nc=$nc nProbe=$nPr rr=${Knn.autoRerank(n)}")
    val centroids = timed("ivfCentroids (1 iter) + ckpt") {
      val c = Knn.ivfCentroids(vecsN, nc, 1).localCheckpoint()
      c.count(); c
    }
    val assigned = Knn.ivfAssign(vecsN, centroids)
    val resid = timed("residuals + ckpt") {
      val r = assigned.join(broadcast(centroids), "cid")
        .select(col("cid"), col("vec_id"),
          zip_with(col("embedding"), col("c_emb"), (x, y) => x - y).as("embedding"))
        .localCheckpoint()
      r.count(); r
    }
    val cbs = timed("pqCodebooks (1 iter)") {
      Knn.pqCodebooks(resid.select(col("vec_id"), col("embedding")), dim, m, kCode, 1)
    }
    timed("encode + count") {
      resid.select(col("cid"), col("vec_id").as("cand_id"),
        graft.functions.GraftFunctions.pqEncode(col("embedding"), cbs).as("codes"))
        .write.format("noop").mode("overwrite").save()
    }
    // scoring path broken apart (mirrors ivfPqTopK's tail)
    locally {
      val subDim = dim / m
      val encoded = resid.select(col("cid"), col("vec_id").as("cand_id"),
        graft.functions.GraftFunctions.pqEncode(col("embedding"), cbs).as("codes"))
      val qN = queries.select(col("vec_id"),
        graft.functions.GraftFunctions.l2Normalize(col("embedding")).as("embedding"))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      def subv(e: org.apache.spark.sql.Column, s: Int) =
        slice(e, s * subDim + 1, subDim)
      def dotLit(sv: org.apache.spark.sql.Column, c: Seq[Double]) =
        graft.functions.GraftFunctions.dotProduct(sv, typedlit(c))
      val probeScored = qN.crossJoin(broadcast(centroids))
        .withColumn("qc_dot", Knn.dot(col("q_emb"), col("c_emb")))
      val probes = timed("probes + ADC tables materialize") {
        val p = graft.plans.TopK.perKey(probeScored,
            Seq(col("query_id")), Seq(col("qc_dot").desc, col("cid").asc), nPr)
          .withColumn("tables", array(cbs.indices.map(s =>
            array(cbs(s).indices.map(j =>
              dotLit(subv(col("q_emb"), s), cbs(s)(j))): _*)): _*))
          .select(col("cid"), col("query_id"), col("qc_dot"), col("tables"))
          .localCheckpoint()
        p.count(); p
      }
      val approx = encoded.join(probes, Seq("cid"))
        .filter(col("query_id") =!= col("cand_id"))
        .withColumn("approx_sim", col("qc_dot") +
          cbs.indices.map(s => element_at(col("tables")(s), col("codes")(s) + 1))
            .reduceLeft(_ + _))
      val nApprox = timed("approx join + score count")(approx.count())
      println(s"[ivfpq]   approx rows=$nApprox")
      timed("shortlist TopK") {
        graft.plans.TopK.perKey(approx,
          Seq(col("query_id")), Seq(col("approx_sim").desc, col("cand_id").asc),
          k * 64).write.format("noop").mode("overwrite").save()
      }
    }
    timed("full ivfPqTopK (no audit)") {
      Knn.ivfPqTopK(emb, queries, dim, 0, 0, m, kCode, k, 1, 0)
        .write.format("noop").mode("overwrite").save()
    }
    timed("full query (with recall audit)") {
      graft.SparkEntry.queries("ann_ivfpq_topk")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}

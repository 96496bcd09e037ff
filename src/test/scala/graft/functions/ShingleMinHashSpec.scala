package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.TextAnalysis

/** Bit-parity of the codegen'd dedup primitives against the Column
  * forms they replace: shingle_hashes vs transform(shingles, xxhash64)
  * and minhash_sig vs the per-slot min(xxhash64(lit(i), sh)) aggregate
  * — on the real fixture corpus plus adversarial strings. These pins
  * are what let the r14 optimization swap the hot path without moving
  * any registered query's output.
  */
class ShingleMinHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def adversarial = {
    import spark.implicits._
    Seq(
      (1L, "plain three token text"),
      (2L, "  leading and   multiple   spaces  "),
      (3L, "MIXED Case ÜNICODE tökens ñ 中文 字符 here"),
      (4L, "tab\tseparated\ttokens\tand more words"),
      (5L, ""),
      (6L, "one"),
      (7L, "two tokens"),
      (8L, "exactly three tokens"),
      (9L, "a b c d e f g h i j k l m n o p"),
      (10L, "dup dup dup dup dup dup"),
    ).toDF("doc_id", "text")
  }

  private def corpus = graft.Tables.documents(spark, TestSpark.SfDir)
    .select(col("doc_id"), col("text")).limit(300)

  test("shingle_hashes == transform(shingles, xxhash64), fixture + adversarial") {
    for (df <- Seq(adversarial, corpus); n <- Seq(3, 10)) {
      val both = df.select(
        col("doc_id"),
        GraftFunctions.shingleHashes(TextAnalysis.tokens(col("text")), n).as("fast"),
        transform(TextAnalysis.shingles(col("text"), n),
          s => xxhash64(s)).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"shingle_hashes diverged on $bad rows at n=$n")
    }
  }

  test("winnow_md5 == the interpreted md5 winnowing chain (r15)") {
    for (df <- Seq(adversarial, corpus); (n, w) <- Seq((3, 4), (2, 7))) {
      val both = df.select(
        col("doc_id"),
        TextAnalysis.winnowFingerprintsMd5(col("text"), n, w).as("fast"),
        HofReferences.winnowFingerprintsMd5Hof(col("text"), n, w).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"winnow_md5 diverged on $bad rows at n=$n w=$w")
    }
  }

  test("winnow_min_set == the array_min(slice) HOF tail (r15)") {
    for (df <- Seq(adversarial, corpus); (n, w) <- Seq((3, 4), (2, 7))) {
      val both = df.select(
        col("doc_id"),
        TextAnalysis.winnowFingerprints(col("text"), n, w).as("fast"),
        HofReferences.winnowFingerprintsHof(col("text"), n, w).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"winnow_min_set diverged on $bad rows at n=$n w=$w")
    }
  }

  test("band_hashes == the xxhash64(band, concat_ws) HOF chain (r15)") {
    import graft.dedup.ScaleDedup
    for (df <- Seq(adversarial, corpus); (k, bands) <- Seq((64, 32), (171, 57))) {
      val sigs = ScaleDedup
        .minhashSignaturesOfSets(
          ScaleDedup.docShingleSets(df, "doc_id", "text", 3), k)
        .localCheckpoint()
      val fast = ScaleDedup.bandExplode(sigs, bands)
      val ref = HofReferences.bandExplodeHof(sigs, k, bands)
      val joined = fast.withColumnRenamed("band_hash", "fast_bh")
        .join(ref.withColumnRenamed("band_hash", "ref_bh"),
          Seq("id", "band"), "full")
      val bad = joined
        .filter(not(col("fast_bh") <=> col("ref_bh"))).count()
      assert(bad === 0, s"band_hashes diverged on $bad rows at k=$k bands=$bands")
    }
  }

  test("minhash_sig == per-slot min(xxhash64(lit(i), sh)) aggregate") {
    for (k <- Seq(16, 64, 171)) {
      val idx = graft.dedup.ScaleDedup.shingleIndex(corpus, "doc_id", "text", 3)
      val agg = idx.groupBy(col("id"))
        .agg(array((0 until k).map(i =>
          min(xxhash64(lit(i), col("sh")))): _*).as("ref"))
      val fast = graft.dedup.ScaleDedup
        .docShingleSets(corpus, "doc_id", "text", 3)
        .filter(size(col("shs")) > 0)
        .select(col("id"), GraftFunctions.minhashSig(col("shs"), k).as("fast"))
      val joined = agg.join(fast, "id")
      assert(joined.count() > 0)
      val bad = joined.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"minhash_sig diverged on $bad docs at k=$k")
    }
  }

  test("md5_ngram_buckets == the conv(substring(md5)) HOF chain") {
    for (df <- Seq(adversarial, corpus)) {
      val both = df.select(
        TextAnalysis.hashedNgramBuckets(col("text")).as("fast"),
        HofReferences.hashedNgramBucketsHof(col("text")).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad === 0, s"md5_ngram_buckets diverged on $bad rows")
    }
  }

  test("long_sorted_set == array_sort(array_distinct); merge intersect == array_intersect size") {
    val toks = TextAnalysis.tokens(col("text"))
    val hs = GraftFunctions.shingleHashes(toks, 3)
    for (df <- Seq(adversarial, corpus)) {
      val sorted = df.select(
        GraftFunctions.longSortedSet(hs).as("fast"),
        array_sort(array_distinct(hs)).as("ref"))
      assert(sorted.filter(not(col("fast") <=> col("ref"))).count() === 0)
    }
    // intersect over real candidate pairs: fast == built-in
    val sets = graft.dedup.ScaleDedup
      .docShingleSets(corpus, "doc_id", "text", 3)
    val pairs = sets.select(col("id").as("id_a"), col("shs").as("shs_a"))
      .crossJoin(sets.select(col("id").as("id_b"), col("shs").as("shs_b")))
      .filter(col("id_a") < col("id_b")).limit(5000)
    val bad = pairs.select(
      GraftFunctions.sortedIntersectSize(col("shs_a"), col("shs_b")).as("fast"),
      size(array_intersect(col("shs_a"), col("shs_b"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad === 0)
  }

  test("l2_normalize == per-element x/norm(e) HOF chain on fixture embeddings") {
    val emb = graft.Tables.embeddings(spark, TestSpark.SfDir).limit(500)
    val both = emb.select(
      GraftFunctions.l2Normalize(col("embedding")).as("fast"),
      transform(col("embedding"),
        x => x.cast("double") /
          sqrt(GraftFunctions.dotProduct(col("embedding"), col("embedding"))))
        .as("ref"))
    assert(both.filter(not(col("fast") <=> col("ref"))).count() === 0)
  }

  test("nearest_centroid == crossJoin + cosinePre + rank-1 window assignment") {
    import graft.similarity.Knn
    val emb = graft.Tables.embeddings(spark, TestSpark.SfDir).limit(400)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val centroids = emb.orderBy(xxhash64(col("vec_id"))).limit(8)
      .select(monotonically_increasing_id().as("cid"),
        col("embedding").as("c_emb")).localCheckpoint()
    // the r13 window form, replicated verbatim
    val scored = emb.withColumn("v_nrm", Knn.norm(col("embedding")))
      .crossJoin(broadcast(centroids.withColumn("c_nrm", Knn.norm(col("c_emb")))))
      .withColumn("csim", round(
        GraftFunctions.dotProduct(col("embedding"), col("c_emb")) /
          (col("v_nrm") * col("c_nrm")), 6))
    val ref = graft.plans.TopK.perKey(scored,
        Seq(col("vec_id")), Seq(col("csim").desc, col("cid").asc), 1)
      .select(col("vec_id"), col("cid").as("ref_cid"))
    val fast = Knn.ivfAssign(emb, centroids)
      .select(col("vec_id"), col("cid").as("fast_cid"))
    val joined = ref.join(fast, "vec_id")
    assert(joined.count() === 400)
    assert(joined.filter(col("ref_cid") =!= col("fast_cid")).count() === 0)
  }

  test("ivfAssign: empty centroid frame yields an empty assignment (r15)") {
    import graft.similarity.Knn
    val emb = graft.Tables.embeddings(spark, TestSpark.SfDir).limit(10)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val empty = emb.filter(lit(false))
      .select(monotonically_increasing_id().as("cid"),
        col("embedding").as("c_emb"))
    // the r13 crossJoin form returned empty here; the literal-argmax
    // expression would throw — the fallback must route around it
    assert(Knn.ivfAssign(emb, empty).count() === 0)
  }

  test("centroid_argmin_l2 == crossJoin + round-6 d2 + rank-1 window assignment") {
    val emb = graft.Tables.embeddings(spark, TestSpark.SfDir).limit(400)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("e"))
    val centroids = emb.orderBy(col("vec_id")).limit(7)
      .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("vec_id"))) - 1)
          .as("cid"),
        col("e").as("c_emb")).localCheckpoint()
    val dot = GraftFunctions.dotProduct _
    // the r13 window form, replicated verbatim
    val scored = emb.withColumn("e_n2", dot(col("e"), col("e")))
      .crossJoin(broadcast(
        centroids.withColumn("c_n2", dot(col("c_emb"), col("c_emb")))))
      .withColumn("d2",
        round(col("e_n2") - lit(2.0) * dot(col("e"), col("c_emb")) + col("c_n2"), 6))
    val ref = graft.plans.TopK.perKey(scored,
        Seq(col("vec_id")), Seq(col("d2").asc, col("cid").asc), 1)
      .select(col("vec_id"), col("cid").as("ref_cid"), col("d2").as("ref_d2"))
    val mat = centroids.orderBy(col("cid")).collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    val fast = emb.select(col("vec_id"),
        GraftFunctions.centroidArgminL2(col("e"), mat).as("_r"))
      .select(col("vec_id"), col("_r.pos").as("fast_cid"),
        col("_r.d2").as("fast_d2"))
    val joined = ref.join(fast, "vec_id")
    assert(joined.count() === 400)
    assert(joined.filter(col("ref_cid") =!= col("fast_cid") ||
      not(col("ref_d2") <=> col("fast_d2"))).count() === 0)
  }

  test("lang_id and quality_score == the r13 Column chains, fixture + adversarial") {
    val docs = graft.Tables.documents(spark, TestSpark.SfDir)
      .select(col("doc_id"), col("text")).limit(500)
    for (df <- Seq(adversarial, docs)) {
      val toks = TextAnalysis.tokens(col("text"))
      val both = df.select(
        TextAnalysis.langIdOf(toks).as("lang_fast"),
        HofReferences.langIdOfHof(toks).as("lang_ref"),
        TextAnalysis.qualityScoreOf(col("text"), toks).as("q_fast"),
        HofReferences.qualityScoreOfHof(col("text"), toks).as("q_ref"))
      assert(both.filter(not(col("lang_fast") <=> col("lang_ref")) ||
        not(col("q_fast") <=> col("q_ref"))).count() === 0)
    }
  }

  test("minhash_sig over the positional multiset equals over the distinct set") {
    val toks = TextAnalysis.tokens(col("text"))
    val both = corpus.select(
      GraftFunctions.minhashSig(
        GraftFunctions.shingleHashes(toks, 3), 32).as("multiset"),
      GraftFunctions.minhashSig(
        array_distinct(GraftFunctions.shingleHashes(toks, 3)), 32).as("set"))
    assert(both.filter(not(col("multiset") <=> col("set"))).count() === 0)
  }
}

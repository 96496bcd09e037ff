package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables

/** Dev tool: build a complete N× replica of a fixture directory so the
  * FULL oracle suite (not just the bench headliners) can run one scale
  * up — `Bench.ensureSf1` covers only the three tables its headline
  * subset reads.
  *
  * Fact tables replicate with coordinated key strides so joins keep
  * their semantics (orders.o_custkey and customer.c_custkey shift
  * together); dimension tables (region/nation/part/supplier) stay 1×,
  * which is the realistic star-schema shape — dims grow slower than
  * facts. Documents tag alternate tokens per replica so no
  * cross-replica shingle survives (dedup scales like more corpus, not
  * like a duplicate explosion). Embeddings apply a per-replica
  * diagonal ±1 transform (sign-flip of one dim class): orthogonal, so
  * within-replica cosine structure is preserved exactly, while
  * cross-replica cosines drop far below near-dup thresholds.
  *
  * Usage: runMain graft.tools.ReplicateSf <baseDir> <outDir> [reps] [docs]
  * The optional `docs` mode replicates ONLY the documents table —
  * the 100× span/dedup scaling decade (500k docs from sf0.1) needs
  * no other input, and skipping the 60M-row lineitem replica keeps
  * the build minutes-cheap.
  */
object ReplicateSf {

  def main(args: Array[String]): Unit = {
    val (base, out) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 10
    val docsOnly = args.length > 3 && args(3) == "docs"
    val spark = graft.GraftSession.local("graft-replicate-sf")
    spark.sparkContext.setLogLevel("WARN")
    if (new java.io.File(s"$out/_DONE").exists()) {
      println(s"[replicate] $out already complete"); return
    }

    def assertStride(df: DataFrame, keyCol: String, stride: Long): Unit = {
      val mx = df.agg(max(col(keyCol))).head.getLong(0)
      require(mx < stride,
        s"replica stride violated: max($keyCol)=$mx >= $stride")
    }
    def write(name: String, make: Int => DataFrame): Unit = {
      (0 until reps).map(make).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[replicate] $name x$reps")
    }
    def copy(name: String): Unit = {
      spark.read.parquet(s"$base/$name.parquet")
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[replicate] $name x1 (dimension)")
    }

    def writeDocs(): Unit = write("documents", i => {
      val d = Tables.documents(spark, base)
      if (i == 0) d
      else d
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        .withColumn("text", concat_ws(" ",
          transform(split(col("text"), "\\s+"),
            (t, idx) => when(idx % 2 === 0, concat(t, lit(s"_r$i"))).otherwise(t))))
    })

    if (docsOnly) {
      assertStride(Tables.documents(spark, base), "doc_id", 1000000L)
      require(reps <= 1000000, s"doc_id stride supports <=1e6 reps, got $reps")
      writeDocs()
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (docs only) -> $out")
      return
    }

    // `emb` mode: embeddings-only replica for the clustering/ANN
    // scaling decade. The default path's dim-class sign flip supports
    // at most `dim` distinct replicas (past that, replicas are exact
    // duplicates — a spurious near-dup explosion); here each replica
    // gets an independent ±1 diagonal from splitmix64(i, d):
    // orthogonal (within-replica cosines preserved exactly — ±1f
    // multiplication is float-exact), and cross-replica pairs
    // decorrelate like random vectors for every i.
    if (args.length > 3 && args(3) == "emb") {
      assertStride(Tables.embeddings(spark, base), "vec_id", 1000000L)
      def signs(i: Int, dim: Int): Seq[Float] = (0 until dim).map { d =>
        var z = i.toLong * 0x9E3779B97F4A7C15L + d.toLong
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0f else -1.0f
      }
      write("embeddings", i => {
        val e = Tables.embeddings(spark, base)
          .withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
        if (i == 0) e
        else e.withColumn("embedding",
          zip_with(col("embedding"), typedlit(signs(i, 64)), (x, s) => x * s))
      })
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (embeddings only) -> $out")
      return
    }

    // `events` mode: events-only replica for the event-analytics
    // scaling decade (funnel/retention/sessionize/anomaly/transitions
    // read only this table). event_id and user_id shift together so
    // each replica is a disjoint user population with the SAME
    // behavioral mix — sessions/funnels multiply, per-user history
    // does not (the realistic growth shape for event data).
    if (args.length > 3 && args(3) == "events") {
      assertStride(Tables.events(spark, base), "event_id", 1000000L)
      assertStride(Tables.events(spark, base), "user_id", 1000000L)
      write("events", i => Tables.events(spark, base)
        .withColumn("event_id", col("event_id") + lit(i * 1000000L))
        .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (events only) -> $out")
      return
    }

    // `orders` mode: orders-only replica for the IPES-flagship scaling
    // decade — ipes_companies_full synthesizes its bronze from orders
    // alone, and the o_custkey shift keeps the distinct-name set FIXED
    // (1e7 ≡ 0 mod 40, so the Vendor-N names repeat identically) while
    // filings multiply: exactly the shape whose candidate-pair count
    // must stay linear in distinct names, not filings.
    if (args.length > 3 && args(3) == "orders") {
      assertStride(Tables.orders(spark, base), "o_orderkey", 100000000L)
      assertStride(Tables.orders(spark, base), "o_custkey", 10000000L)
      write("orders", i => Tables.orders(spark, base)
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (orders only) -> $out")
      return
    }

    // `parts` mode: part-only replica for the j3 fuzzy-dedup decade.
    // Dimensions don't grow like facts in a real star schema (the
    // principled 1×-dims stance everywhere else), but the name-dedup
    // OPERATOR still deserves a 100× input: each replica maps every
    // name token through a per-replica vocabulary (prefix r<i>), so
    // the distinct-name universe really multiplies while blocking
    // stays replica-local — first/last-token keys differ across
    // replicas — and the trailing-s plural rule keeps working (the
    // prefix leaves token ENDINGS untouched). Replica 0 unmodified.
    if (args.length > 3 && args(3) == "parts") {
      assertStride(Tables.part(spark, base), "p_partkey", 10000000L)
      write("part", i => {
        val p = Tables.part(spark, base)
          .withColumn("p_partkey", col("p_partkey") + lit(i * 10000000L))
        if (i == 0) p
        else p.withColumn("p_name", concat_ws(" ",
          transform(split(col("p_name"), " "), t => concat(lit(s"r$i"), t))))
      })
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (parts only) -> $out")
      return
    }

    // `facts` mode: lineitem+orders+customer replicated with
    // coordinated key strides, dimensions copied 1× — the analytics /
    // stats family (q1/q3/q5/q7/q10, j1, corr/regression/winsorize,
    // IPES aggs) reads nothing else, and skipping the docs/events/
    // embeddings replicas keeps the 100× build parquet-scan-bound.
    if (args.length > 3 && args(3) == "facts") {
      assertStride(Tables.lineitem(spark, base), "l_orderkey", 100000000L)
      assertStride(Tables.orders(spark, base), "o_orderkey", 100000000L)
      assertStride(Tables.orders(spark, base), "o_custkey", 10000000L)
      assertStride(Tables.customer(spark, base), "c_custkey", 10000000L)
      Seq("region", "nation", "part", "supplier").foreach(copy)
      write("lineitem", i => Tables.lineitem(spark, base)
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
      write("orders", i => Tables.orders(spark, base)
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
      write("customer", i => Tables.customer(spark, base)
        .withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
      new java.io.File(s"$out/_DONE").createNewFile()
      println(s"[replicate] done (facts only) -> $out")
      return
    }

    assertStride(Tables.lineitem(spark, base), "l_orderkey", 100000000L)
    assertStride(Tables.orders(spark, base), "o_orderkey", 100000000L)
    assertStride(Tables.orders(spark, base), "o_custkey", 10000000L)
    assertStride(Tables.customer(spark, base), "c_custkey", 10000000L)
    assertStride(Tables.documents(spark, base), "doc_id", 1000000L)
    assertStride(Tables.events(spark, base), "event_id", 1000000L)
    assertStride(Tables.embeddings(spark, base), "vec_id", 1000000L)

    Seq("region", "nation", "part", "supplier").foreach(copy)

    write("lineitem", i => Tables.lineitem(spark, base)
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
    write("orders", i => Tables.orders(spark, base)
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
      .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L)))
    write("customer", i => Tables.customer(spark, base)
      .withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L)))
    writeDocs()
    // ts re-written as a micros TIMESTAMP (Spark cannot emit the base
    // fixture's TIMESTAMP(NANOS)); Tables.events handles both layouts.
    write("events", i => Tables.events(spark, base)
      .withColumn("event_id", col("event_id") + lit(i * 1000000L)))
    write("embeddings", i => Tables.embeddings(spark, base)
      .withColumn("vec_id", col("vec_id") + lit(i * 1000000L))
      .withColumn("embedding",
        if (reps <= 1) col("embedding")
        else transform(col("embedding"),
          (x, d) => when(lit(i) =!= 0 && d % reps === i, -x).otherwise(x))))

    new java.io.File(s"$out/_DONE").createNewFile()
    println(s"[replicate] done -> $out")
  }
}

package graft.tools

import java.sql.Timestamp
import java.util.Random

import org.apache.spark.sql.SparkSession

/** Dev tool: generate a full sf0.01-shaped fixture set from an
  * arbitrary seed — the seed-robustness harness the round-6 verdict
  * asked for (#5). Every oracle floor in the registry (ANN recall
  * floors, CMS/HLL tolerance booleans, dedup thresholds) was tuned on
  * the one committed driver fixture (seed 42); a driver regeneration
  * is the realistic threat model, so Verify + check_oracle must pass
  * against a DIFFERENT seed to prove the floors measure the
  * algorithms, not the fixture.
  *
  * Matches the driver fixture's schema and distribution shape
  * (profiled from /root/testdata/sf0.01):
  *   region 5 / nation 25 / customer 1.5k / supplier 100 / part 2k /
  *   orders 15k / lineitem 60k / events 10k (150 users, 5 types, one
  *   month of micros timestamps) / documents 500 (30-word vocab,
  *   10–99 tokens, ~5% near-dup copies with "dup" markers appended) /
  *   embeddings 500 (dim-64 unit vectors, 10 labels with weak
  *   centroid signal — measured intra-cos ≈ 0.02).
  *
  * Usage: runMain graft.tools.GenFixture <outDir> [seed]
  * Driver-side generation is fine here: this is a fixture tool for
  * the sf0.01 tier (~60k rows), not a distributed operator.
  */
object GenFixture {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val seed = if (args.length > 1) args(1).toLong else 1337L
    val spark = graft.GraftSession.local("graft-gen-fixture", 8)
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, outDir, seed)
    spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    def write(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // --- dimension tables -------------------------------------------------
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", regions.zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", (0 until 25)
      .map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"))

    val segments = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
    write("customer", (0 until 1500).map { i =>
      (i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        math.round((rnd.nextDouble() * 11000 - 1000) * 100) / 100.0,
        segments(rnd.nextInt(segments.size)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))

    write("supplier", (0 until 100).map { i =>
      (i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        math.round(rnd.nextDouble() * 10000 * 100) / 100.0)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))

    val adjs = Seq("small", "big", "red", "green", "shiny", "dull", "light", "heavy")
    val nouns = Seq("widget", "ring", "gear", "bolt", "cog", "pin", "rod", "cap")
    val ptypes = Seq("ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO")
    write("part", (0 until 2000).map { i =>
      (i.toLong, s"${adjs(rnd.nextInt(8))} ${nouns(rnd.nextInt(8))}",
        s"Brand#${rnd.nextInt(25)}", ptypes(rnd.nextInt(6)), 1 + rnd.nextInt(50),
        900.0 + i / 10.0)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))

    // --- fact tables ------------------------------------------------------
    val dayMs = 86400000L
    val ordersEpoch = Timestamp.valueOf("1995-01-01 00:00:00").getTime
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    write("orders", (0 until 15000).map { i =>
      (i.toLong, rnd.nextInt(1500).toLong, Seq("P", "F", "O")(rnd.nextInt(3)),
        math.round((1000 + rnd.nextDouble() * 499000) * 100) / 100.0,
        new Timestamp(ordersEpoch + rnd.nextInt(2400) * dayMs),
        priorities(rnd.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"))

    write("lineitem", (0 until 60000).map { i =>
      val qty = (1 + rnd.nextInt(50)).toDouble
      (rnd.nextInt(15000).toLong, rnd.nextInt(2000).toLong, rnd.nextInt(100).toLong,
        1 + rnd.nextInt(7), qty,
        math.round(qty * (900 + rnd.nextDouble() * 1200) * 100) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2)),
        new Timestamp(ordersEpoch + (1 + rnd.nextInt(2500)) * dayMs))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"))

    // --- events (one month of micros timestamps, 150 users) ---------------
    val evEpochUs = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val monthUs = 30L * 86400L * 1000000L
    val types = Seq("view", "click", "signup", "purchase", "error")
    write("events", (0 until 10000).map { i =>
      (i.toLong,
        new Timestamp((evEpochUs + (rnd.nextDouble() * monthUs).toLong) / 1000L),
        rnd.nextInt(150).toLong, types(rnd.nextInt(5)),
        math.round((0.01 + rnd.nextDouble() * 490) * 100) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))

    // --- documents: 30-word vocab, ~5% near-dup copies --------------------
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value",
      "part", "hash", "merge", "batch", "join", "customer", "column", "filter",
      "small", "order", "vector", "line", "data", "stream", "window", "spark",
      "group", "big", "sort", "query", "the", "a")
    val langs = Seq("en", "en", "en", "en", "zh", "es", "de", "fr", "es", "de")
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (i <- 0 until 500) {
      val text =
        if (i > 10 && rnd.nextInt(20) == 0) {
          // near-dup: copy an earlier doc, append 1–2 marker tokens
          val src = docs(rnd.nextInt(docs.size))._2
          src + (" dup" * (1 + rnd.nextInt(2)))
        } else {
          val n = 10 + rnd.nextInt(90)
          (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
        }
      docs += ((i.toLong, text, langs(rnd.nextInt(langs.size)),
        s"src${rnd.nextInt(20)}", text.length.toLong))
    }
    write("documents", docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"))

    // --- embeddings: dim-64 unit vectors, weak per-label centroids --------
    val centroids = Array.fill(10) {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    write("embeddings", (0 until 500).map { i =>
      val label = rnd.nextInt(10)
      val raw = Array.tabulate(64)(d =>
        rnd.nextGaussian().toFloat / 8f + 0.15f * centroids(label)(d))
      // normalize to unit length (matches the driver fixture: all norms 1.0)
      val n = math.sqrt(raw.map(x => x * x.toDouble).sum).toFloat
      (i.toLong, raw.map(_ / n), label)
    }.toDF("vec_id", "embedding", "label"))
  }
}

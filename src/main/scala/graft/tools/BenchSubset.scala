package graft.tools

/** Targeted bench: run the named registered queries for N trials each
  * in one fresh session and print per-trial seconds — the adjudication
  * tool for cross-round `vs_prev` flags (the full [[graft.Bench]]
  * protocol runs whole tiers, so a late-tier load spike contaminates
  * exactly the queries under investigation; this isolates them).
  *
  * Usage: BenchSubset <sfDir> <q1,q2,...> [trials=3]
  * Prints one line per query: `name: t1 t2 t3 | min=...`
  */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val trials = if (args.length > 2) args(2).toInt else 3
    val spark = graft.GraftSession.local("graft-bench-subset")
    spark.sparkContext.setLogLevel("WARN")
    // same warmup + between-trial isolation as Bench
    spark.range(1000000).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val ts = (0 until trials).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.Bench.isolateIn(spark)
        sec
      }
      println(f"${name}: ${ts.map(t => f"$t%.2f").mkString(" ")} | min=${ts.min}%.2f")
    }
    spark.stop()
  }
}

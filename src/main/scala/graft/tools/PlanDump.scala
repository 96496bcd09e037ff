package graft.tools

/** Dev tool: print the executed plan of a registered query — the
  * "explain, then iterate until it's the plan you'd want" loop.
  *
  * Usage: runMain graft.tools.PlanDump <queryName> [sfDir] [grep]
  * With [grep], prints only plan lines containing the substring
  * (case-insensitive) plus a scan-count summary.
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val needle = if (args.length > 2) Some(args(2).toLowerCase) else None
    val spark = graft.GraftSession.local("graft-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    val lines = plan.split("\n")
    println(s"[plan] $name: ${lines.count(_.contains("Scan parquet"))} parquet scans, " +
      s"${lines.count(_.contains("Exchange"))} exchanges, " +
      s"${lines.count(_.contains("Window"))} window nodes")
    needle match {
      case Some(n) => lines.filter(_.toLowerCase.contains(n)).foreach(println)
      case None => println(plan)
    }
    // GRAFT_PLANDUMP_TIME=N: also execute the query N times (noop
    // write, bench-identical materialization) and print per-trial
    // seconds — the quick solo timing the bench can't give you —
    // plus the FINAL adaptive plan's join-strategy mix per trial
    // (AQE decides joins at runtime, so a bimodal query can be a
    // plan flip rather than load; the pre-execution dump above only
    // shows the initial plan).
    sys.env.get("GRAFT_PLANDUMP_TIME").map(_.toInt).foreach { n =>
      // The write action runs its own QueryExecution (the DataFrame's
      // own executedPlan never executes), so the final adaptive plan
      // must be captured from the listener that sees the write's QE.
      @volatile var lastPlan = ""
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit = {
            lastPlan = qe.executedPlan.toString
          }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
      (1 to n).foreach { i =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener callbacks are async — give the bus a beat
        Thread.sleep(300)
        val fin = lastPlan
        def c(p: String) = fin.split("\n").count(_.contains(p))
        println(f"[plan] $name trial $i: $sec%.2f s  " +
          s"joins: bhj=${c("BroadcastHashJoin")} smj=${c("SortMergeJoin")} " +
          s"shj=${c("ShuffledHashJoin")} bnl=${c("BroadcastNestedLoopJoin")} " +
          s"aqeShuffleReads=${c("AQEShuffleRead")} " +
          s"reusedExchanges=${c("ReusedExchange")} " +
          s"exchanges=${c("Exchange")} " +
          s"final=${fin.contains("isFinalPlan=true")}")
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}

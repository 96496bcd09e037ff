package graft.tools

/** Write `.explain("formatted")` output of registered queries to files
  * — the before/after plan evidence an optimization round commits
  * (`plans/rNN/<query>_<tag>.txt`).
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanSnap {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local("graft-plan-snap")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val lines = txt.split("\n")
      val summary = s"== $name @ $dir ==\n" +
        s"Exchanges: ${lines.count(l => l.contains("Exchange") && !l.contains("Reuse"))}  " +
        s"Scans: ${lines.count(_.contains("Scan "))}  " +
        s"SMJ: ${lines.count(_.contains("SortMergeJoin"))}  " +
        s"BHJ: ${lines.count(_.contains("BroadcastHashJoin"))}  " +
        s"Window: ${lines.count(_.contains(") Window"))}\n\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), summary + txt)
      println(s"[plansnap] wrote $outDir/${name}_$tag.txt")
      // release any localCheckpoint blocks the plan build materialized
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}

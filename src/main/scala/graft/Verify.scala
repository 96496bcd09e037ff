package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev spot-checks)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce puts a 1-partition
      // cap on the whole narrow chain upstream (scan + transforms run
      // in ONE task — at sf1 that turned minute-queries into hours);
      // repartition inserts a shuffle so compute keeps its parallelism
      // and only the final file write is single-task.
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query seconds on stderr: at replica scale one hot query
        // can dominate the whole dump — make it visible, not silent
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // eager roundtrip-fixture temp cleanup between queries (the
      // shutdown hook stays as backstop) — a replica-scale dump runs
      // long enough for accumulated fixture dirs to matter
      graft.registry.QueryTmp.sweep()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

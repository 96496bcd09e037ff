package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: the engine's Catalyst wiring
  * ([[plans.GraftExtensions]]) plus the settings whose Spark defaults
  * do not fit it. Adaptive execution with skew split and partition
  * coalescing, and 128 MB scan splits, are already Spark's defaults.
  */
object GraftSession {

  /** Local-mode threads: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet columns reject the vectorized reader;
      // read as raw longs, Tables' timestamp arm rebuilds them.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new plans.GraftExtensions)
    if (shufflePartitions > 0)
      b.config("spark.sql.shuffle.partitions", shufflePartitions)
    b
  }

  /** A local session on `cores` threads, one shuffle partition per
    * thread, UI off.
    */
  def local(app: String, cores: Int = cpus): SparkSession =
    builder(cores)
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

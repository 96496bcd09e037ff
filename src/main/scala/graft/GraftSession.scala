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

  /** Entries in Spark's generated-class cache, default 100. Spark keys
    * an entry by class loader and source, so in local mode each stage
    * is cached once for the driver and once for the executor. Measured
    * distinct classes: one `etl.Pipeline.run` about 155, a whole
    * ipes_etl benchmark process 207, one `Verify` pass over the sf0.01
    * registry 2094. At 100 entries every warm pipeline run evicted and
    * recompiled its own classes (about 1.3 s of compile per run).
    * 4096 is about twice the largest of these. Static: Spark reads
    * it once per JVM, when `CodeGenerator` first loads.
    */
  val CodegenCacheEntries = 4096

  def builder(shufflePartitions: Int = 0): SparkSession.Builder = {
    val b = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      // TIMESTAMP(NANOS) parquet columns reject the vectorized reader;
      // read as raw longs, Tables' timestamp arm rebuilds them.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // `file:` without a chmod or ls process per file or status
      .config(s"spark.hadoop.${sources.Writers.LocalFsKey}",
        classOf[sources.NioLocalFileSystem].getName)
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

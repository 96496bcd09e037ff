package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** S3/S4/S6/S7/S8 — schema-explicit readers and column-ordered writers
  * (SURVEY §2.1). Bronze reads are tolerant: PERMISSIVE mode with a
  * `_corrupt_record` column instead of failing the job, mirroring the
  * reference's count-don't-crash posture (`structure_data.py:269-271`).
  */
object Readers {

  private def withCorrupt(schema: StructType): StructType =
    if (schema.fieldNames.contains("_corrupt_record")) schema
    else schema.add(StructField("_corrupt_record", StringType))

  /** S3: whole-file JSON array (the reference's layer format). */
  def jsonArray(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read
      .option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt(schema))
      .json(path)

  /** JSON-lines variant (the engine's native layer format at scale —
    * splittable, unlike a whole-file array).
    */
  def jsonLines(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt(schema))
      .json(path)

  /** S4: headered CSV with explicit schema (no inference jobs). */
  def csv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.option("header", true).schema(schema).csv(path)
}

object Writers {

  /** S7: CSV with a fixed column order (DictWriter fieldnames parity). */
  def csvOrdered(df: DataFrame, columns: Seq[String], path: String): Unit =
    df.select(columns.map(col): _*)
      .write.mode("overwrite").option("header", true).csv(path)

  /** S6: JSON-lines write (array-vs-lines is a serialization detail;
    * lines is the splittable form).
    */
  def json(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** S8: append-only history sink, one partition dir per run timestamp
    * — replaces the reference's read-modify-write of a growing JSON
    * list, which cannot work with concurrent/100 TB-scale runs. Readers
    * get "latest run" as an orderBy(desc).limit(1) over run_ts.
    */
  def appendHistory(df: DataFrame, path: String, runTs: String): Unit =
    df.withColumn("run_ts", lit(runTs))
      .write.mode("append").partitionBy("run_ts").parquet(path)

  /** Rejects filenames that would escape the target directory. Writers
    * validate rather than rewrite: silently renaming would desync the
    * manifest anti-join (S11) that keys incremental restarts.
    */
  private[sources] def requireSafeFilename(name: String): Unit =
    require(name != null && name.nonEmpty && name != "." && name != ".." &&
      !name.contains("/") && !name.contains("\\"),
      s"unsafe document filename '$name': must be a bare name with no path separators")

  /** Task-side Hadoop filesystem for `path`: resolved from the
    * executor's own Configuration (site files on the executor
    * classpath), so writes land on the SHARED filesystem — java.nio
    * would scatter files across executor-local disks on a real
    * cluster. A checksummed file system (the local one) is unwrapped to
    * its raw file system, so the repository directory holds exactly the
    * documents written. Its checksum switches are not touched: the
    * instance is the JVM-wide cached one that every Spark write shares.
    * The bare Configuration sees no `spark.hadoop.*` keys, so it names
    * the session's `file:` file system ([[NioLocalFileSystem]]) itself.
    */
  private[sources] def taskFs(path: String): org.apache.hadoop.fs.FileSystem = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set(LocalFsKey, classOf[NioLocalFileSystem].getName)
    new org.apache.hadoop.fs.Path(path).getFileSystem(conf) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }
  }

  /** The Hadoop key naming the `file:` scheme's file system class. */
  private[graft] val LocalFsKey = "fs.file.impl"

  /** Binary document-repository writer: one file per (`filename`,
    * `content` binary) row under `path` — the write half of the §1.1
    * document repository; `spark.read.format("binaryFile")` is the
    * read half. One row per file is the contract: documents are whole
    * artifacts, not splittable records, so parallelism comes from the
    * file count (exactly how a distributed fetch lays them down).
    */
  def binaryDocs(df: DataFrame, path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).mkdirs(dir)
    df.select(col("filename"), col("content"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val fs = taskFs(path)
        it.foreach { r =>
          val name = r.getString(0)
          requireSafeFilename(name)
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
          try out.write(r.getAs[Array[Byte]](1)) finally out.close()
        }
      }
  }

  /** Edge serialization for "; "-packed multi-value strings (F2):
    * arrays live as ArrayType inside the engine, packed only at the
    * CSV boundary.
    */
  def packList(c: Column, sep: String = "; "): Column = concat_ws(sep, c)
  def unpackList(c: Column, sep: String = "; "): Column =
    when(c.isNull || c === "", array().cast("array<string>"))
      .otherwise(split(c, java.util.regex.Pattern.quote(sep)))
}

package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed readers for the driver-generated star schema (TESTDATA.md).
  *
  * All reads are plain parquet scans so Catalyst can push filters and
  * prune columns down to the file scan — at 100 TB the scan is the
  * dominant cost and `PushedFilters`/`ReadSchema` must stay tight.
  * The read schema is inferred once per file set ([[readParquet]]).
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Canonical numeric types per table, matching the driver's shipped
    * schema. Fixture regenerations have flipped writer-side physical
    * types before (the round-6 TIMESTAMP_NTZ drift); a width flip on an
    * id column is the same threat for every hash-bearing oracle —
    * `xxhash64(int)` and `xxhash64(bigint)` hash different byte widths,
    * so an int32 `doc_id` would silently break every minhash/LSH/
    * winnowing twin. Normalizing on read keeps query results a function
    * of the VALUES, not the writer's encoding choices. Exact widenings
    * (int→long, float→double) cast directly; every other realistic
    * layout — a narrowing-width writer, DECIMAL, VARCHAR — casts
    * through a per-row round-trip guard that throws on the first value
    * the cast would corrupt, so an unexpected layout fails loudly
    * instead of wrapping/truncating silently.
    */
  private[graft] val canonicalNumerics: Map[String, Map[String, DataType]] = Map(
    "region"   -> Map("r_regionkey" -> IntegerType),
    "nation"   -> Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType),
    "customer" -> Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType,
                      "c_acctbal" -> DoubleType),
    "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
                      "s_acctbal" -> DoubleType),
    "part"     -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
                      "p_retailprice" -> DoubleType),
    "orders"   -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_totalprice" -> DoubleType),
    "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                      "l_discount" -> DoubleType, "l_tax" -> DoubleType),
    "events"   -> Map("event_id" -> LongType, "user_id" -> LongType,
                      "value" -> DoubleType),
    "documents" -> Map("doc_id" -> LongType, "n_chars" -> LongType),
    "embeddings" -> Map("vec_id" -> LongType, "label" -> IntegerType),
  )

  private def width(dt: DataType): Int = dt match {
    case ByteType => 1; case ShortType => 2; case IntegerType => 4
    case LongType => 8; case FloatType => 4; case DoubleType => 8
    case _ => 0
  }
  private def integral(dt: DataType): Boolean =
    dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType

  /** Casts that embed every representable value exactly: integral into
    * a same-or-wider integral, float into double, and integrals whose
    * full range fits the target mantissa (≤int32 into double's 52
    * bits, ≤int16 into float's 23). Everything else is *checked*.
    */
  private def exactWidening(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if integral(f) && integral(t) => width(f) <= width(t)
    case (FloatType, DoubleType)              => true
    case (f, DoubleType) if integral(f)       => width(f) <= 4
    case (f, FloatType) if integral(f)        => width(f) <= 2
    case _                                    => false
  }

  /** Cast toward the canonical type with a per-row round-trip guard:
    * the value must survive `from → want → from` bit-exactly or the
    * scan throws OUR error (raise_error inside codegen). This is the
    * audited arm for layouts that are *usually* value-preserving but
    * can silently corrupt in the tail — int64 written for a canonical
    * int32 column (wraps under non-ANSI cast), DECIMAL prices (exact
    * into double only up to ~15 significant digits), int64 ids into
    * double (exact only below 2^53). Both directions go through
    * `try_cast` (NULL-on-error in BOTH ANSI modes) so an overflow
    * surfaces as our named diagnostic rather than mode-dependently as
    * CAST_OVERFLOW or a silent wrap. One comparison per row, and only
    * on drifted layouts — the canonical fast path is untouched.
    */
  private def checkedCast(c: org.apache.spark.sql.Column, from: DataType,
                          want: DataType, table: String, cName: String) = {
    import org.apache.spark.sql.functions._
    val casted = c.try_cast(want)
    when(c.isNull, casted)
      .when(casted.isNotNull && (casted.try_cast(from) <=> c), casted)
      .otherwise(raise_error(concat(
        lit(s"[graft.Tables] $table.$cName: ${from.sql} -> ${want.sql} " +
          "writer-layout cast is not value-preserving for value "),
        c.cast(StringType))))
  }

  /** VARCHAR writer layout: the canonical interpretation of a numeric
    * string is its parse — but a parse that *truncates* ("12.5" into
    * an integral column), *overflows*, or fails outright must throw
    * OUR diagnostic instead of being mode-dependent (ANSI throws
    * CAST_INVALID_INPUT, non-ANSI silently truncates or nulls).
    * `try_cast` runs ANSI-strict validation with NULL-on-error in
    * both modes — a fractional string never try_casts to an integral
    * type — so the single NULL check covers truncation, overflow, and
    * garbage; fractional targets take the nearest-double parse (the
    * canonical value, identical to DuckDB's reader).
    */
  private def stringCast(c: org.apache.spark.sql.Column, want: DataType,
                         table: String, cName: String) = {
    import org.apache.spark.sql.functions._
    val casted = c.try_cast(want)
    val err = raise_error(concat(
      lit(s"[graft.Tables] $table.$cName: STRING -> ${want.sql} " +
        "writer-layout cast is lossy or unparseable for value "), c))
    when(c.isNull, casted).when(casted.isNotNull, casted).otherwise(err)
  }

  /** Cast any column whose read type differs from its canonical
    * numeric type. Exact widenings cast blindly; plain-numeric
    * narrowings, DECIMAL, and VARCHAR layouts cast through a per-row
    * value-preservation guard that throws rather than wrap/truncate;
    * anything else (a layout no realistic writer produces for these
    * columns) fails loudly at read time instead of skipping
    * normalization and corrupting every downstream hash oracle.
    */
  private def normalizeNumerics(df: DataFrame, name: String): DataFrame =
    canonicalNumerics.get(name).fold(df) { m =>
      m.foldLeft(df) { case (d, (cName, want)) =>
        d.schema.fields.find(_.name == cName) match {
          case None => d
          case Some(f) if f.dataType == want => d
          case Some(f) =>
            val c = org.apache.spark.sql.functions.col(cName)
            val normalized = f.dataType match {
              case from if exactWidening(from, want) => c.cast(want)
              case from if width(from) > 0 => checkedCast(c, from, want, name, cName)
              case from: DecimalType       => checkedCast(c, from, want, name, cName)
              case StringType              => stringCast(c, want, name, cName)
              case other => throw new IllegalArgumentException(
                s"[graft.Tables] $name.$cName: unsupported writer layout " +
                  s"${other.sql} for canonical ${want.sql}")
            }
            d.withColumn(cName, normalized)
        }
      }
    }

  /** Canonical TIMESTAMP columns per table. The round-6 drift hit
    * `events.ts`; `o_orderdate`/`l_shipdate` are the same threat class
    * (a regeneration that drops the UTC flag reads as TIMESTAMP_NTZ,
    * one that writes TIMESTAMP(NANOS) reads as raw long) — normalize
    * them all through one audited arm instead of an events-only fix.
    */
  private[graft] val canonicalTimestamps: Map[String, Seq[String]] = Map(
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events"   -> Seq("ts"),
  )

  /** Writer layouts observed or realistic for a canonical TIMESTAMP:
    * - TIMESTAMP: canonical, untouched.
    * - TIMESTAMP_NTZ (micros, no UTC flag): the session TZ is pinned
    *   UTC, so the cast keeps every value bit-identical, but Spark
    *   still evaluates it per row (`DateTimeUtils.convertTz`).
    * - long (TIMESTAMP(NANOS) via the legacy nanos-as-long conf that
    *   [[GraftSession]] sets): rebuild micros with integer
    *   division — `DIV`, not `/`, since double division loses
    *   precision above 2^53 ns. A plain int64 column carrying MICROS
    *   would be silently misread as nanos here, so the rebuilt value
    *   must land in a sane year range or the scan throws our named
    *   diagnostic (micros-as-nanos lands in 1970).
    * - DATE: midnight-UTC widening — exact (a date has no time to
    *   lose) and cross-engine consistent (DuckDB compares date vs
    *   timestamp through the same midnight cast).
    * - anything else (e.g. VARCHAR dates, ambiguous parse): fail
    *   loudly at read time.
    */
  private def normalizeTimestamps(df: DataFrame, name: String): DataFrame =
    canonicalTimestamps.get(name).fold(df) { cols =>
      import org.apache.spark.sql.functions._
      cols.foldLeft(df) { (d, cName) =>
        d.schema.fields.find(_.name == cName).fold(d) { f =>
          f.dataType match {
            case TimestampType => d
            case TimestampNTZType =>
              d.withColumn(cName, col(cName).cast(TimestampType))
            case LongType =>
              val rebuilt = expr(s"timestamp_micros($cName DIV 1000)")
              d.withColumn(cName,
                when(col(cName).isNull, rebuilt)
                  .when(year(rebuilt).between(1970, 2200), rebuilt)
                  .otherwise(raise_error(concat(
                    lit(s"[graft.Tables] $name.$cName: int64 writer layout " +
                      "is not nanos-since-epoch (rebuilt year out of range) " +
                      "for value "), col(cName).cast(StringType)))))
            case DateType =>
              d.withColumn(cName, col(cName).cast(TimestampType))
            case other => throw new IllegalArgumentException(
              s"[graft.Tables] $name.$cName: unsupported writer layout " +
                s"${other.sql} for canonical TIMESTAMP")
          }
        }
      }
    }

  /** What schema inference returned for one file set under one conf. */
  private final case class Inferred(files: Seq[(String, Long, Long)],
                                    confs: Map[String, String], schema: StructType)

  /** One entry per qualified table path; a new file set or conf
    * replaces it, so the memo holds at most one schema per path.
    * Concurrent: dashboard clients share one session.
    */
  private val inferred = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  /** Every file under `path` (itself, if it is a file) as (name,
    * length, modification time), sorted. `listStatus`, not
    * `listFiles`: it looks up no block locations, and builds no
    * `LocatedFileStatus`, whose copy of a status loads its permission,
    * owner and group.
    */
  private def listing(fs: FileSystem, path: Path): Seq[(String, Long, Long)] = {
    def walk(p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    walk(path).sorted
  }

  /** `spark.read.parquet(path)` without the one-task footer job that
    * schema inference launches on every call: the schema inferred for
    * this path is reused while a fresh listing of its files and the
    * session's SQL conf snapshot (`nanosAsLong`, `inferTimestampNTZ`
    * and `binaryAsString` all change what inference returns) both
    * match the ones it was inferred under. The schema is not fixed in
    * code because fixtures have shipped one column in several physical
    * layouts (see [[events]]), which the normalizers branch on. A path
    * that cannot be listed reads plainly, so a missing table still
    * fails with `PATH_NOT_FOUND`.
    */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val key = scala.util.Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val qualified = fs.makeQualified(p)
      (qualified.toString, listing(fs, qualified))
    }.toOption
    key.fold(spark.read.parquet(path)) { case (qualified, files) =>
      val confs = spark.sessionState.conf.getAllConfs
      Option(inferred.get(qualified))
        .filter(m => m.files == files && m.confs == confs)
        .fold {
          val df = spark.read.parquet(path)
          inferred.put(qualified, Inferred(files, confs, df.schema))
          df
        }(m => spark.read.schema(m.schema).parquet(path))
    }
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTimestamps(
      normalizeNumerics(readParquet(spark, s"$dir/$name.parquet"), name), name)

  def region(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "lineitem")
  /** The base fixture ships `ts` as TIMESTAMP(NANOS), replicas as plain
    * micros TIMESTAMP, and one driver regeneration shipped NTZ — all
    * three (plus DATE) are normalized by the shared timestamp arm in
    * [[t]] / [[normalizeTimestamps]].
    */
  def events(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}

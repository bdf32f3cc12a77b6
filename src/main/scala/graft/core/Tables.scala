package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-provided analytical tables (TESTDATA.md /
  * FIXTURES.md §B): one parquet file per table under `$dir/`.
  *
  * Parquet carries its own schema, so no JSON-style inference pass over
  * the data happens here (unlike the reference's `spark.read.json`
  * double-read, spark-data-pipeline/spark_job.py:109). Spark still runs
  * one footer-reading job per `spark.read.parquet`; [[parquet]] runs it
  * once per file per session. Filters/projections composed on top of
  * these scans push down to the parquet reader via Catalyst.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  private final case class SchemaKey(path: String, len: Long, mtime: Long, nanosAsLong: String)
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Map[SchemaKey, StructType]]())

  /** `spark.read.parquet(path)` with the schema inferred the first time
    * this session read this version of the file, so later reads run no
    * schema-inference job. The key holds the file's length and mtime (a
    * rewritten file is inferred again) and the session's
    * [[NanosKey]] flag, which decides how a NANOS timestamp is typed.
    * A path that does not exist reads as before and fails the same way. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val st = fs.getFileStatus(p)
      val key = SchemaKey(st.getPath.toString, st.getLen, st.getModificationTime,
        spark.conf.get(NanosKey, "false"))
      val perSession = schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]())
      spark.read.schema(perSession.computeIfAbsent(key, _ => spark.read.parquet(path).schema))
        .parquet(path)
    }
  }

  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) depending on the generator version. NANOS is
    * rejected by Spark's vectorized reader ([PARQUET_TYPE_ILLEGAL]), so it
    * is read as raw nanos (legacy.parquet.nanosAsLong) and truncated to
    * micros with integer division — the same ns→µs truncation DuckDB
    * applies, so event-time values agree across engines to the
    * microsecond. MICROS reads natively (as TIMESTAMP_NTZ when
    * isAdjustedToUTC=false) and only needs a cast to the session-UTC
    * TIMESTAMP type every downstream query expects; the legacy flag is a
    * no-op for it. `events()` dispatches on the post-read column type.
    *
    * The legacy conf has no per-read DataFrameReader option, so it is set
    * on the session only for the duration of this call and then restored —
    * leaving it set would silently change how every other nanos-timestamp
    * parquet in the session is read. Restoring after `spark.read.parquet`
    * is safe for the later (lazy) execution: the schema is inferred (or
    * found in [[parquet]]'s cache under the flag) inside this window, and
    * the long column reads without the flag. */
  val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** events.parquet as stored: ts is a raw long in the NANOS era. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    SessionConf.withConf(spark, NanosKey -> "true")(
      parquet(spark, s"$dir/events.parquet"))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = eventsRaw(s, d)
    raw.withColumn("ts", era(raw.schema("ts").dataType).eventTime)
  }

  /** The events table's timestamp era, for readers that cannot go
    * through [[events]]: a streaming file source needs an explicit schema
    * whose ts type matches the file. Holds that schema, the event-time
    * column (what [[events]] returns as ts) and ts in epoch µs. Both eras
    * truncate to the same microsecond values, so results built on it are
    * era-independent. Probes the footer with one batch schema read. */
  final case class EventsEra(schema: StructType, eventTime: Column, tsMicros: Column)

  def eventsEra(spark: SparkSession, dir: String): EventsEra =
    era(eventsRaw(spark, dir).schema("ts").dataType)

  private def era(tsType: DataType): EventsEra = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    tsType match {
      case LongType => EventsEra(schema,
        timestamp_micros(expr("ts div 1000")), expr("ts div 1000"))
      case _ => EventsEra(schema,
        col("ts").cast("timestamp"),
        unix_micros(col("ts").cast("timestamp")))
    }
  }

  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Spread a DataFrame across the session's cores when the source arrived
    * under-parallelized (a small parquet = one split, which serializes any
    * compute-heavy map stage on one core). No-op when the scan already has
    * enough splits — i.e., at real scale. Use ahead of expensive per-row
    * kernels (shingling, signatures), not cheap scans. Catalyst pushes
    * deterministic filters through the round-robin exchange, so a filter
    * on the kernel's output would run the kernel below the spread, on one
    * core; the one such filter it would infer on its own (under an
    * `explode`) is excluded by `SparkSessionFactory.PlanConf`. */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Register every table as a temp view (for spark.sql-path queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

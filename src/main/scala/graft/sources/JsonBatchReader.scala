package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Newline-delimited JSON batch scan (SURVEY §2.1 S7).
  *
  * The reference reads each batch with
  * `spark.read.option("multiline","false").json(batch_files)`
  * (spark-data-pipeline/spark_job.py:109) and no schema — forcing Spark to
  * scan every file TWICE (inference pass, then read pass). At 100 TB that
  * anti-optimization doubles ingest I/O, so [[readGps]] reads with an
  * explicit schema; `read(spark, paths, None)` reproduces the reference's
  * behavior for compatibility tests.
  */
object JsonBatchReader {

  def read(spark: SparkSession, paths: Seq[String],
      schema: Option[StructType]): DataFrame = {
    val reader = spark.read.option("multiline", "false")
    schema.fold(reader)(reader.schema).json(paths: _*)
  }

  def readGps(spark: SparkSession, paths: Seq[String]): DataFrame =
    read(spark, paths, Some(graft.core.GpsSchema.schema))

  /** Marker column for an accounted read's malformed-line capture. */
  val CorruptCol = "_corrupt_record"

  /** Reader options of an accounted read: PERMISSIVE with EXPLICIT
    * corrupt-record capture — §1.3's schema tolerance made auditable.
    * The reference's schemaless `spark.read.json` silently nulls every
    * field of a malformed line (PERMISSIVE default with no corrupt column
    * in the inferred schema), which at ingest scale means data loss
    * nobody can see. Here malformed lines keep their RAW text in
    * [[CorruptCol]] so the pipeline can split good rows from a quarantine
    * stream and publish reject counts per batch — the at-least-once
    * contract extended to "and nothing vanishes silently".
    *
    * Spark restriction documented upstream: a query may not reference
    * ONLY the corrupt column; [[withSplitAccounted]] always carries the
    * full row alongside it. The ingest stream reads with these options
    * and [[accountedSchema]]. */
  val AccountedOptions: Map[String, String] = Map("multiline" -> "false",
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)

  /** `schema` plus the [[CorruptCol]] capture column. */
  def accountedSchema(schema: StructType): StructType = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema already contains $CorruptCol")
    schema.add(CorruptCol, org.apache.spark.sql.types.StringType)
  }

  /** Runs `f` over the (good rows without the marker, quarantine rows
    * with the raw line) split of `df`, then unpersists the batch.
    *
    * The parsed batch is CACHED first: Spark disallows any query whose
    * pruned scan references only the corrupt column
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — e.g. the
    * quarantine side's count()); the documented recipe is to cache the
    * parsed result and query that. Ingest batches are bounded (≤10
    * files per micro-batch, poller.py:20-24), so the cache is a
    * batch-sized working set, not a corpus-sized one, and the `finally`
    * releases it so no caller leaks a pinned block per batch. */
  def withSplitAccounted[T](df: DataFrame)(f: (DataFrame, DataFrame) => T): T = {
    import org.apache.spark.sql.functions.col
    val parsed = df.cache()
    try f(parsed.filter(col(CorruptCol).isNull).drop(CorruptCol),
      parsed.filter(col(CorruptCol).isNotNull))
    finally { df.unpersist(); () }
  }
}

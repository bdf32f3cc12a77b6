package graft.streaming

import org.apache.spark.sql.DataFrame

/** Provenance enrichment (SURVEY §2.2 T2–T6): the reference's one
  * transformation, run the reference's one way — register the batch as
  * `temp_view`, run `sql_query` over it, drop the view
  * (spark-data-pipeline/spark_job.py:31-43,68-69,156-164).
  *
  * Tests and oracle-checked queries pin the clock in the SQL text
  * ([[sqlAt]]) rather than take another code path, so they run exactly
  * what the ingest loop runs.
  */
object Enrichment {

  /** Reference's default enrichment query, verbatim semantics. */
  val defaultSql: String = """
    SELECT
    *,
    input_file_name() as input_file,
    current_timestamp as processed_time,
    DATE_FORMAT(current_timestamp, 'yyyy-MM-dd') as processed_date
    FROM
    temp_view
  """

  /** [[defaultSql]] at a fixed clock: both `current_timestamp` become a
    * timestamp literal of the same type. Catalyst evaluates
    * `current_timestamp` once per query anyway, so within a batch the two
    * behave alike; the literal makes the output reproducible. */
  def sqlAt(epochSec: Long): String =
    defaultSql.replace("current_timestamp", s"timestamp_seconds(${epochSec}L)")

  /** Runs `sqlQuery` over `df` registered as `temp_view` and drops the view
    * before returning, so no caller sees it; the returned DataFrame is
    * already analysed and stays usable. `None` returns `df` unchanged, as
    * the reference's `sql_query=None` branch does (spark_job.py:42-43).
    *
    * The view lives on `df.sparkSession`: inside `foreachBatch` the batch
    * belongs to the stream's cloned session, and only its catalog can
    * resolve the view. */
  def enrich(df: DataFrame, sqlQuery: Option[String]): DataFrame =
    sqlQuery.fold(df) { sql =>
      df.createOrReplaceTempView("temp_view")
      try df.sparkSession.sql(sql)
      finally df.sparkSession.catalog.dropTempView("temp_view")
    }
}

package graft.streaming

import graft.core.GpsSchema
import graft.sources.JsonBatchReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The ingest pipeline (SURVEY §2.4 O1–O4), Spark-first.
  *
  * The reference drives ingest with a hand-rolled `while True` loop: SQS
  * long-poll → envelope parse → `spark.read.json` → enrich → Iceberg append
  * → delete SQS messages → sleep 10 s (spark-data-pipeline/
  * spark_job.py:172-188, poller.py:16-47). Delivery is at-least-once: a
  * crash between the table commit and the SQS delete re-processes the same
  * files and duplicates rows.
  *
  * Here the S3→SQS notification hop disappears: Spark's file stream source
  * does its own new-file listing, and checkpointed offsets + idempotent
  * batch handling give exactly-once per micro-batch — strictly stronger
  * than the reference (SURVEY §2.4 O2). The 10 s poll cadence maps to
  * `Trigger.ProcessingTime`; the ≤10-messages batch bound maps to
  * `maxFilesPerTrigger`.
  *
  * The empty-batch rule. The reference skips only an empty file list
  * (spark_job.py:94-96), and the file source starts no batch without new
  * files. A batch whose scan has no partitions (every file zero bytes
  * long) writes no file and creates no table. Plain mode decides this on
  * the driver from the scan's partitions: a row probe (`isEmpty`) would be
  * a second job over the scan, and through the `ingest_metrics`
  * observation it would add one row per scan partition to `rows_in`. A
  * batch of blank-line-only files therefore goes through, as in the
  * reference. Quarantine mode probes each split of its cached batch (no
  * re-scan, no extra count), so an all-malformed batch writes no
  * main-table file.
  *
  * At 100 TB/day this shape holds: file listing is incremental (checkpoint
  * remembers seen files), each micro-batch is a bounded parquet write, and
  * nothing materializes on the driver but file names.
  */
object MicroBatchPipeline {

  /** Scan-time file attribution column, present only in quarantine mode
    * (see the source construction in [[start]]): folded into the
    * enriched main table's `input_file` and kept as `src_file` on DLQ
    * rows. */
  val SrcFileCol = "_src_file"

  final case class Config(
      inputDir: String,
      checkpointDir: String,
      table: String,
      partitionCols: Seq[String] = Nil, // reference intent: direction, seat_belt_status (spark_job.py:153)
      compression: String = "snappy",
      maxFilesPerTrigger: Int = 10, // ≙ SQS batch_size=10 (spark_job.py:173)
      processingInterval: Option[String] = Some("10 seconds"), // ≙ sleep(10); None => AvailableNow
      sqlQuery: Option[String] = Some(Enrichment.defaultSql),
      // true => stamp rows with the micro-batch id and commit via dynamic
      // partition overwrite (IdempotentParquetSink): replaying a batch
      // after a crash between table write and checkpoint commit replaces
      // its own partition instead of double-appending. Parquet only: start
      // rejects it with a custom sink. Default false keeps the
      // reference's plain-append table layout through the caller's sink.
      idempotentCommit: Boolean = false,
      // Some(table) => malformed JSON lines are captured (JsonBatchReader's
      // AccountedOptions and accountedSchema) and appended to that
      // quarantine table with their batch id, instead of flowing into the
      // main table as all-null rows — the reference's silent-loss
      // behavior (§1.3) made auditable. None (default) keeps the original
      // schema and plan.
      quarantineTable: Option[String] = None)

  /** Start the stream: JSON file source (explicit schema — no inference
    * double-read) → enrichment → create-or-append sink. */
  def start(spark: SparkSession, config: Config,
      sink: TableSink = ParquetSink): StreamingQuery = {
    require(!config.idempotentCommit || (sink eq ParquetSink),
      "idempotentCommit writes both tables through IdempotentParquetSink " +
      "(parquet only) and cannot honour a custom sink")
    val corruptCol = JsonBatchReader.CorruptCol
    val schema =
      if (config.quarantineTable.isDefined)
        JsonBatchReader.accountedSchema(GpsSchema.schema)
      else GpsSchema.schema
    val source0 = spark.readStream
      .schema(schema)
      .options(JsonBatchReader.AccountedOptions)
      .option("maxFilesPerTrigger", config.maxFilesPerTrigger)
      .json(config.inputDir)
    // Quarantine mode caches each batch to split it (withSplitAccounted),
    // and input_file_name() evaluates EMPTY on rows scanned back from a
    // cache — so file attribution must bind at SCAN time or the enriched
    // table silently loses it (caught by the q355 ingest law, round 14).
    // The captured column also rides the DLQ rows: a quarantined line
    // without its source file is operationally useless.
    val source =
      if (config.quarantineTable.isDefined)
        source0.withColumn(SrcFileCol,
          org.apache.spark.sql.functions.input_file_name())
      else source0

    val trigger = config.processingInterval
      .map(Trigger.ProcessingTime(_))
      .getOrElse(Trigger.AvailableNow())

    // Inline ingest metrics (Dataset.observe): per-batch row and
    // malformed-line counts ride the StreamingQueryProgress events —
    // the ops dashboard feed — without any extra pass over the data.
    val observed = {
      import org.apache.spark.sql.functions.{count, lit, sum, when, col}
      val metrics =
        if (config.quarantineTable.isDefined)
          Seq(count(lit(1)).as("rows_in"),
            sum(when(col(corruptCol).isNotNull, 1L).otherwise(0L))
              .as("rows_bad"))
        else Seq(count(lit(1)).as("rows_in"))
      source.observe("ingest_metrics", metrics.head, metrics.tail: _*)
    }

    // The one batch function. Both tables go through `commit`: the
    // caller's sink in plain-append mode, the batch_id partition
    // overwrite under idempotentCommit — a crash between a write and the
    // checkpoint commit replays the batch, and the overwrite replaces
    // the same rows on BOTH tables instead of double-appending them.
    def runBatch(raw: DataFrame, batchId: Long): Unit = {
      import org.apache.spark.sql.functions.{col, lit}
      def commit(df: DataFrame, table: String, parts: Seq[String] = Nil): Unit =
        if (config.idempotentCommit)
          IdempotentParquetSink.write(df, table, batchId, parts, config.compression)
        else sink.write(df, table, parts, config.compression)
      def writeMain(batch: DataFrame): Unit = {
        val enriched = Enrichment.enrich(batch, config.sqlQuery)
        // quarantine mode: enrichment's own input_file_name() saw a
        // cache scan (empty) — where the query produced input_file, it
        // takes the scan-time attribution instead
        val cols = enriched.columns
        val attributed =
          if (cols.contains("input_file") && cols.contains(SrcFileCol))
            enriched.withColumn("input_file", col(SrcFileCol))
          else enriched
        commit(attributed.drop(SrcFileCol), config.table, config.partitionCols)
      }
      config.quarantineTable match {
        case Some(qt) =>
          // the shared split helper owns the batch-sized cache (the
          // corrupt-column query restriction recipe) and unpersists it
          // when both writes are done
          JsonBatchReader.withSplitAccounted(raw) { (good, badRows) =>
            // batch_id is recorded in both modes, so plain-append replays
            // stay attributable
            val bad = badRows.select(col(corruptCol).as("raw_line"),
              col(SrcFileCol).as("src_file"),
              lit(batchId).as(IdempotentParquetSink.BatchCol))
            if (!bad.isEmpty) commit(bad, qt)
            if (!good.isEmpty) writeMain(good)
          }
        case None =>
          // the empty-batch rule on the driver: no scan partition means
          // every file of the batch is zero bytes long
          if (raw.queryExecution.toRdd.getNumPartitions > 0) writeMain(raw)
      }
    }

    observed.writeStream
      .option("checkpointLocation", config.checkpointDir)
      .trigger(trigger)
      .foreachBatch(runBatch _)
      .start()
  }

  /** Run to completion over the files currently in `inputDir` and return —
    * batch-style execution of the same pipeline (used by tests and
    * backfills).
    *
    * The micro-batch executes in a cloned session, so appends refresh the
    * clone's relation cache, not the caller's; the explicit refresh below
    * gives the launching session read-your-writes on both tables the
    * batch writes, the main one and the quarantine one. (Other concurrent
    * sessions still need their own `refreshTable` — standard Spark
    * cross-session visibility.) */
  def runAvailable(spark: SparkSession, config: Config,
      sink: TableSink = ParquetSink): Unit = {
    val q = start(spark, config.copy(processingInterval = None), sink)
    q.awaitTermination()
    (config.table +: config.quarantineTable.toSeq)
      .filter(spark.catalog.tableExists)
      .foreach(spark.catalog.refreshTable)
  }
}

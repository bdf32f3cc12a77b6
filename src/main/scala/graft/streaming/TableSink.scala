package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Create-or-append table sink (SURVEY §2.3 K1–K5).
  *
  * The reference writes every batch with
  * `df.write.format("iceberg").option(<CoW props>).partitionBy(cols?)` then
  * `tableExists ? mode("append") : mode("overwrite") .saveAsTable(fqn)`
  * (spark-data-pipeline/spark_job.py:47-64). The sink is a trait because
  * the offline build has no Iceberg runtime jar (SURVEY §7.4): local runs
  * and tests use [[ParquetSink]]; [[IcebergSink]] carries the identical
  * option set and activates when the Iceberg runtime + catalog are on the
  * classpath (prod profile, spark_job.py:126-139 wiring).
  */
trait TableSink {
  def write(df: DataFrame, fqn: String,
      partitionCols: Seq[String] = Nil,
      compression: String = "snappy"): Unit

  /** K3: append when the table exists, otherwise create-by-overwrite —
    * exactly the reference's branch (spark_job.py:59-64). */
  protected def createOrAppend(spark: SparkSession, fqn: String,
      writer: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]): Unit =
    if (spark.catalog.tableExists(fqn)) writer.mode("append").saveAsTable(fqn)
    else writer.mode("overwrite").saveAsTable(fqn)
}

/** Local/test sink: managed parquet table via `saveAsTable`, same
  * create-or-append semantics and compression option as the Iceberg path. */
object ParquetSink extends TableSink {
  def write(df: DataFrame, fqn: String, partitionCols: Seq[String],
      compression: String): Unit = {
    var w = df.write.format("parquet").option("compression", compression)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    createOrAppend(df.sparkSession, fqn, w)
  }
}

/** Exactly-once parquet sink: plain append leaves the classic crash window
  * — data committed to the table, micro-batch offset not yet committed to
  * the checkpoint, so replay appends the batch twice. This sink closes it
  * by making the batch write IDEMPOTENT: rows are stamped with the
  * micro-batch id, the table is partitioned by `batch_id` first, and the
  * write is a dynamic-partition overwrite — re-running batch N replaces
  * partition batch_id=N with identical rows instead of duplicating them.
  * (Same mechanics Iceberg gets from snapshot commits; this is the
  * plain-parquet dual, at the cost of a `batch_id` partition level.) */
object IdempotentParquetSink {
  val BatchCol = "batch_id"

  def write(df: DataFrame, fqn: String, batchId: Long,
      partitionCols: Seq[String] = Nil,
      compression: String = "snappy"): Unit = {
    val spark = df.sparkSession
    val stamped = df.withColumn(BatchCol, org.apache.spark.sql.functions.lit(batchId))
    // One session-catalog read per write — microseconds, no analysis —
    // gives existence, partition spec and column order. It runs on EVERY
    // write, so a table dropped and recreated under this name by any path
    // (TableSwap, raw DDL, another sink) is checked as it is now.
    val catalog = spark.sessionState.catalog
    val existing =
      try Some(catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(fqn)))
      catch { case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None }
    existing match {
      case None =>
        stamped.write.format("parquet").option("compression", compression)
          .partitionBy(BatchCol +: partitionCols: _*).mode("overwrite").saveAsTable(fqn)
      case Some(table) =>
        // Idempotence only holds if the existing table is actually
        // partitioned by batch_id (i.e. it was created by THIS sink).
        // Against a table created by plain ParquetSink, positional
        // insertInto with dynamic overwrite would misplace rows or clobber
        // data silently — fail loudly instead.
        val partCols = table.partitionColumnNames
        require(partCols.contains(BatchCol),
          s"IdempotentParquetSink: existing table $fqn is not partitioned by " +
          s"'$BatchCol' (partition spec: [${partCols.mkString(",")}]); it was " +
          "not created by this sink and an idempotent overwrite cannot be " +
          "guaranteed. Recreate the table via IdempotentParquetSink or use " +
          "ParquetSink for plain appends.")
        // insertInto is positional: align to the table's column order (data
        // columns first, partition columns last, as saveAsTable laid out).
        graft.core.SessionConf.withConf(spark,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
          stamped.select(table.schema.fieldNames.toSeq
              .map(org.apache.spark.sql.functions.col): _*)
            .write.mode("overwrite").insertInto(fqn))
    }
  }
}

/** Prod sink: Iceberg copy-on-write table, option-for-option the
  * reference's writer chain (spark_job.py:47-57). Requires
  * `iceberg-spark-runtime` + a configured SparkCatalog at runtime —
  * compile-time dependency-free (format is resolved by name).
  *
  * The contract surface ([[format]], [[writerOptions]], the catalog wiring
  * in [[graft.core.SparkSessionFactory.icebergCatalogConf]]) is exposed as
  * data so `IcebergContractSpec` can assert it string-for-string against
  * the reference even though no Iceberg jar is available offline. */
object IcebergSink extends TableSink {

  /** spark_job.py:47 — `write.format("iceberg")`. */
  val format = "iceberg"

  /** spark_job.py:49-54, in the reference's chaining order: parquet file
    * format, copy-on-write for all three mutation modes, codec passthrough. */
  def writerOptions(compression: String): Seq[(String, String)] = Seq(
    "write.format.default" -> "parquet",
    "write.delete.mode" -> "copy-on-write",
    "write.update.mode" -> "copy-on-write",
    "write.merge.mode" -> "copy-on-write",
    "write.parquet.compression-codec" -> compression)

  def write(df: DataFrame, fqn: String, partitionCols: Seq[String],
      compression: String): Unit = {
    var w = df.write.format(format)
    writerOptions(compression).foreach { case (k, v) => w = w.option(k, v) }
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    createOrAppend(df.sparkSession, fqn, w)
  }
}

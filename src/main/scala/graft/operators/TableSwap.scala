package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rewrite a managed table's content via a tmp table + DROP/RENAME swap,
  * the mechanic under [[Upsert]]. Only the live table is kept: the
  * replaced content is dropped, as a copy-on-write format does once its
  * old snapshots expire.
  *
  * The swap is NOT atomic (Spark's session catalog has no two-table
  * atomic rename): a crash between the DROP and the RENAME leaves the
  * data only under `<table>__swap_tmp`, and [[recover]] completes the
  * rename on the next invocation. Single-writer maintenance-window
  * semantics; Iceberg's snapshot commit is the transactional path in
  * prod. */
object TableSwap {

  val TmpSuffix = "__swap_tmp"

  /** Complete a half-done swap: tmp present without the original ⇒ the
    * DROP committed but the RENAME didn't; tmp present WITH the
    * original ⇒ stale leftover from a pre-DROP crash, discard it. */
  def recover(spark: SparkSession, table: String): Unit = {
    val tmp = table + TmpSuffix
    if (spark.catalog.tableExists(tmp)) {
      if (!spark.catalog.tableExists(table))
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
      else
        spark.sql(s"DROP TABLE $tmp")
    }
  }

  /** Replace `table`'s content with `df` (which may read from `table` —
    * the tmp materialization breaks the read-while-overwrite cycle). */
  def rewrite(spark: SparkSession, table: String, df: DataFrame): Unit = {
    recover(spark, table)
    val tmp = table + TmpSuffix
    df.write.format("parquet").mode("overwrite").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.catalog.refreshTable(table)
  }
}

/** Latest-wins merge for plain-parquet managed tables. Vanilla Spark
  * only supports MERGE through a transactional format (Iceberg/Delta);
  * this is the window+rewrite dual, installed with a [[TableSwap]]. */
object Upsert {

  /** One row per key: the `ordCols`-lexicographically-newest (DESC)
    * row wins. The reduction both [[mergeLatest]] arms share. */
  def latestPerKey(df: DataFrame, keys: Seq[String],
      ordCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(ordCols.map(col(_).desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Latest-wins CDC merge, the out-of-order-SAFE form of MERGE INTO's
    * replace-on-match: an update replaces the current row for its key
    * ONLY if its version order (`ordCols`, lexicographic DESC) is
    * newer, and within one update batch the newest row per key wins
    * the same way. This is the contract a CDC consumer actually needs
    * when delivery order is not time order (redelivery, partitioned
    * transports, backfills) — plain replace-on-match silently regresses
    * a key to an older state whenever a stale change arrives late.
    *
    * 100 TB posture: one key-partitioned window over current ∪ updates
    * (Iceberg/Delta express the same thing as a MERGE with a version
    * predicate; the CoW rewrite is what those formats do underneath). */
  def mergeLatest(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String], ordCols: Seq[String]): Unit = {
    require(keys.nonEmpty && ordCols.nonEmpty,
      "merge keys and version order required")
    val cur = spark.table(table)
    require(keys.forall(cur.columns.contains), s"table lacks key columns $keys")
    TableSwap.rewrite(spark, table,
      latestPerKey(cur.unionByName(updates), keys, ordCols))
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rewrite a managed table's content via tmp table + RENAME swap —
  * the shared mechanic under [[Compaction]] and [[Upsert]] — keeping a
  * SNAPSHOT LOG of superseded versions, the parquet dual of Iceberg's
  * snapshot history (spark_job.py:47-54 configures copy-on-write: every
  * Iceberg MERGE/UPDATE also rewrites files and retains the old ones
  * under a snapshot until `expire_snapshots`).
  *
  * Version model: a table starts at version 0. Each [[rewrite]] renames
  * the current table to `<table>__snap_v<C>` (C = the version it held)
  * and installs the new content as version C+1. [[snapshots]] is the
  * `.snapshots` metadata-table dual, [[readVersion]] the
  * `VERSION AS OF` dual, [[expireSnapshots]] the `expire_snapshots`
  * procedure dual. Retention is opt-out exactly like Iceberg: old
  * versions accumulate until expired.
  *
  * The swap is NOT atomic (Spark's session catalog has no two-table
  * atomic rename): a crash between the rename-away and the rename-in
  * leaves the data under `<table>__swap_tmp` and history under
  * `<table>__snap_v<C>`; [[recover]] completes the rename on the next
  * invocation (history intact). Single-writer maintenance-window
  * semantics — Iceberg's snapshot commit is the transactional path in
  * prod. */
object TableSwap {

  val TmpSuffix = "__swap_tmp"
  val SnapInfix = "__snap_v"
  /** Post-swap table property recording what produced this version —
    * the `operation` field of Iceberg's snapshot summary. */
  val OpProperty = "graft.swap.operation"

  private def snapName(table: String, v: Long): String = s"$table$SnapInfix$v"

  /** Versions currently retained as snapshots (ascending). Derived from
    * the catalog, not a side log: the snapshot tables ARE the log, so a
    * crash can never leave the log and the data disagreeing. */
  def snapshotVersions(spark: SparkSession, table: String): Seq[Long] = {
    val prefix = table + SnapInfix
    spark.catalog.listTables().collect().toSeq
      .map(_.name)
      .filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toLongOption)
      .sorted
  }

  /** The version number the live table holds: one past the newest
    * retained snapshot, or 0 for a never-rewritten table. Correct even
    * after [[expireSnapshots]] only if the newest snapshot is retained —
    * expire therefore always keeps at least one. */
  def currentVersion(spark: SparkSession, table: String): Long =
    snapshotVersions(spark, table).lastOption.map(_ + 1L).getOrElse(0L)

  /** Snapshot-log view — the dual of Iceberg's `<table>.snapshots`
    * metadata table: one row per retained version plus the live one,
    * with the producing operation where recorded. */
  def snapshots(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    def op(t: String): String =
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .find(_.getString(0) == OpProperty).map(_.getString(1)).getOrElse("append")
    val cur = currentVersion(spark, table)
    val rows = snapshotVersions(spark, table).map(v => (v, op(snapName(table, v)), false)) :+
      ((cur, op(table), true))
    rows.toDF("snapshot_id", "operation", "is_current")
  }

  /** Time-travel read — the dual of `SELECT ... VERSION AS OF v`.
    * Throws if `v` names an expired (or never-existing) version, exactly
    * as Iceberg does for an expired snapshot id. */
  def readVersion(spark: SparkSession, table: String, v: Long): DataFrame = {
    if (v == currentVersion(spark, table)) spark.table(table)
    else {
      val snap = snapName(table, v)
      require(spark.catalog.tableExists(snap),
        s"version $v of $table is expired or does not exist")
      spark.table(snap)
    }
  }

  /** Drop all but the newest `keepLast` snapshots — the dual of
    * Iceberg's `expire_snapshots(retain_last => n)`. Keeps at least one
    * so [[currentVersion]] stays derivable from the catalog. */
  def expireSnapshots(spark: SparkSession, table: String, keepLast: Int = 1): Int = {
    require(keepLast >= 1, "must retain at least the newest snapshot")
    val vs = snapshotVersions(spark, table)
    val expire = vs.dropRight(keepLast)
    expire.foreach(v => spark.sql(s"DROP TABLE ${snapName(table, v)}"))
    expire.size
  }

  /** Complete a half-done swap: tmp present without the original ⇒ the
    * rename-away committed but the rename-in didn't; tmp present WITH the
    * original ⇒ stale leftover from a pre-rename crash, discard it. */
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
    * the tmp materialization breaks the read-while-overwrite cycle),
    * retaining the superseded content as snapshot version
    * [[currentVersion]] and labelling the new version with `operation`. */
  def rewrite(spark: SparkSession, table: String, df: DataFrame,
      operation: String = "rewrite"): Unit = {
    recover(spark, table)
    val tmp = table + TmpSuffix
    df.write.format("parquet").mode("overwrite").saveAsTable(tmp)
    val v = currentVersion(spark, table)
    spark.sql(s"ALTER TABLE $table RENAME TO ${snapName(table, v)}")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    // post-commit metadata only: a crash landing between the rename-in
    // and this property write loses the operation LABEL, never data
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('$OpProperty'='$operation')")
    spark.catalog.refreshTable(table)
  }
}

/** SCD-1 merge ("MERGE INTO ... WHEN MATCHED UPDATE, WHEN NOT MATCHED
  * INSERT") for plain-parquet managed tables. Vanilla Spark only supports
  * MERGE through a transactional format (Iceberg/Delta); this is the
  * join+rewrite dual: updated keys replace current rows, new keys append —
  * one anti-join plus a union, then a table swap. At 100 TB you run this
  * per partition-predicate slice (or on Iceberg, where it's a real MERGE);
  * the plan shape — anti-join on the key, no full-table shuffle of the
  * updates side — is the same. The pre-merge content stays readable via
  * [[TableSwap.readVersion]], as Iceberg's CoW MERGE retains the replaced
  * files under the previous snapshot. */
object Upsert {

  def mergeInto(spark: SparkSession, table: String, updates: DataFrame,
      keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "merge keys required")
    val cur = spark.table(table)
    require(keys.forall(cur.columns.contains), s"table lacks key columns $keys")
    // Current rows whose key does NOT appear in updates survive; every
    // update row lands. unionByName keeps schema alignment explicit.
    val kept = cur.join(
      updates.select(keys.map(org.apache.spark.sql.functions.col): _*).distinct(),
      keys, "left_anti")
    TableSwap.rewrite(spark, table, kept.unionByName(updates), operation = "merge")
  }

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

  /** Latest-wins CDC merge — [[mergeInto]]'s out-of-order-SAFE form: an
    * update replaces the current row for its key ONLY if its version
    * order (`ordCols`, lexicographic DESC) is newer, and within one
    * update batch the newest row per key wins the same way. This is
    * the contract a CDC consumer actually needs when delivery order is
    * not time order (redelivery, partitioned transports, backfills) —
    * plain replace-on-match silently regresses a key to an older state
    * whenever a stale change arrives late.
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
      latestPerKey(cur.unionByName(updates), keys, ordCols),
      operation = "merge_latest")
  }
}

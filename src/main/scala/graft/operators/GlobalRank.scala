package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact global rank + running sum over (value DESC, id ASC) order
  * WITHOUT a corpus-scale global sort — the two-pass recipe q74/q116 use
  * for exact percentiles, generalized to (rank, prefix-sum) so gains
  * tables (q190) and Pareto curves (q198) never serialize the population
  * through one partition:
  *
  *  - pass 1a: rank WITHIN each distinct value by id — a value-keyed
  *    window (hash-partitioned, parallel, tiny partitions);
  *  - pass 1b: the distinct-value count table gets a descending
  *    cumulative (count, value·count) via a RANGE-CORRELATED shard
  *    (`value div shardDiv` — deterministic, no boundary sampling,
  *    order-preserving for non-negative values): cumsum within shard
  *    plus a shard-count-sized offset table (the ONLY unpartitioned
  *    window, bounded by value-range/shardDiv rows);
  *  - pass 2: rows join the distinct-value offset table on value (keyed
  *    equijoin) — `rn = cnt_offset + rank_within`, and because every row
  *    of a tie group carries the same value, `cum = sum_offset +
  *    rank_within · value` exactly.
  *
  * Requires `value >= 0` (integer) and non-null — ENFORCED at runtime
  * (raise_error), not just documented; ties break by ascending id.
  *
  * ==Routing (round 9)==
  *
  * The two-pass pays 3 extra shuffles of fixed overhead; BASELINE.md's
  * "globalrank" table measures the honest crossover: the naive
  * single-partition window WINS below ~2M rows (1.44 s vs 3.57 s at 1M),
  * loses above it (24.3 s vs 6.08 s at 16M, super-linear as the one
  * sorting core saturates). [[withRankAndPrefixAuto]] routes on a row
  * count: the statistic picks the plan, never the rows; both forms are
  * exact and emit identical columns, so every gate stays green on either
  * route (that IS the route-equality certificate). */
object GlobalRank {

  /** Measured naive-vs-two-pass crossover in rows (BASELINE.md
    * "globalrank": naive 1.44 s / two-pass 3.57 s at 1M; 4.73 / 3.02 at
    * 4M). */
  val CrossoverRows: Long = 2000000L

  /** The loud shared precondition (both routes — routing must never
    * change semantics): non-null, non-negative values. Rewriting the
    * column keeps the check in the projection so Catalyst can't prune
    * it. */
  private def guarded(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    df.withColumn(valueCol,
      when(v.isNotNull && v >= 0, v).otherwise(raise_error(concat(
        lit(s"GlobalRank: $valueCol must be non-null and >= 0, got "),
        coalesce(v.cast("string"), lit("NULL"))))))
  }

  /** The below-crossover form: ONE global window (value DESC, id ASC) —
    * a deliberate single-partition sort. Below ~2M rows its one sorted
    * pass beats the two-pass's 3 fixed shuffles; above the crossover it
    * is the driver-adjacent OOM the two-pass exists to avoid. Same
    * output columns and the same loud precondition as the two-pass. */
  def naiveRankAndPrefix(df: DataFrame, valueCol: String,
      idCol: String): DataFrame = {
    val v = col(valueCol)
    val w = Window.orderBy(v.desc, col(idCol))
    guarded(df, valueCol)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("cum", sum(v).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Stat-routed form: one cheap count action (or the caller's known
    * `rowCount` — zero actions) picks naive vs two-pass at the measured
    * crossover. Returns (route, result). */
  def withRankAndPrefixAuto(df: DataFrame, valueCol: String, idCol: String,
      shardDiv: Long = 16384L,
      rowCount: Option[Long] = None): (String, DataFrame) = {
    val n = rowCount.getOrElse(df.count())
    if (n <= CrossoverRows) ("naive", naiveRankAndPrefix(df, valueCol, idCol))
    else ("twopass", withRankAndPrefix(df, valueCol, idCol, shardDiv))
  }

  /** Adds `rn` (1-based global rank by value DESC, id ASC) and `cum`
    * (inclusive running sum of `valueCol` in that order) to `df`. */
  def withRankAndPrefix(df: DataFrame, valueCol: String, idCol: String,
      shardDiv: Long = 16384L): DataFrame = {
    require(shardDiv >= 1, s"shardDiv must be >= 1, got $shardDiv")
    val v = col(valueCol)
    val df0 = guarded(df, valueCol)
    val wTie = Window.partitionBy(v).orderBy(col(idCol))
    val withinRank = df0.withColumn("_r_in",
      row_number().over(wTie).cast(LongType))
    val cnts = df0.groupBy(v).agg(count(lit(1)).as("_c"))
      .withColumn("_shard", expr(s"$valueCol div $shardDiv"))
    val wShard = Window.partitionBy(col("_shard")).orderBy(v.desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = cnts
      .withColumn("_cnt_in_shard",
        coalesce(sum(col("_c")).over(wShard), lit(0L)))
      .withColumn("_sum_in_shard",
        coalesce(sum(col("_c") * v).over(wShard), lit(0L)))
    val wTot = Window.orderBy(col("_shard").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cnts.groupBy(col("_shard"))
      .agg(sum(col("_c")).as("_ct"), sum(col("_c") * v).as("_st"))
      .withColumn("_cnt_before", coalesce(sum(col("_ct")).over(wTot), lit(0L)))
      .withColumn("_sum_before", coalesce(sum(col("_st")).over(wTot), lit(0L)))
      .select(col("_shard"), col("_cnt_before"), col("_sum_before"))
    val valOffsets = local.join(offsets, Seq("_shard"))
      .select(v.as("_v"),
        (col("_cnt_before") + col("_cnt_in_shard")).as("_cnt_off"),
        (col("_sum_before") + col("_sum_in_shard")).as("_sum_off"))
    withinRank.join(valOffsets, v === col("_v"))
      .withColumn("rn", col("_cnt_off") + col("_r_in"))
      .withColumn("cum", col("_sum_off") + col("_r_in") * v)
      .drop("_v", "_cnt_off", "_sum_off", "_r_in")
  }
}

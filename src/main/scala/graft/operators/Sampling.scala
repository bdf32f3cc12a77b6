package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible sampling for training-data pipelines.
  *
  * Spark's `sample`/`sampleBy` draw from per-partition RNG streams, so the
  * selected rows change with partitioning, cluster layout, and retries —
  * unacceptable when a training set must be reconstructible bit-for-bit.
  * Everything here derives from xxhash64 over caller-named identity
  * columns: membership is a pure row property, stable under repartition,
  * failure replay, and engine upgrade.
  */
object Sampling {

  val BUCKETS = 1000000L

  /** The membership bucket in [0, BUCKETS) — public so Verify can
    * materialize per-row buckets and a SQL oracle can recompute every
    * downstream sampling decision over identical values (xxhash64 itself
    * has no DuckDB equivalent). */
  def bucket(idCols: Seq[Column], seed: Long): Column =
    pmod(xxhash64(lit(seed) +: idCols: _*), lit(BUCKETS))

  /** Per-stratum fractions (strata absent from the map are dropped —
    * matching sampleBy semantics). */
  def stratifiedSample(df: DataFrame, strataCol: String, idCols: Seq[String],
      fractions: Map[String, Double], seed: Long): DataFrame = {
    val threshold = fractions.foldLeft(lit(-1L)) { case (acc, (value, frac)) =>
      when(col(strataCol) === value, lit((frac * BUCKETS).toLong)).otherwise(acc)
    }
    df.filter(bucket(idCols.map(col), seed) < threshold)
  }
}

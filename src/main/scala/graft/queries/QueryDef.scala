package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One engine capability: a Spark DataFrame builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  *
  * @param build    (spark, sfDir) => result DataFrame. Must be
  *                 deterministic: fully ordered output, no wall-clock, no
  *                 partition-order-dependent floats (see [[Det]]).
  * @param oracle   DuckDB SQL over the same parquet tables producing the
  *                 identical (column names, row order, values) result.
  *                 None => driver records a weaker rows-only check.
  * @param headline included in Bench.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** Determinism helpers for oracle hash-parity.
  *
  * Floating-point SUM/AVG over doubles is partition-order dependent in any
  * parallel engine, so a raw `sum(double)` can differ between Spark and
  * DuckDB (and between two Spark runs) in the last ulps — enough to break a
  * hash compare. The fix: accumulate in exact decimal (the inputs are
  * fixed-scale money/quantity values), then cast the exact result to
  * double. IEEE conversion and division are deterministic, so both engines
  * produce bit-identical doubles. Scale rule: use the number of decimal
  * digits the true value actually has (quantity/price: 2, price*(1-disc):
  * 4, *(1+tax): 6).
  */
object Det {
  /** Exact sum: cast to decimal, sum (exact), cast back to double. */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(28, scale))).cast(DoubleType)

  /** Deterministic average: exact decimal sum / count, in double, rounded
    * to 6 dp (both engines do identical IEEE ops on identical inputs). */
  def davg(c: Column, scale: Int): Column =
    round(sum(c.cast(DecimalType(28, scale))).cast(DoubleType) / count(c), 6)

  /** Single-space tokenization, the corpus-wide convention shared with
    * the oracles (string_split(trim(text), ' ')). */
  def toks(textCol: Column): Column = split(trim(textCol), " ")

  /** DuckDB-side mirrors of the above, for oracle strings. */
  def sqlSum(expr: String, scale: Int): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"
  def sqlAvg(expr: String, scale: Int): String =
    s"ROUND(CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE) / COUNT($expr), 6)"
}

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
  *                 SQL that two or more oracles share is written once:
  *                 a fragment lives beside the Spark helper it mirrors
  *                 (a private `val`/`def` of that query module,
  *                 `private[queries]` when another module reads it); a
  *                 fragment used by more than one module with no such
  *                 helper here lives in [[Det]] (`sqlSum`, `sqlShingles`).
  *                 Two queries whose outputs are equal by a law read one
  *                 oracle value. A `val` fragment must precede the
  *                 module's `defs`, which reads it during object init.
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

  /** DuckDB mirror of the word-trigram shingle set of a `text` column
    * (`TextFunctions.shingles(tokens(text), 3)`, as in
    * `MinHashLSH.shingled`): the distinct `w[i] w[i+1] w[i+2]` strings. */
  val sqlShingles: String = """list_distinct(list_transform(
                   range(1, GREATEST(len(string_split_regex(trim(text), '\s+')) - 1, 1)),
                   i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '\s+')[i+2]))"""

  /** The `sh` (shingle set per document) and `ex` (one row per
    * (doc_id, shingle) with the set size `n_sh`) CTEs over `documents`.
    * `mat` is "" or " MATERIALIZED", the hint on `ex`. */
  def sqlShingleRows(mat: String): String = s"""
        WITH sh AS (
          SELECT doc_id,
                 $sqlShingles AS shingles
          FROM documents),
        ex AS$mat (
          SELECT doc_id, len(shingles) AS n_sh, UNNEST(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0)"""

  /** [[sqlShingleRows]] plus `pairs`: every co-shingled doc pair
    * (doc_a < doc_b) with both set sizes and the common-shingle count —
    * the naive co-shingle join of `NgramJaccard`/`MinHashLSH`. */
  def sqlShinglePairs(mat: String): String = s"""${sqlShingleRows(mat)},
        pairs AS$mat (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2, 3, 4)"""

  /** The exact shingle-Jaccard pair set at `threshold` (a SQL literal) —
    * the oracle of every near-dup join over `documents` (q44, q46, q113
    * and the laws that equal them). */
  def sqlJaccardPairs(threshold: String, mat: String): String =
    s"""${sqlShinglePairs(mat)}
        SELECT doc_a, doc_b, n_common,
               ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
        FROM pairs
        WHERE ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) >= $threshold
        ORDER BY doc_a, doc_b"""
}

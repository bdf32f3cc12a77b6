package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact frequent-item mining at corpus scale: Count-Min candidate
  * generation + exact verification.
  *
  * The naive "group by item, filter count > n/k" is already scalable for
  * moderate cardinality, but at 100 TB with billions of distinct items
  * the full (item → count) table is itself enormous — and pointless,
  * when only the ~k heavy items matter. The two-phase shape every
  * production frequent-item pipeline uses:
  *
  *   1. ONE pass builds a Count-Min sketch (Spark's built-in
  *      `count_min_sketch` aggregate — counter-matrix addition, so the
  *      merge is commutative/associative and the result is DETERMINISTIC
  *      regardless of partitioning, unlike Misra-Gries summaries whose
  *      content depends on merge order).
  *   2. The sketch (KB–MB, independent of item cardinality) broadcasts;
  *      distinct items probe it map-side and only those with estimate >
  *      n/k survive as candidates. CMS only ever OVER-estimates, so
  *      every true heavy hitter is a candidate — recall 1 by
  *      construction, not by tuning.
  *   3. Exact counts for the candidate set only (a semi-join agg over
  *      ~k + fpp·|V| items), and the exact filter removes the false
  *      positives the sketch let through.
  *
  * Output therefore EQUALS the exact heavy-hitter set bit-for-bit — the
  * sketch changes the cost, never the answer — which is what lets the
  * DuckDB oracle gate it with a plain GROUP BY/HAVING (q167).
  */
object HeavyHitters {

  /** Items with exact count > total/k over `items(itemCol)` (strings).
    * Returns [item, cnt], unordered. `eps`/`confidence` size the sketch
    * (width 2/eps counters × ⌈ln(1/(1−confidence))⌉ rows); they trade
    * candidate false positives (shuffled through the verify agg) against
    * sketch bytes — never correctness.
    *
    * NULL items are excluded up front: `count_min_sketch` skips nulls
    * (so a null could never be a candidate) and `estimateCount` throws
    * on one — whereas SQL GROUP BY counts NULL as a group. The
    * bit-for-bit GROUP BY/HAVING equivalence therefore holds over the
    * non-null domain; callers who need NULL as a countable item must
    * encode it (e.g. coalesce to a sentinel) before calling. */
  def exact(items: DataFrame, itemCol: String, k: Int,
      eps: Double = 1e-4, confidence: Double = 0.99): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = items.sparkSession
    val it = items.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)
    val row = it.agg(count(lit(1)).as("n"),
      count_min_sketch(col("item"), lit(eps), lit(confidence), lit(42))
        .as("cms")).head
    val n = row.getLong(0)
    if (n == 0) return it.limit(0).withColumn("cnt", lit(0L))
    val threshold = n / k
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](1)))
    val bc = spark.sparkContext.broadcast(sketch)
    val est = udf((s: String) => bc.value.estimateCount(s))
    // probe BEFORE distinct: the filter is map-side, so only candidate
    // OCCURRENCES (heavy mass + fpp share) ever shuffle — a distinct
    // over the full domain would be the very |V|-sized shuffle the
    // sketch exists to avoid
    val candidates = it.filter(est(col("item")) > lit(threshold)).distinct()
    it.join(candidates, Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > threshold)
  }
}

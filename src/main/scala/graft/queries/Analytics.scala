package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Det._

/** Aggregation / window / set-op / scalar-function corpus (SURVEY.md §2.5 —
  * capabilities absent from the reference, inherited from Spark SQL).
  *
  * Scale notes baked into each shape:
  *  - group-bys rely on map-side partial aggregation (hash agg), so shuffle
  *    volume is |groups|, not |rows|;
  *  - window functions partition on high-cardinality keys (per-customer,
  *    per-group) — no single-partition global windows on fact tables; the
  *    only ORDER-BY-without-PARTITION windows run over already-aggregated
  *    inputs (days, groups) that are tiny at any SF;
  *  - top-k is always filter/limit after deterministic ordering →
  *    TakeOrderedAndProject, never a full global sort of the fact table.
  */
object Analytics {

  private def ts(s: String) = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  /** TPC-H Q17's correlated subquery: q39 runs this text through spark.sql,
    * and DuckDB runs the same text as its oracle. */
  private val Q17Sql: String = """
        SELECT COUNT(*) AS n_small,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
                     / 7.0, 6) AS avg_yearly
        FROM lineitem l
        WHERE l_quantity < (
          SELECT 0.5 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(28,2))) AS DOUBLE)
                     / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""

  /** Weekly order revenue in integer cents (week = days since 1995-01-01
    * div 7): the `series` body of the q330 and q331 oracles. */
  private val WeeklyCentsSql: String = """SELECT date_diff('day', DATE '1995-01-01',
                   CAST(o_orderdate AS DATE)) // 7 AS wk,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS cents
          FROM orders GROUP BY 1"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q11: stats pack — exact variance/stddev from decimal moments ----
    // stddev_samp built-ins use different summation orders per engine, so
    // the moments are accumulated exactly and combined with deterministic
    // IEEE double arithmetic.
    "q11_agg_stats" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val n     = count(col("l_quantity"))
        val s1    = sum(col("l_quantity").cast(DecimalType(28, 2))).cast(DoubleType)
        val s2    = sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(28, 4))).cast(DoubleType)
        val varE  = (s2 - s1 * s1 / n) / (n - lit(1))
        li.groupBy(col("l_returnflag"))
          .agg(
            n.as("n"),
            min(col("l_quantity")).as("min_qty"),
            max(col("l_quantity")).as("max_qty"),
            round(varE, 6).as("var_qty"),
            round(sqrt(varE), 6).as("stddev_qty"))
          .orderBy(col("l_returnflag"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT l_returnflag, COUNT(l_quantity) AS n,
                 MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
                 CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s2
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, n, min_qty, max_qty,
               ROUND((s2 - s1*s1/n) / (n-1), 6) AS var_qty,
               ROUND(SQRT((s2 - s1*s1/n) / (n-1)), 6) AS stddev_qty
        FROM g ORDER BY l_returnflag""")),

    // ---- q12: multiple COUNT(DISTINCT ...) in one aggregate ----
    "q12_multi_distinct" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_suppkey")).as("n_supp"),
            countDistinct(col("l_partkey")).as("n_part"),
            countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("l_returnflag")),
      oracle = Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part,
               COUNT(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q13: ROLLUP (subtotals + grand total) ----
    "q13_rollup" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n"), col("sum_qty"))
          .orderBy(col("returnflag"), col("linestatus")),
      oracle = Some(s"""
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               COUNT(*) AS n, ${sqlSum("l_quantity", 2)} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus""")),

    // ---- q14: CUBE (all grouping-set combinations) ----
    "q14_cube" -> QueryDef(
      build = (spark, dir) =>
        Tables.orders(spark, dir)
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority")),
      oracle = Some(s"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n, ${sqlSum("o_totalprice", 2)} AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    // ---- q15: top-N per group via ranking window ----
    "q15_window_topn" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(spark, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("o_orderpriority"), col("rn").cast("long").as("rn"),
            col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rn"))
      },
      oracle = Some("""
        SELECT o_orderpriority, rn, o_orderkey, o_totalprice
        FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                     ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
        WHERE rn <= 3
        ORDER BY o_orderpriority, rn"""),
      headline = true),

    // ---- q16: running totals + lag/lead per customer ----
    "q16_window_running" -> QueryDef(
      build = (spark, dir) => {
        val ord = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(spark, dir)
          .filter(col("o_custkey") < 50)
          .select(
            col("o_custkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderkey"),
            col("o_totalprice"),
            sum(col("o_totalprice").cast(DecimalType(28, 2))).over(run)
              .cast(DoubleType).as("running_total"),
            lag(col("o_totalprice"), 1).over(ord).as("prev_price"),
            lead(col("o_totalprice"), 1).over(ord).as("next_price"),
            row_number().over(ord).cast("long").as("order_seq"))
          .orderBy(col("o_custkey"), col("orderdate"), col("o_orderkey"))
      },
      oracle = Some("""
        SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderkey, o_totalprice,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_total,
               LAG(o_totalprice, 1) OVER w AS prev_price,
               LEAD(o_totalprice, 1) OVER w AS next_price,
               ROW_NUMBER() OVER w AS order_seq
        FROM orders
        WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, orderdate, o_orderkey""")),

    // ---- q17: 7-day moving average over pre-aggregated daily revenue ----
    // Two-level: distributed daily agg first, then a global window over
    // |days| rows (bounded at any SF — safe single-partition window).
    "q17_window_moving_avg" -> QueryDef(
      build = (spark, dir) => {
        val daily = Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-07-01"))
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM-dd").as("day"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        val w = Window.orderBy(col("day")).rowsBetween(-6, Window.currentRow)
        daily.select(
            col("day"), col("revenue"),
            round(sum(col("revenue").cast(DecimalType(28, 4))).over(w).cast(DoubleType) /
                  count(lit(1)).over(w), 6).as("ma7"))
          .orderBy(col("day"))
      },
      oracle = Some(s"""
        WITH daily AS (
          SELECT strftime(l_shipdate, '%Y-%m-%d') AS day,
                 ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
          GROUP BY strftime(l_shipdate, '%Y-%m-%d'))
        SELECT day, revenue,
               ROUND(CAST(SUM(CAST(revenue AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     / COUNT(*) OVER w, 6) AS ma7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY day""")),

    // ---- q18: multi-key sort with explicit NULL placement + limit ----
    "q18_sort_nulls_limit" -> QueryDef(
      build = (spark, dir) =>
        Tables.orders(spark, dir)
          .select(
            nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
            col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
          .orderBy(
            col("status_or_null").asc_nulls_first,
            col("o_orderpriority").desc,
            col("o_totalprice").desc,
            col("o_orderkey"))
          .limit(50),
      oracle = Some("""
        SELECT NULLIF(o_orderstatus, 'P') AS status_or_null,
               o_orderpriority, o_totalprice, o_orderkey
        FROM orders
        ORDER BY status_or_null ASC NULLS FIRST, o_orderpriority DESC,
                 o_totalprice DESC, o_orderkey
        LIMIT 50""")),

    // ---- q19: UNION ALL / UNION / INTERSECT / EXCEPT ----
    "q19_set_ops" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        val stats = Seq(
          ("union_all", f.unionAll(op)),
          ("union_distinct", f.union(op).distinct()),
          ("intersect", f.intersect(op)),
          ("except", f.except(op)))
        stats.map { case (nm, df) =>
          df.agg(count(lit(1)).as("n")).select(lit(nm).as("op"), col("n"))
        }.reduce(_ unionAll _).orderBy(col("op"))
      },
      oracle = Some("""
        SELECT 'except' AS op, COUNT(*) AS n FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        UNION ALL
        SELECT 'intersect', COUNT(*) FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        UNION ALL
        SELECT 'union_all', COUNT(*) FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          UNION ALL SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        UNION ALL
        SELECT 'union_distinct', COUNT(*) FROM (
          SELECT o_custkey FROM orders WHERE o_orderstatus='F'
          UNION SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        ORDER BY op""")),

    // ---- q20: pivot (priority columns per status) ----
    "q20_pivot" -> QueryDef(
      build = (spark, dir) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val p = Tables.orders(spark, dir)
          .groupBy(col("o_orderstatus"))
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
        p.select(col("o_orderstatus") +:
            prios.map(c => coalesce(col(s"`$c`"), lit(0L)).as(c)): _*)
          .orderBy(col("o_orderstatus"))
      },
      oracle = Some("""
        SELECT o_orderstatus,
               COUNT(CASE WHEN o_orderpriority='1-URGENT' THEN 1 END) AS "1-URGENT",
               COUNT(CASE WHEN o_orderpriority='2-HIGH' THEN 1 END) AS "2-HIGH",
               COUNT(CASE WHEN o_orderpriority='3-MEDIUM' THEN 1 END) AS "3-MEDIUM",
               COUNT(CASE WHEN o_orderpriority='4-NOT SPECIFIED' THEN 1 END) AS "4-NOT SPECIFIED",
               COUNT(CASE WHEN o_orderpriority='5-LOW' THEN 1 END) AS "5-LOW"
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- q21: string function pack ----
    "q21_string_funcs" -> QueryDef(
      build = (spark, dir) =>
        Tables.part(spark, dir)
          .filter(col("p_name").like("%a%"))
          .select(
            col("p_partkey"),
            upper(col("p_name")).as("name_upper"),
            lower(col("p_brand")).as("brand_lower"),
            substring(col("p_name"), 1, 5).as("name_prefix"),
            length(col("p_name")).cast("long").as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
            regexp_replace(col("p_name"), " ", "_").as("name_snake"),
            instr(col("p_name"), "a").cast("long").as("first_a"),
            trim(lpad(col("p_type"), 12, "*")).as("padded_type"))
          .orderBy(col("p_partkey"))
          .limit(100),
      oracle = Some("""
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               LOWER(p_brand) AS brand_lower,
               SUBSTRING(p_name, 1, 5) AS name_prefix,
               LENGTH(p_name) AS name_len,
               p_brand || '|' || p_type AS brand_type,
               REPLACE(p_name, ' ', '_') AS name_snake,
               STRPOS(p_name, 'a') AS first_a,
               TRIM(LPAD(p_type, 12, '*')) AS padded_type
        FROM part
        WHERE p_name LIKE '%a%'
        ORDER BY p_partkey
        LIMIT 100""")),

    // ---- q22: date/time function pack ----
    "q22_date_funcs" -> QueryDef(
      build = (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(
            year(col("o_orderdate")).as("yr"),
            quarter(col("o_orderdate")).as("qtr"),
            month(col("o_orderdate")).as("mo"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(dayofmonth(col("o_orderdate"))).as("active_days"),
            min(date_format(date_trunc("week", col("o_orderdate")), "yyyy-MM-dd")).as("first_week"),
            max(datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1995-01-01")))).as("max_day_offset"))
          .orderBy(col("yr"), col("qtr"), col("mo")),
      oracle = Some("""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
               CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
               COUNT(*) AS n,
               COUNT(DISTINCT CAST(EXTRACT(day FROM o_orderdate) AS INT)) AS active_days,
               MIN(strftime(date_trunc('week', o_orderdate), '%Y-%m-%d')) AS first_week,
               MAX(CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT)) AS max_day_offset
        FROM orders
        GROUP BY 1, 2, 3
        ORDER BY yr, qtr, mo""")),

    // ---- q23: math function pack (IEEE-exact ops only in the oracle) ----
    "q23_math_funcs" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .filter(col("l_orderkey") < 1000)
          .select(
            col("l_orderkey"), col("l_linenumber"),
            abs(col("l_quantity") - 25.0).as("abs_dev"),
            ceil(col("l_quantity") / 7.0).as("ceil_q7"),
            floor(col("l_quantity") / 7.0).as("floor_q7"),
            round(sqrt(col("l_quantity")), 6).as("sqrt_q"),
            (col("l_quantity") * col("l_quantity")).as("q_sq"),
            pmod(col("l_linenumber"), lit(3)).as("ln_mod3"),
            round(col("l_extendedprice") / 1000.0, 2).as("price_k"))
          // (l_orderkey, l_linenumber) is NOT unique in the synthetic
          // lineitem (dup keys with differing payloads — 824 reachable
          // tied groups at sf0.1), so the sort must be total over the
          // OUTPUT tuple space or within-tie row order is engine luck:
          // q_sq is strictly monotone in quantity (determining abs/ceil/
          // floor/sqrt), price_k covers the price column; remaining ties
          // are identical output rows
          .orderBy(col("l_orderkey"), col("l_linenumber"),
            col("q_sq"), col("price_k")),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               ABS(l_quantity - 25.0) AS abs_dev,
               CAST(CEIL(l_quantity / 7.0) AS BIGINT) AS ceil_q7,
               CAST(FLOOR(l_quantity / 7.0) AS BIGINT) AS floor_q7,
               ROUND(SQRT(l_quantity), 6) AS sqrt_q,
               l_quantity * l_quantity AS q_sq,
               CAST(l_linenumber % 3 AS INT) AS ln_mod3,
               ROUND(l_extendedprice / 1000.0, 2) AS price_k
        FROM lineitem
        WHERE l_orderkey < 1000
        ORDER BY l_orderkey, l_linenumber, q_sq, price_k""")),

    // ---- q24: scalar subquery (broadcast, no driver collect) ----
    "q24_scalar_subquery" -> QueryDef(
      build = (spark, dir) => {
        val p = Tables.part(spark, dir)
        val avgPrice = p.agg(davg(col("p_retailprice"), 2).as("avg_price"))
        p.join(broadcast(avgPrice))
          .filter(col("p_retailprice") > col("avg_price"))
          .agg(
            count(lit(1)).as("n_above_avg"),
            min(col("p_partkey")).as("min_key"),
            max(col("p_partkey")).as("max_key"))
      },
      oracle = Some(s"""
        SELECT COUNT(*) AS n_above_avg,
               MIN(p_partkey) AS min_key, MAX(p_partkey) AS max_key
        FROM part
        WHERE p_retailprice > (SELECT ${sqlAvg("p_retailprice", 2)} FROM part)""")),

    // ---- q25: HAVING (post-aggregation filter) ----
    "q25_having" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .groupBy(col("l_suppkey"))
          .agg(dsum(col("l_quantity"), 2).as("total_qty"),
               count(lit(1)).as("n_lines"))
          .filter(col("total_qty") > 16000.0)
          .orderBy(col("total_qty").desc, col("l_suppkey")),
      oracle = Some(s"""
        SELECT l_suppkey, ${sqlSum("l_quantity", 2)} AS total_qty,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_suppkey
        HAVING ${sqlSum("l_quantity", 2)} > 16000.0
        ORDER BY total_qty DESC, l_suppkey""")),

    // ---- q26: null-handling pack (coalesce/nullif/case over join nulls) ----
    "q26_null_handling" -> QueryDef(
      build = (spark, dir) => {
        val c = Tables.customer(spark, dir)
        val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("o_orderkey")).as("n_matched"),
            sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("n_null"),
            coalesce(dsum(col("o_totalprice"), 2), lit(0.0)).as("big_total"),
            count(nullif(col("c_mktsegment"), lit("BUILDING"))).as("n_nonbuilding"))
          .orderBy(col("c_mktsegment"))
      },
      oracle = Some(s"""
        SELECT c_mktsegment,
               COUNT(*) AS n_rows,
               COUNT(o_orderkey) AS n_matched,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
               COALESCE(${sqlSum("o_totalprice", 2)}, 0.0) AS big_total,
               COUNT(NULLIF(c_mktsegment, 'BUILDING')) AS n_nonbuilding
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 400000.0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---- q27: IN / NOT IN subqueries (semi/anti under the hood) ----
    "q27_in_subquery" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val debtors = Tables.customer(spark, dir)
          .filter(col("c_acctbal") < 0.0).select(col("c_custkey"))
        val inPart = o.join(debtors, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
          .select(lit("debtor").as("side"), col("o_orderstatus"), col("n"))
        val notIn = o.join(debtors, col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
          .select(lit("solvent").as("side"), col("o_orderstatus"), col("n"))
        inPart.unionAll(notIn).orderBy(col("side"), col("o_orderstatus"))
      },
      oracle = Some("""
        SELECT 'debtor' AS side, o_orderstatus, COUNT(*) AS n
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
        GROUP BY o_orderstatus
        UNION ALL
        SELECT 'solvent' AS side, o_orderstatus, COUNT(*) AS n
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
        GROUP BY o_orderstatus
        ORDER BY side, o_orderstatus""")),

    // ---- q28: sketch aggregates (HLL++ distinct, GK quantiles) ----
    // The approximate aggregations a 100 TB profile pass runs instead of
    // exact distinct/sort: HyperLogLog++ count-distinct and Greenwald-
    // Khanna percentiles are one-pass, bounded-memory, mergeable sketches.
    // Both are deterministic for a given input (no RNG) but their point
    // estimates are engine-specific, so the estimates themselves can never
    // hash-match DuckDB. The gate instead emits what IS cross-engine
    // checkable: the exact ground truth (DuckDB recomputes count-distinct
    // and continuous quantiles independently — the q74 precedent shows the
    // (1−d)·x[k] + d·x[k+1] interpolation hash-matches bit-for-bit) plus
    // in-row |approx − exact|/exact ≤ rtol verdict columns, computed over
    // the engine's sketch output INSIDE the query. The oracle asserts the
    // verdicts are all 1: a sketch drifting out of its error bound flips a
    // verdict to 0 and fails the standard rows+hash machinery — no
    // rows-only special case needed. Bounds: HLL rsd=0.02 checked at 5%
    // (2.5σ headroom); GK accuracy=10000 ⇒ rank error ≤ n/10000, checked
    // at 1% of the value.
    "q28_sketch_aggs" -> QueryDef(
      build = (spark, dir) => {
        val l = Tables.lineitem(spark, dir)
        val fracs = "array(0.25D, 0.5D, 0.75D, 0.95D)"
        def verdict(i: Int, name: String) =
          (abs(element_at(col("gk"), i) - element_at(col("ex"), i)) /
            element_at(col("ex"), i) <= lit(0.01)).cast("int").as(name)
        l.agg(
            countDistinct(col("l_orderkey")).as("exact_orders"),
            approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("hll_orders"),
            expr(s"percentile_approx(l_extendedprice, $fracs, 10000)").as("gk"),
            expr(s"percentile(l_extendedprice, $fracs)").as("ex"))
          .select(
            col("exact_orders"),
            (abs(col("hll_orders") - col("exact_orders")) / col("exact_orders")
              <= lit(0.05)).cast("int").as("hll_within_5pct"),
            element_at(col("ex"), 1).as("p25_exact"),
            element_at(col("ex"), 2).as("p50_exact"),
            element_at(col("ex"), 3).as("p75_exact"),
            element_at(col("ex"), 4).as("p95_exact"),
            verdict(1, "p25_within_1pct"),
            verdict(2, "p50_within_1pct"),
            verdict(3, "p75_within_1pct"),
            verdict(4, "p95_within_1pct"))
      },
      oracle = Some("""
        SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
               CAST(1 AS INTEGER) AS hll_within_5pct,
               quantile_cont(l_extendedprice, 0.25) AS p25_exact,
               quantile_cont(l_extendedprice, 0.5)  AS p50_exact,
               quantile_cont(l_extendedprice, 0.75) AS p75_exact,
               quantile_cont(l_extendedprice, 0.95) AS p95_exact,
               CAST(1 AS INTEGER) AS p25_within_1pct,
               CAST(1 AS INTEGER) AS p50_within_1pct,
               CAST(1 AS INTEGER) AS p75_within_1pct,
               CAST(1 AS INTEGER) AS p95_within_1pct
        FROM lineitem""")),

    // ---- q61: supplier-nation market share (TPC-H Q8 shape) ----
    // Conditional aggregation over the deep join: one nation's share of
    // revenue per year = sum(case when supp_nation then rev)/sum(rev).
    "q61_market_share" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
        val s = Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey"))
        val n = Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name"))
        val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            dsum(when(col("n_name") === "NATION_7", rev).otherwise(lit(0.0)), 4)
              .as("focus_rev"),
            dsum(rev, 4).as("total_rev"))
          .select(col("o_year"),
            round(col("focus_rev") / col("total_rev"), 6).as("mkt_share"),
            col("focus_rev"), col("total_rev"))
          .orderBy(col("o_year"))
      },
      oracle = Some(s"""
        WITH j AS (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 n_name, l_extendedprice * (1.0 - l_discount) AS rev
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation   ON s_nationkey = n_nationkey),
        g AS (
          SELECT o_year,
                 ${sqlSum("CASE WHEN n_name = 'NATION_7' THEN rev ELSE 0.0 END", 4)}
                   AS focus_rev,
                 ${sqlSum("rev", 4)} AS total_rev
          FROM j GROUP BY o_year)
        SELECT o_year, ROUND(focus_rev / total_rev, 6) AS mkt_share,
               focus_rev, total_rev
        FROM g ORDER BY o_year""")),

    // ---- q37: returned-item customer ranking (TPC-H Q10 shape) ----
    // Fact → orders join (shuffle), dims broadcast, revenue agg per
    // customer, deterministic top-20.
    "q37_returned_item_ranking" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
        val o = Tables.orders(spark, dir)
        val c = Tables.customer(spark, dir)
        val n = Tables.nation(spark, dir)
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_returned"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      oracle = Some(s"""
        SELECT c_custkey, c_name, n_name,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
               COUNT(*) AS n_returned
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")),

    // ---- q39: correlated scalar subquery (TPC-H Q17 shape, SQL path) ----
    // Runs through spark.sql over registered views — the reference's T6
    // surface — so Catalyst's subquery DECORRELATION does the rewrite
    // (inner per-part average → left join on the correlation key) rather
    // than the query author. The inner average is decimal-exact (see Det)
    // so the < comparison is engine-stable at the boundary.
    "q39_correlated_subquery" -> QueryDef(
      build = (spark, dir) => {
        Tables.registerAll(spark, dir)
        spark.sql(Q17Sql)
      },
      oracle = Some(Q17Sql)),

    // ---- q38: one-pass column profile (data-quality sweep) ----
    // operators.Profiler over lineitem's integer key columns (integer
    // min/max stringify identically in both engines; float formatting
    // would not). Exact distinct for the oracle; the operator's scale
    // mode swaps in HLL++.
    "q38_table_profile" -> QueryDef(
      build = (spark, dir) =>
        graft.operators.Profiler.profile(
          Tables.lineitem(spark, dir),
          Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")),
      oracle = Some("""
        WITH p AS (
          SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
                 CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 COUNT(DISTINCT l_orderkey) AS n_distinct,
                 CAST(MIN(l_orderkey) AS VARCHAR) AS min_value,
                 CAST(MAX(l_orderkey) AS VARCHAR) AS max_value
          FROM lineitem
          UNION ALL
          SELECT 'l_partkey', COUNT(*),
                 CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 COUNT(DISTINCT l_partkey),
                 CAST(MIN(l_partkey) AS VARCHAR), CAST(MAX(l_partkey) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'l_suppkey', COUNT(*),
                 CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 COUNT(DISTINCT l_suppkey),
                 CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
          FROM lineitem
          UNION ALL
          SELECT 'l_linenumber', COUNT(*),
                 CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 COUNT(DISTINCT l_linenumber),
                 CAST(MIN(l_linenumber) AS VARCHAR), CAST(MAX(l_linenumber) AS VARCHAR)
          FROM lineitem)
        SELECT * FROM p ORDER BY col_name""")),

    // ---- q29: nation trade flows (TPC-H Q7 shape) ----
    // The same dimension (nation) joined twice under different roles
    // (customer's vs supplier's), both broadcast; the fact table streams
    // through four broadcast joins with zero pre-aggregation shuffles —
    // the deepest join tree in the corpus.
    "q29_nation_trade_flows" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
        val c = Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_nationkey").as("cust_nk"))
        val s = Tables.supplier(spark, dir)
          .select(col("s_suppkey"), col("s_nationkey").as("supp_nk"))
        val nc = Tables.nation(spark, dir)
          .select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation"))
        val ns = Tables.nation(spark, dir)
          .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nc), "cust_nk")
          .join(broadcast(ns), "supp_nk")
          .filter(col("cust_nation") =!= col("supp_nation"))
          .groupBy(col("cust_nation"), col("supp_nation"),
            year(col("o_orderdate")).as("o_year"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .as("revenue"),
            count(lit(1)).as("n_lineitems"))
          .orderBy(col("cust_nation"), col("supp_nation"), col("o_year"))
      },
      oracle = Some(s"""
        SELECT nc.n_name AS cust_nation, ns.n_name AS supp_nation,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        WHERE nc.n_name != ns.n_name
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // ---- q72: window-function breadth (ntile/cume_dist/value functions) ----
    // The remaining window families over one tie-free ordering (both
    // engines' default frame is RANGE UNBOUNDED PRECEDING..CURRENT ROW, so
    // nth_value(2) is NULL on each partition's first row in both).
    "q72_window_value_funcs" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("o_orderstatus"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(spark, dir)
          .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(cume_dist().over(w), 6).as("cd"),
            first(col("o_orderkey")).over(w).as("cheapest_key"),
            nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
          .orderBy(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
          .limit(200)
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderkey, o_totalprice,
               ntile(4) OVER w AS quartile,
               ROUND(cume_dist() OVER w, 6) AS cd,
               first_value(o_orderkey) OVER w AS cheapest_key,
               nth_value(o_orderkey, 2) OVER w AS second_key
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_orderstatus, o_totalprice, o_orderkey LIMIT 200""")),

    // ---- q73: GROUPING SETS + grouping_id ----
    // The general form rollup/cube (q13/q14) specialize; grouping_id bit
    // convention (1 = column aggregated away) matches across engines.
    "q73_grouping_sets" -> QueryDef(
      build = (spark, dir) => {
        Tables.orders(spark, dir).createOrReplaceTempView("orders_q73")
        spark.sql("""
          SELECT o_orderstatus, o_orderpriority,
                 CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                 COUNT(*) AS n
          FROM orders_q73
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")
      },
      oracle = Some("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- q74: exact percentile arrays ----
    // Exact linear-interpolation quantiles (not the approx sketch — that's
    // q28); both engines interpolate (1-d)*x[k] + d*x[k+1]. The percentile
    // call takes the fraction ARRAY (one sort per group, not three), then
    // projects the elements as scalar columns: the driver's comparator
    // hashes rows with pandas, and array cells are unhashable there
    // (CORRECTNESS_r02 q74 err) — scalar doubles hash exactly.
    "q74_exact_percentiles" -> QueryDef(
      build = (spark, dir) => {
        Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_q74")
        spark.sql("""
          WITH q AS (
            SELECT l_returnflag,
                   percentile(l_quantity, array(0.25D, 0.5D, 0.75D)) AS qq,
                   percentile(l_extendedprice, 0.5D) AS med_price
            FROM lineitem_q74 GROUP BY l_returnflag)
          SELECT l_returnflag,
                 element_at(qq, 1) AS p25_qty,
                 element_at(qq, 2) AS p50_qty,
                 element_at(qq, 3) AS p75_qty,
                 med_price
          FROM q ORDER BY l_returnflag""")
      },
      oracle = Some("""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS p25_qty,
               quantile_cont(l_quantity, 0.5)  AS p50_qty,
               quantile_cont(l_quantity, 0.75) AS p75_qty,
               quantile_cont(l_extendedprice, 0.5) AS med_price
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q116: exact percentiles via value histogram (the skew-proof
    // scale path for q74) ----
    // q74's percentile() sorts every group's raw values — at 100 TB a hot
    // key with billions of rows concentrates on one task. When the value
    // domain is bounded (l_quantity: integers 1..50), the exact quantile
    // is computable from the per-(key, value) COUNT HISTOGRAM instead:
    // partial aggregation collapses a hot key's billions of rows to ≤|V|
    // histogram rows PER MAP TASK before the shuffle, so skew never
    // concentrates. The cumulative window and the quantile lookup then run
    // over ≤|V| rows per key.
    //
    // The oracle is DuckDB's own quantile_cont — the hash match proves the
    // histogram method reproduces the textbook continuous quantile
    // (1−d)·x[k] + d·x[k+1] bit-for-bit (d, the quantile fractions, and
    // the quantity values are all dyadic, so every step is IEEE-exact).
    "q116_histogram_percentiles" -> QueryDef(
      build = (spark, dir) => {
        val hist = Tables.lineitem(spark, dir)
          .select(col("l_returnflag").as("flag"), col("l_quantity").as("v"))
          .groupBy(col("flag"), col("v")).agg(count(lit(1)).as("cnt"))
        val cum = hist
          .withColumn("cum_hi", sum(col("cnt")).over(
            Window.partitionBy(col("flag")).orderBy(col("v"))))
          .withColumn("cum_lo", col("cum_hi") - col("cnt"))
        val n = hist.groupBy(col("flag")).agg(sum(col("cnt")).as("n"))
        val qs = hist.sparkSession.range(1)
          .select(explode(array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        val targets = n.crossJoin(broadcast(qs))
          .withColumn("pos", col("q") * (col("n") - 1).cast("double"))
          .withColumn("i0", floor(col("pos")))
          .withColumn("i1", least(col("i0") + 1, col("n") - 1))
          .withColumn("d", col("pos") - col("i0").cast("double"))
        val v0 = targets.join(cum.select(col("flag"), col("v").as("v0"),
            col("cum_lo"), col("cum_hi")), Seq("flag"))
          .filter(col("i0") >= col("cum_lo") && col("i0") < col("cum_hi"))
          .drop("cum_lo", "cum_hi")
        val v1 = v0.join(cum.select(col("flag"), col("v").as("v1"),
            col("cum_lo"), col("cum_hi")), Seq("flag"))
          .filter(col("i1") >= col("cum_lo") && col("i1") < col("cum_hi"))
          .withColumn("value",
            (lit(1.0) - col("d")) * col("v0") + col("d") * col("v1"))
        v1.groupBy(col("flag"), col("n"))
          .agg(
            max(when(col("q") === 0.25, col("value"))).as("p25_qty"),
            max(when(col("q") === 0.5, col("value"))).as("p50_qty"),
            max(when(col("q") === 0.75, col("value"))).as("p75_qty"))
          .select(col("flag").as("l_returnflag"), col("n"),
            col("p25_qty"), col("p50_qty"), col("p75_qty"))
          .orderBy(col("l_returnflag"))
      },
      oracle = Some("""
        SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
               quantile_cont(l_quantity, 0.25) AS p25_qty,
               quantile_cont(l_quantity, 0.5)  AS p50_qty,
               quantile_cont(l_quantity, 0.75) AS p75_qty
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- q76: unpivot (melt) — the inverse of the q20 pivot ----
    "q76_unpivot" -> QueryDef(
      build = (spark, dir) => {
        val agg = Tables.orders(spark, dir)
          .groupBy(col("o_orderstatus"))
          .agg(
            sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("urgent"),
            sum(when(col("o_orderpriority") === "5-LOW", 1).otherwise(0)).as("low"))
        agg.unpivot(Array(col("o_orderstatus")),
            Array(col("urgent"), col("low")), "priority", "n")
          .orderBy(col("o_orderstatus"), col("priority"))
      },
      oracle = Some("""
        WITH agg AS (SELECT o_orderstatus,
               CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
               CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
             FROM orders GROUP BY 1)
        SELECT o_orderstatus, name AS priority, value AS n
        FROM agg UNPIVOT (value FOR name IN (urgent, low))
        ORDER BY o_orderstatus, priority""")),

    // ---- q77: correlated EXISTS subquery (decorrelates to a semi-join
    // with a pushed predicate — a different rewrite than q27's IN) ----
    "q77_exists_subquery" -> QueryDef(
      build = (spark, dir) => {
        Tables.customer(spark, dir).createOrReplaceTempView("customer_q77")
        Tables.orders(spark, dir).createOrReplaceTempView("orders_q77")
        spark.sql("""
          SELECT c_mktsegment, COUNT(*) AS n_with_orders
          FROM customer_q77 c
          WHERE EXISTS (SELECT 1 FROM orders_q77 o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_totalprice > 300000)
          GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      oracle = Some("""
        SELECT c_mktsegment, COUNT(*) AS n_with_orders
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- q79: LATERAL subquery (per-row dependent top-k) ----
    // The remaining subquery family after scalar (q24), IN (q27),
    // correlated scalar (q39), and EXISTS (q77): a per-outer-row
    // dependent table subquery — "top-2 nations by customers for EACH
    // region" — which Catalyst plans as a lateral join with the rank
    // pushed inside.
    "q79_lateral_topk" -> QueryDef(
      build = (spark, dir) => {
        Tables.region(spark, dir).createOrReplaceTempView("region_q79")
        Tables.nation(spark, dir).createOrReplaceTempView("nation_q79")
        Tables.customer(spark, dir).createOrReplaceTempView("customer_q79")
        spark.sql("""
          SELECT r.r_name, l.n_name, l.n_customers
          FROM region_q79 r, LATERAL (
            SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
            FROM nation_q79 n JOIN customer_q79 c ON c.c_nationkey = n.n_nationkey
            WHERE n.n_regionkey = r.r_regionkey
            GROUP BY n.n_name
            ORDER BY n_customers DESC, n.n_name LIMIT 2) l
          ORDER BY r.r_name, l.n_customers DESC, l.n_name""")
      },
      oracle = Some("""
        SELECT r.r_name, l.n_name, l.n_customers
        FROM region r, LATERAL (
          SELECT n.n_name, COUNT(c.c_custkey) AS n_customers
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, n.n_name LIMIT 2) l
        ORDER BY r.r_name, l.n_customers DESC, l.n_name""")),

    // ---- q80: array-function family over grouped collections ----
    // collect → sort → slice/reverse: the deterministic core of Spark's
    // array function surface (collect_list alone is partition-order
    // dependent; array_sort makes it oracle-stable). The arrays stay in
    // the plan; the final projection flattens them to scalar element
    // columns because the driver's row-hash comparator cannot hash array
    // cells (CORRECTNESS_r02 q80 err: unhashable numpy.ndarray).
    "q80_array_funcs" -> QueryDef(
      build = (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            slice(array_sort(collect_list(col("o_totalprice"))), 1, 3).as("low3"),
            slice(reverse(array_sort(collect_list(col("o_totalprice")))), 1, 3).as("top3"))
          // try_element_at, not element_at: a group with <3 rows has a
          // short slice, and under ANSI mode element_at(arr, k) past the
          // end throws INVALID_ARRAY_INDEX while the DuckDB oracle's
          // list[k] yields NULL. try_element_at matches the oracle's
          // out-of-range-is-NULL semantics on degenerate inputs.
          .select(col("o_orderpriority"), col("n"),
            try_element_at(col("low3"), lit(1)).as("low_1"),
            try_element_at(col("low3"), lit(2)).as("low_2"),
            try_element_at(col("low3"), lit(3)).as("low_3"),
            try_element_at(col("top3"), lit(1)).as("top_1"),
            try_element_at(col("top3"), lit(2)).as("top_2"),
            try_element_at(col("top3"), lit(3)).as("top_3"),
            round(try_element_at(col("top3"), lit(1)) -
              try_element_at(col("low3"), lit(1)), 2).as("spread"))
          .orderBy(col("o_orderpriority")),
      oracle = Some("""
        WITH a AS (
          SELECT o_orderpriority, COUNT(*) AS n,
                 list_slice(list_sort(list(o_totalprice)), 1, 3) AS low3,
                 list_slice(list_reverse_sort(list(o_totalprice)), 1, 3) AS top3
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, n,
               low3[1] AS low_1, low3[2] AS low_2, low3[3] AS low_3,
               top3[1] AS top_1, top3[2] AS top_2, top3[3] AS top_3,
               ROUND(top3[1] - low3[1], 2) AS spread
        FROM a ORDER BY o_orderpriority""")),

    // ---- q81: JSON key enumeration (schema discovery over props) ----
    // The dynamic-JSON dual of q30's typed extraction: parse the props
    // column as a map and enumerate its keys — the profiling query run
    // before deciding a typed schema for semi-structured columns.
    "q81_json_keys" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.types._
        Tables.events(spark, dir)
          .select(col("event_type"),
            explode(map_keys(from_json(col("props"),
              MapType(StringType, StringType)))).as("key"))
          .groupBy(col("event_type"), col("key"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"), col("key"))
      },
      oracle = Some("""
        WITH k AS (SELECT event_type, unnest(json_keys(props)) AS key FROM events)
        SELECT event_type, key, COUNT(*) AS n
        FROM k GROUP BY event_type, key ORDER BY event_type, key""")),

    // ---- q75: ordered distinct string aggregation ----
    // listagg semantics made deterministic: collect distinct, sort, join —
    // the only order-stable form of string aggregation in a parallel
    // engine.
    "q75_string_agg" -> QueryDef(
      build = (spark, dir) =>
        Tables.orders(spark, dir)
          .groupBy(col("o_orderstatus"))
          .agg(concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
            .as("priorities"),
            countDistinct(col("o_orderpriority")).as("n_priorities"))
          .orderBy(col("o_orderstatus")),
      oracle = Some("""
        SELECT o_orderstatus,
               string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
                 AS priorities,
               COUNT(DISTINCT o_orderpriority) AS n_priorities
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- q104: native recursive CTE (Spark 4 WITH RECURSIVE) ----
    // Walk each customer's order chain (linked by LEAD over order date)
    // from the first order, accumulating depth and exact-decimal running
    // spend through the recursion — the linked-traversal shape (org
    // charts, BOM explosions, graph walks) that windows cannot express
    // when each step depends on the previous step's accumulator. Both
    // engines execute the IDENTICAL recursive SQL text (Spark's
    // UNION ALL recursive CTE landed in Spark 4; cyclic closures still
    // need UNION-distinct, which q56 covers with distributed min-label
    // propagation instead).
    //
    // 100 TB posture: the chain table is built with one entity-key window
    // shuffle; each recursion level is a keyed equijoin on next_key, and
    // depth is bounded by max orders/customer (~10 at any SF), not
    // corpus size.
    "q104_recursive_chain" -> QueryDef(
      build = (spark, dir) => {
        Tables.orders(spark, dir).createOrReplaceTempView("orders_q104")
        spark.sql(recursiveChainSql("orders_q104"))
      },
      oracle = Some(recursiveChainSql("orders"))),

    // ---- q111: trailing time-RANGE window (interval frame) ----
    // Per customer, each order's trailing-30-day order count and exact
    // spend — a RANGE frame over an integer day offset, not a ROWS
    // frame: the frame covers a VALUE interval, so same-day peer rows
    // are all included regardless of row order and gaps in activity
    // shrink the frame. ROWS windows (q16/q17) can't express this.
    // The day offset is an exact integer (datediff), identical in both
    // engines; spend accumulates in decimal.
    //
    // 100 TB posture: one (custkey) hash shuffle; within a partition the
    // range frame advances two pointers over the day-sorted rows —
    // bounded memory per key, no per-row rescan, and AQE handles key
    // skew. The presentation ORDER BY is the only other exchange.
    "q111_trailing_range_window" -> QueryDef(
      build = (spark, dir) => {
        val dayNum = datediff(col("o_orderdate"),
          lit(java.sql.Date.valueOf("1992-01-01"))).cast("long")
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
          .rangeBetween(-30, Window.currentRow)
        Tables.orders(spark, dir)
          .filter(col("o_custkey") < 150)
          .select(col("o_custkey"), col("o_orderkey"),
            dayNum.as("day_num"),
            col("o_totalprice").cast(DecimalType(28, 2)).as("price"))
          .select(col("o_custkey"), col("o_orderkey"), col("day_num"),
            count(lit(1)).over(w).as("trailing_orders"),
            sum(col("price")).over(w).cast("double").as("trailing_spend"))
          .orderBy(col("o_custkey"), col("day_num"), col("o_orderkey"))
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey,
                 datediff('day', TIMESTAMP '1992-01-01', o_orderdate) AS day_num,
                 CAST(o_totalprice AS DECIMAL(28,2)) AS price
          FROM orders WHERE o_custkey < 150)
        SELECT o_custkey, o_orderkey, day_num,
               COUNT(*) OVER w AS trailing_orders,
               CAST(SUM(price) OVER w AS DOUBLE) AS trailing_spend
        FROM o
        WINDOW w AS (PARTITION BY o_custkey ORDER BY day_num
                     RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, day_num, o_orderkey"""))
  ) ++ Seq(

    // ---- q165: equi-width price histogram, integer-exact ----
    // The fixed-bucket dual of q116's equi-count histogram: 20 buckets
    // of equal WIDTH over [min, max] o_totalprice in exact cents —
    // bucket = (cents − min)·20 div (max − min + 1), pure integer, so
    // empty buckets vanish identically in both engines and no rounding
    // boundary exists. The shape behind range-partition pruning and
    // data-layout decisions (q116's equi-count answers quantiles;
    // equi-width answers "where does the mass sit on the axis").
    //
    // 100 TB posture: the min/max bounds are a 1-row partial/final agg
    // broadcast back; bucketing is map-side arithmetic feeding one
    // partial/final count — two passes, no window, no sort.
    "q165_equiwidth_histogram" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
          .select(round(col("o_totalprice") * 100).cast(LongType).as("cents"))
        val bounds = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        o.crossJoin(broadcast(bounds))
          .select(expr("((cents - lo) * 20) div (hi - lo + 1)").as("bucket"),
            col("cents"), col("lo"), col("hi"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"),
            sum(col("cents")).as("cents_total"))
          .orderBy(col("bucket"))
      },
      oracle = Some("""
        WITH o AS (
          SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o)
        SELECT ((cents - lo) * 20) // (hi - lo + 1) AS bucket,
               COUNT(*) AS n_orders,
               MIN(cents) AS min_cents, MAX(cents) AS max_cents,
               CAST(SUM(cents) AS BIGINT) AS cents_total
        FROM o CROSS JOIN b
        GROUP BY 1 ORDER BY bucket""")),

    // ---- q170: zone-map pruning effectiveness by layout ----
    // WHY data layout matters at 100 TB, measured: simulate 128-row
    // blocks with min/max zone maps (what parquet row groups and
    // Iceberg manifests actually store) under two physical orders —
    // clustered by l_shipdate vs scattered by orderkey-hash — and count
    // how many blocks a 30-day ship-date range predicate must read.
    // Clustering concentrates the range into few blocks (prune ratio →
    // ~1); scattering smears it so nearly every block overlaps (prune →
    // 0). Pure integer: block id = (rank−1) div 128, overlap test on
    // exact DATE-typed min/max, ppm by integer division.
    //
    // 100 TB posture: each layout is one ordered window (the sort IS
    // the thing being measured) + a block-keyed agg; the final rollup
    // is blocks-count-sized. This is the measurement range clustering
    // optimizes for.
    "q170_zonemap_pruning" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        def rollup(layout: String, blocked: org.apache.spark.sql.DataFrame) =
          blocked.groupBy(col("blk"))
            .agg(min(col("l_shipdate")).as("lo"), max(col("l_shipdate")).as("hi"))
            .agg(count(lit(1)).as("n_blocks"),
              count(when(col("hi") < to_timestamp(lit("1995-03-01")) ||
                col("lo") > to_timestamp(lit("1995-03-31")), 1)).as("pruned"))
            .select(lit(layout).as("layout"), col("n_blocks"), col("pruned"),
              expr("pruned * 1000000 div n_blocks").as("prune_ppm"))
        // clustered: 128-row blocks in shipdate order. (l_orderkey,
        // l_linenumber) is NOT unique in the synthetic lineitem, so the
        // tie-break is only total up to duplicate keys — harmless HERE
        // because tied rows share the leading l_shipdate, and min/max
        // per block is invariant under permuting equal dates.
        val clustered = li.select(col("l_shipdate"),
          expr("(row_number() over (order by l_shipdate, l_orderkey, " +
            "l_linenumber) - 1) div 128").as("blk"))
        // scattered: blocks assigned DIRECTLY by a shared LCG mix mod the
        // block count — no sort, so non-unique keys can't make the layout
        // engine-dependent (identical rows land in identical blocks)
        val nb = li.agg(((count(lit(1)) + 127) / 128).cast("long").as("nb"))
        val scattered = li.crossJoin(broadcast(nb))
          .select(col("l_shipdate"),
            expr("((l_orderkey * 1103515245 + l_linenumber * 12345) " +
              "% 1000003) % nb").as("blk"))
        rollup("clustered", clustered)
          .unionByName(rollup("scattered", scattered))
          .orderBy(col("layout"))
      },
      oracle = Some("""
        WITH nb AS (
          SELECT (COUNT(*) + 127) // 128 AS nb FROM lineitem),
        ranked AS (
          SELECT l_shipdate,
                 (ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey,
                    l_linenumber) - 1) // 128 AS blk_c,
                 ((l_orderkey * 1103515245 + l_linenumber * 12345)
                    % 1000003) % (SELECT nb FROM nb) AS blk_s
          FROM lineitem),
        c AS (
          SELECT 'clustered' AS layout, COUNT(*) AS n_blocks,
                 COUNT(CASE WHEN hi < TIMESTAMP '1995-03-01'
                       OR lo > TIMESTAMP '1995-03-31' THEN 1 END) AS pruned
          FROM (SELECT blk_c, MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi
                FROM ranked GROUP BY blk_c)),
        s AS (
          SELECT 'scattered' AS layout, COUNT(*) AS n_blocks,
                 COUNT(CASE WHEN hi < TIMESTAMP '1995-03-01'
                       OR lo > TIMESTAMP '1995-03-31' THEN 1 END) AS pruned
          FROM (SELECT blk_s, MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi
                FROM ranked GROUP BY blk_s))
        SELECT layout, n_blocks, pruned,
               pruned * 1000000 // n_blocks AS prune_ppm
        FROM (SELECT * FROM c UNION ALL SELECT * FROM s)
        ORDER BY layout""")),

    // ---- q131: incremental agg-state merge (materialized-view
    // maintenance) ----
    // The mergeable-state property every incremental pipeline rests on,
    // exercised end-to-end: per-(priority, month) order stats are
    // computed as two independent partial states (orders before vs
    // after a date pivot — the "stored MV" and the "arriving batch"),
    // merged with the state-combine functions (Σn, Σsum — exact
    // DECIMAL — min-of-mins, max-of-maxes), and certified against a
    // direct full-table aggregation by in-row drift columns that must
    // all be zero. The month key cuts ACROSS the date pivot, so every
    // group genuinely has state on both sides — the merge is never
    // vacuous.
    //
    // 100 TB posture: this is exactly why stored aggregate state beats
    // re-scanning — the delta batch is the only thing read at refresh
    // time; the merge is |groups|-sized. Works for any commutative
    // monoid state (count/sum/min/max here; sketches — q28's HLL — at
    // the approximate tier). AVG derives from (n, sum) at read time —
    // never stored, never drifts.
    "q131_incremental_state_merge" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          col("o_orderpriority").as("priority"),
          month(col("o_orderdate")).cast("long").as("mo"),
          col("o_totalprice"),
          col("o_orderdate"))
        def state(df: DataFrame): DataFrame =
          df.groupBy(col("priority"), col("mo")).agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(28, 2))).as("s"),
            min(col("o_totalprice")).as("mn"),
            max(col("o_totalprice")).as("mx"))
        val pivot = "1999-01-01"
        val stored = state(o.filter(col("o_orderdate") < lit(pivot)))
        val delta = state(o.filter(col("o_orderdate") >= lit(pivot)))
        val merged = stored.unionAll(delta)
          .groupBy(col("priority"), col("mo"))
          .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
            min(col("mn")).as("mn"), max(col("mx")).as("mx"))
        val direct = state(o).select(col("priority"), col("mo"),
          col("n").as("dn"), col("s").as("ds"),
          col("mn").as("dmn"), col("mx").as("dmx"))
        merged.join(direct, Seq("priority", "mo"))
          .select(col("priority"), col("mo"),
            col("n").cast("long").as("n"),
            col("s").cast(DoubleType).as("sum_total"),
            col("mn").as("min_total"), col("mx").as("max_total"),
            (col("n") - col("dn")).cast("long").as("n_drift"),
            (col("s") - col("ds")).cast(DoubleType).as("sum_drift"),
            when(col("mn") === col("dmn") && col("mx") === col("dmx"), 0L)
              .otherwise(1L).as("minmax_drift"))
          .orderBy(col("priority"), col("mo"))
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_orderpriority AS priority, month(o_orderdate) AS mo,
                 o_totalprice, o_orderdate
          FROM orders),
        stored AS (
          SELECT priority, mo, COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                 MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
          FROM o WHERE o_orderdate < TIMESTAMP '1999-01-01'
          GROUP BY priority, mo),
        delta AS (
          SELECT priority, mo, COUNT(*) AS n,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
                 MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
          FROM o WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          GROUP BY priority, mo),
        merged AS (
          SELECT priority, mo, SUM(n) AS n, SUM(s) AS s,
                 MIN(mn) AS mn, MAX(mx) AS mx
          FROM (SELECT * FROM stored UNION ALL SELECT * FROM delta)
          GROUP BY priority, mo),
        direct AS (
          SELECT priority, mo, COUNT(*) AS dn,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS ds,
                 MIN(o_totalprice) AS dmn, MAX(o_totalprice) AS dmx
          FROM o GROUP BY priority, mo)
        SELECT m.priority, CAST(m.mo AS BIGINT) AS mo,
               CAST(m.n AS BIGINT) AS n,
               CAST(m.s AS DOUBLE) AS sum_total,
               m.mn AS min_total, m.mx AS max_total,
               CAST(m.n - d.dn AS BIGINT) AS n_drift,
               CAST(m.s - d.ds AS DOUBLE) AS sum_drift,
               CAST(CASE WHEN m.mn = d.dmn AND m.mx = d.dmx
                         THEN 0 ELSE 1 END AS BIGINT) AS minmax_drift
        FROM merged m JOIN direct d
          ON m.priority = d.priority AND m.mo = d.mo
        ORDER BY m.priority, m.mo""")),

    // ---- q142: bag-semantics set operations (INTERSECT/EXCEPT ALL) ----
    // q19 covers the DISTINCT set ops; these are the multiset duals —
    // per-element multiplicity min(cntA, cntB) for INTERSECT ALL and
    // max(cntA − cntB, 0) for EXCEPT ALL (ANSI bag semantics, identical
    // in both engines). The sum-of-keys checksum is carried per op so
    // the hash compare certifies MULTIPLICITIES, not just cardinality —
    // the distinct forms would produce different checksums.
    //
    // 100 TB posture: both ops hash-partition on the element and reduce
    // to per-key counters (Spark plans exactly that under the hood) —
    // never a sort, never row-by-row bag subtraction.
    "q142_bag_set_ops" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        val op = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        Seq(("except_all", f.exceptAll(op)),
          ("intersect_all", f.intersectAll(op)))
          .map { case (nm, df) =>
            df.agg(count(lit(1)).as("n"),
                coalesce(sum(col("o_custkey")), lit(0L)).as("key_checksum"))
              .select(lit(nm).as("op"), col("n"), col("key_checksum"))
          }.reduce(_ unionAll _).orderBy(col("op"))
      },
      oracle = Some("""
        SELECT 'except_all' AS op, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COALESCE(SUM(o_custkey), 0) AS BIGINT) AS key_checksum
        FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              EXCEPT ALL
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        UNION ALL
        SELECT 'intersect_all', CAST(COUNT(*) AS BIGINT),
               CAST(COALESCE(SUM(o_custkey), 0) AS BIGINT)
        FROM (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
              INTERSECT ALL
              SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        ORDER BY op""")),

    // ---- q150: point-in-time dimension lookup over SCD-2 history ----
    // The warehouse capstone tying q96 (SCD-2 interval build) to q36
    // (interval join): per-customer priority REGIMES (runs of
    // o_orderpriority over order date, rn-difference islands, keyed
    // tie-break so same-day run starts version deterministically), then
    // every order of the demo slice looks up the regime valid the DAY
    // BEFORE its date — "what state was this customer in when the
    // order arrived" — with NULL for pre-history. Intervals partition
    // [first_from, ∞) per customer (same-day starts yield empty
    // [d, d) intervals that can never match), so the lookup is
    // provably unique — no row multiplication.
    //
    // 100 TB posture: history build is q96's ONE entity-key shuffle;
    // the lookup is a custkey equijoin with the interval predicate as
    // a post-filter — never a cross join; version count per key is
    // bounded by regime changes, not orders.
    "q150_point_in_time_join" -> QueryDef(
      build = (spark, dir) => {
        val byDate = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val byDatePrio = Window.partitionBy(col("o_custkey"), col("o_orderpriority"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val o = Tables.orders(spark, dir).filter(col("o_custkey") < 50)
        val runs = o
          .withColumn("grp",
            row_number().over(byDate) - row_number().over(byDatePrio))
          .groupBy(col("o_custkey"), col("o_orderpriority"), col("grp"))
          .agg(min(col("o_orderdate")).as("valid_from"),
            min(col("o_orderkey")).as("first_key"),
            count(lit(1)).as("n_orders"))
        val byStart = Window.partitionBy(col("o_custkey"))
          .orderBy(col("valid_from"), col("first_key"))
        val dim = runs.select(col("o_custkey").as("d_cust"),
          row_number().over(byStart).cast("long").as("version"),
          col("o_orderpriority").as("regime"),
          col("valid_from"),
          lead(col("valid_from"), 1).over(byStart).as("valid_to"))
        val facts = o.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"),
          (col("o_orderdate") - expr("INTERVAL 1 DAY")).as("lookup_ts"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        facts.join(dim,
            col("o_custkey") === col("d_cust") &&
              col("valid_from") <= col("lookup_ts") &&
              (col("valid_to").isNull || col("lookup_ts") < col("valid_to")),
            "left")
          .select(col("o_orderkey"), col("o_custkey"), col("order_date"),
            col("version"), col("regime").as("prior_regime"),
            when(col("regime").isNull, lit(null).cast("long"))
              .otherwise(when(col("regime") === col("o_orderpriority"), 0L)
                .otherwise(1L)).as("regime_changed"))
          .orderBy(col("o_orderkey"))
      },
      oracle = Some("""
        WITH o AS (SELECT * FROM orders WHERE o_custkey < 50),
        r AS (
          SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
               - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderpriority
                   ORDER BY o_orderdate, o_orderkey) AS grp
          FROM o),
        runs AS (
          SELECT o_custkey, o_orderpriority, grp,
                 MIN(o_orderdate) AS valid_from,
                 MIN(o_orderkey) AS first_key,
                 COUNT(*) AS n_orders
          FROM r GROUP BY 1, 2, 3),
        dim AS (
          SELECT o_custkey AS d_cust,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY valid_from, first_key) AS BIGINT) AS version,
                 o_orderpriority AS regime, valid_from,
                 LEAD(valid_from, 1) OVER (PARTITION BY o_custkey
                   ORDER BY valid_from, first_key) AS valid_to
          FROM runs),
        facts AS (
          SELECT o_orderkey, o_custkey, o_orderpriority,
                 o_orderdate - INTERVAL 1 DAY AS lookup_ts,
                 strftime(o_orderdate, '%Y-%m-%d') AS order_date
          FROM o)
        SELECT f.o_orderkey, f.o_custkey, f.order_date,
               d.version, d.regime AS prior_regime,
               CASE WHEN d.regime IS NULL THEN NULL
                    WHEN d.regime = f.o_orderpriority
                    THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
                 AS regime_changed
        FROM facts f LEFT JOIN dim d
          ON f.o_custkey = d.d_cust
         AND d.valid_from <= f.lookup_ts
         AND (d.valid_to IS NULL OR f.lookup_ts < d.valid_to)
        ORDER BY f.o_orderkey""")),

    // ---- q196: referential-integrity audit (dbt-style FK tests) ----
    // The relationship tests every warehouse runs before trusting a
    // join: for each declared FK edge, how many child rows exist and
    // how many are ORPHANS (no matching parent — rows a later inner
    // join would silently drop). Shape per edge: one left-anti join on
    // the key, i.e. the exact plan the violation would corrupt. The
    // fixture is referentially clean, so the audit's zeros are the
    // assertion — any generator or ingest regression that breaks an
    // edge flips a hashed value.
    //
    // 100 TB posture: each edge is a keyed anti-join (broadcast when
    // the parent is dimension-sized, shuffle otherwise — Catalyst's
    // call); the four audits share nothing, so AQE runs them as
    // independent subtrees of one union.
    "q196_fk_integrity" -> QueryDef(
      build = (spark, dir) => {
        def audit(edge: String, child: DataFrame, childKey: String,
            parent: DataFrame, parentKey: String): DataFrame = {
          val orphans = child.join(parent,
            child(childKey) === parent(parentKey), "left_anti")
          child.agg(count(lit(1)).as("n_child"))
            .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
            .select(lit(edge).as("fk_edge"), col("n_child"),
              col("n_orphans"),
              expr("(n_orphans * 1000000) div n_child").as("orphan_ppm"))
        }
        val o = Tables.orders(spark, dir)
        val l = Tables.lineitem(spark, dir)
        audit("lineitem.l_orderkey->orders", l, "l_orderkey",
            o, "o_orderkey")
          .unionAll(audit("lineitem.l_partkey->part", l, "l_partkey",
            Tables.part(spark, dir), "p_partkey"))
          .unionAll(audit("lineitem.l_suppkey->supplier", l, "l_suppkey",
            Tables.supplier(spark, dir), "s_suppkey"))
          .unionAll(audit("orders.o_custkey->customer", o, "o_custkey",
            Tables.customer(spark, dir), "c_custkey"))
          .orderBy(col("fk_edge"))
      },
      oracle = Some("""
        WITH a AS (
          SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
                 (SELECT COUNT(*) FROM lineitem) AS n_child,
                 (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                   AS n_orphans
          UNION ALL
          SELECT 'lineitem.l_partkey->part',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
          UNION ALL
          SELECT 'lineitem.l_suppkey->supplier',
                 (SELECT COUNT(*) FROM lineitem),
                 (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
                   (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
          UNION ALL
          SELECT 'orders.o_custkey->customer',
                 (SELECT COUNT(*) FROM orders),
                 (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
                   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
               CAST(n_orphans AS BIGINT) AS n_orphans,
               (CAST(n_orphans AS BIGINT) * 1000000) // n_child AS orphan_ppm
        FROM a ORDER BY fk_edge""")),

    // ---- q197: cohort revenue triangle (LTV accumulation) ----
    // The lifetime-value view finance teams read: customers grouped by
    // FIRST-order month, revenue laid out by months-since-first —
    // the revenue dual of q68's retention cohorts. Month arithmetic is
    // pure integers (y·12+m), cents exact; months_since = order month
    // index − cohort month index. One customer-keyed window for the
    // cohort assignment, one keyed agg for the triangle.
    "q197_cohort_revenue_triangle" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
          .select(col("o_custkey"), col("o_orderdate"),
            round(col("o_totalprice") * 100).cast(LongType).as("cents"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .as("mi"))
        val w = Window.partitionBy(col("o_custkey"))
        val c = o.withColumn("m0", min(col("mi")).over(w))
          .withColumn("cohort_start", min(col("o_orderdate")).over(w))
        c.groupBy(
            date_format(col("cohort_start"), "yyyy-MM").as("cohort_month"),
            (col("mi") - col("m0")).cast(LongType).as("months_since"))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"),
            sum(col("cents")).as("revenue_cents"))
          .orderBy(col("cohort_month"), col("months_since"))
      },
      oracle = Some("""
        WITH o AS (SELECT o_custkey, o_orderdate,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                          year(o_orderdate) * 12 + month(o_orderdate) AS mi
                   FROM orders),
        c AS (SELECT *,
                     MIN(mi) OVER (PARTITION BY o_custkey) AS m0,
                     MIN(o_orderdate) OVER (PARTITION BY o_custkey)
                       AS cohort_start
              FROM o)
        SELECT strftime(cohort_start, '%Y-%m') AS cohort_month,
               mi - m0 AS months_since,
               COUNT(*) AS n_orders,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS revenue_cents
        FROM c GROUP BY 1, 2 ORDER BY cohort_month, months_since""")),

    // ---- q198: Pareto revenue concentration, integer-exact ----
    // The 80/20 question finance asks first: how few customers carry
    // 80% of revenue? Customers ranked by exact revenue cents
    // (custkey tie-break), cumulative share tested with the
    // cross-multiplied integer condition 5·cum ≥ 4·total (no FP
    // percentage ever compared); output the count and ppm of customers
    // needed for the 80% band plus the top-decile revenue share.
    //
    // 100 TB posture: per-customer revenue is a keyed agg; the rank AND
    // running sum at |customers| come from the STAT-ROUTED `GlobalRank`
    // (round 9) — two-pass above the ~2M-customer crossover (cents-keyed
    // tie-break window + range-correlated sharded offset table + keyed
    // equijoin; within a cents tie group the running sum is offset +
    // rank·cents exactly), one naive window below it where that form
    // measures faster. Routing changes the plan, never the (rn, cum)
    // pairs — both forms match the global-sort row-for-row; the final
    // reduction is one row.
    "q198_pareto_concentration" -> QueryDef(
      build = (spark, dir) => {
        val rev = Tables.orders(spark, dir)
          .groupBy(col("o_custkey"))
          .agg(sum(round(col("o_totalprice") * 100).cast(LongType))
            .as("cents"))
        // shardDiv 2^20: per-customer cents spread over a wide range;
        // keeps the offset table at value-range/2^20 rows
        val r = graft.operators.GlobalRank
          .withRankAndPrefixAuto(rev, "cents", "o_custkey",
            shardDiv = 1048576L)._2
        val tot = rev.agg(count(lit(1)).as("n"), sum(col("cents")).as("t"))
        r.crossJoin(broadcast(tot))
          .select(col("rn"), col("cum"), col("n"), col("t"))
          .agg(max(col("n")).as("n_customers"),
            max(col("t")).as("total_cents"),
            min(when(col("cum") * 5 >= col("t") * 4, col("rn")))
              .as("n_for_80pct"),
            max(when(col("rn") * 10 <= col("n"), col("cum")))
              .as("top_decile_cents"))
          .select(col("n_customers"), col("total_cents"),
            col("n_for_80pct"),
            expr("(n_for_80pct * 1000000) div n_customers")
              .as("pct80_ppm"),
            expr("(top_decile_cents * 1000000) div total_cents")
              .as("top_decile_share_ppm"))
      },
      oracle = Some("""
        WITH rev AS (SELECT o_custkey,
                            CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS cents
                     FROM orders GROUP BY o_custkey),
        r AS (SELECT o_custkey, cents,
                     ROW_NUMBER() OVER w AS rn,
                     CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM rev WINDOW w AS (ORDER BY cents DESC, o_custkey)),
        t AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS t
              FROM rev),
        a AS (SELECT MAX(t.n) AS n_customers, MAX(t.t) AS total_cents,
                     CAST(MIN(CASE WHEN cum * 5 >= t.t * 4 THEN rn END)
                       AS BIGINT) AS n_for_80pct,
                     CAST(MAX(CASE WHEN rn * 10 <= t.n THEN cum END)
                       AS BIGINT) AS top_decile_cents
              FROM r CROSS JOIN t)
        SELECT n_customers, total_cents, n_for_80pct,
               (n_for_80pct * 1000000) // n_customers AS pct80_ppm,
               (top_decile_cents * 1000000) // total_cents
                 AS top_decile_share_ppm
        FROM a""")),

    // ---- q199: market-basket part pairs ----
    // Which parts sell TOGETHER — the co-occurrence support table
    // recommendation and placement decisions start from. Within-order
    // part pairs (a < b, parts deduped per order first so quantity
    // splits don't double-count a pair), support counted, top-20 by
    // (support DESC, pair) — a total order, so LIMIT is deterministic.
    //
    // 100 TB posture: the pair fan-out is bounded by ORDER SIZE (≤7
    // lineitems here; baskets are small everywhere), so the self-join
    // on orderkey is a keyed equijoin with per-key fanout ≤ |basket|²,
    // never a corpus-scale cross; support counting is a keyed partial
    // agg and top-20 is TakeOrderedAndProject.
    "q199_basket_pairs" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val a = li.select(col("ok"), col("pk").as("part_a"))
        val b = li.select(col("ok").as("ok2"), col("pk").as("part_b"))
        a.join(b, col("ok") === col("ok2") && col("part_a") < col("part_b"))
          .groupBy(col("part_a"), col("part_b"))
          .agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("part_a"), col("part_b"))
          .limit(20)
      },
      oracle = Some("""
        WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                    FROM lineitem)
        SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS support
        FROM li a JOIN li b ON b.ok = a.ok AND a.pk < b.pk
        GROUP BY 1, 2
        ORDER BY support DESC, part_a, part_b LIMIT 20""")),

    // ---- q204: exact equi-depth price histogram (16 buckets) ----
    // The optimizer-statistics primitive (equi-HEIGHT histograms are
    // what engines keep per column): 16 buckets of EQUAL ROW COUNT over
    // lineitem price cents, each with its exact row count, price range,
    // and revenue mass — no approx_percentile, no sampling. Bucket 1 is
    // the most expensive line items (rank descends). Tie-break: rows
    // with identical cents order by an md5 row key; exact duplicates
    // of (cents, key) could interleave, but bucket AGGREGATES are
    // invariant under any interleaving of identical rows, so the output
    // is deterministic.
    //
    // 100 TB posture: the rank is the STAT-ROUTED `GlobalRank` — above
    // the ~2M-row crossover the q190/q198 two-pass shape (cents-keyed
    // tie-break window + range-correlated sharded offsets + keyed
    // equijoin) keeps line items off any single partition; below it the
    // naive window wins and is taken. The bucket agg is 16 rows.
    "q204_equidepth_histogram" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
          .select(
            round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
            md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey"))).as("pick"))
        val ranked = graft.operators.GlobalRank
          .withRankAndPrefixAuto(li, "cents", "pick",
            shardDiv = 1048576L)._2
        val tot = li.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("bucket", expr("((rn - 1) * 16) div n + 1"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"),
            sum(col("cents")).as("bucket_cents"))
          .orderBy(col("bucket"))
      },
      oracle = Some("""
        WITH li AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS cents,
                           md5(CONCAT(CAST(l_orderkey AS VARCHAR), '|',
                             CAST(l_linenumber AS VARCHAR), '|',
                             CAST(l_partkey AS VARCHAR), '|',
                             CAST(l_suppkey AS VARCHAR))) AS pick
                    FROM lineitem),
        r AS (SELECT cents,
                     ROW_NUMBER() OVER (ORDER BY cents DESC, pick) AS rn
              FROM li),
        t AS (SELECT COUNT(*) AS n FROM li)
        SELECT ((rn - 1) * 16) // n + 1 AS bucket,
               COUNT(*) AS n_rows,
               MIN(cents) AS min_cents, MAX(cents) AS max_cents,
               CAST(SUM(cents) AS BIGINT) AS bucket_cents
        FROM r CROSS JOIN t
        GROUP BY 1 ORDER BY bucket""")),

    // ---- q213: Kaplan–Meier survival of time-to-second-order ----
    // The censoring-aware answer to "how long until a customer comes
    // back?" — naive averages over repeat buyers only are biased
    // optimistic because one-order customers haven't finished waiting.
    // Subjects: every customer; event = second order at t = days between
    // first and second order; censored at t = days from first order to
    // the corpus max date for single-order customers. Standard KM
    // conventions: deaths precede censorings at equal t, survival
    // S(t) = prod(1 - d/n_risk) over event times.
    // Determinism: the product is exp(sum ln((n−d)/n)) — each ln term
    // rounded once at 9 dp (continuous, the q112/q195 class), summed in
    // exact decimal, ONE exp at the end rounded to integer ppm; if any
    // factor hits zero (n_risk = d at the last event time) a windowed
    // dead-flag pins survival to exactly 0 from there on (SUM-over-NULL
    // would silently skip the -inf term in both engines).
    //
    // 100 TB posture: the (first, second) order dates come from one
    // customer-keyed window (hash-partitioned); the life table then has
    // |distinct durations| rows — bounded by the date-range day count,
    // not the population — so the ordered cumulative windows run on a
    // few thousand rows at any SF.
    "q213_kaplan_meier" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(col("o_custkey"),
          to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
        val dmax = o.agg(max(col("d")).as("dmax"))
        val wr = Window.partitionBy(col("o_custkey"))
          .orderBy(col("d"), col("o_orderkey"))
        val cust = o.withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 2)
          .groupBy(col("o_custkey"))
          .agg(max(when(col("rn") === 1, col("d"))).as("d1"),
            max(when(col("rn") === 2, col("d"))).as("d2"))
        val subj = cust.crossJoin(broadcast(dmax))
          .select(
            when(col("d2").isNotNull, datediff(col("d2"), col("d1")))
              .otherwise(datediff(col("dmax"), col("d1")))
              .cast(LongType).as("t"),
            when(col("d2").isNotNull, 1L).otherwise(0L).as("event"))
        val tot = subj.agg(count(lit(1)).as("n"))
        val tbl = subj.groupBy(col("t"))
          .agg(sum(col("event")).as("d_t"),
            (count(lit(1)) - sum(col("event"))).as("c_t"))
        val wPrior = Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tbl.crossJoin(broadcast(tot))
          .withColumn("n_risk", col("n") -
            coalesce(sum(col("d_t") + col("c_t")).over(wPrior), lit(0L)))
          .filter(col("d_t") > 0)
          .withColumn("lnterm",
            when(col("n_risk") === col("d_t"), lit(null))
              .otherwise(round(log((col("n_risk") - col("d_t"))
                .cast(DoubleType) / col("n_risk")), 9)))
          .withColumn("dead",
            max(when(col("lnterm").isNull, 1).otherwise(0)).over(wCum))
          .withColumn("lnsum",
            sum(col("lnterm").cast(DecimalType(28, 9))).over(wCum))
          .select(col("t"), col("n_risk"), col("d_t"), col("c_t"),
            when(col("dead") === 1, 0L)
              .otherwise(round(exp(col("lnsum").cast(DoubleType)) * 1e6)
                .cast(LongType)).as("surv_ppm"))
          .orderBy(col("t"))
      },
      oracle = Some("""
        WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
                          o_orderkey FROM orders),
        mx AS (SELECT MAX(d) AS dmax FROM o),
        r AS (SELECT o_custkey, d,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY d, o_orderkey) AS rn
              FROM o),
        cust AS (SELECT o_custkey,
                        MAX(CASE WHEN rn = 1 THEN d END) AS d1,
                        MAX(CASE WHEN rn = 2 THEN d END) AS d2
                 FROM r WHERE rn <= 2 GROUP BY o_custkey),
        subj AS (SELECT CASE WHEN d2 IS NOT NULL
                               THEN date_diff('day', d1, d2)
                             ELSE date_diff('day', d1, dmax) END AS t,
                        CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS event
                 FROM cust CROSS JOIN mx),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
        tbl AS (SELECT t, CAST(SUM(event) AS BIGINT) AS d_t,
                       CAST(COUNT(*) - SUM(event) AS BIGINT) AS c_t
                FROM subj GROUP BY t),
        rk AS (SELECT t, d_t, c_t,
                      n - CAST(COALESCE(SUM(d_t + c_t) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS n_risk
               FROM tbl CROSS JOIN tot),
        ev AS (SELECT t, n_risk, d_t, c_t,
                      CASE WHEN n_risk = d_t THEN NULL
                           ELSE ROUND(ln(CAST(n_risk - d_t AS DOUBLE)
                             / n_risk), 9) END AS lnterm
               FROM rk WHERE d_t > 0),
        cm AS (SELECT t, n_risk, d_t, c_t,
                      SUM(CAST(lnterm AS DECIMAL(28,9))) OVER w AS lnsum,
                      MAX(CASE WHEN lnterm IS NULL THEN 1 ELSE 0 END)
                        OVER w AS dead
               FROM ev WINDOW w AS (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT t, n_risk, d_t, c_t,
               CASE WHEN dead = 1 THEN 0
                    ELSE CAST(ROUND(exp(CAST(lnsum AS DOUBLE)) * 1000000)
                      AS BIGINT) END AS surv_ppm
        FROM cm ORDER BY t""")),

    // ---- q222: analytic rank-function breadth on keyed windows ----
    // The remaining ANSI window rank family in one gate: rank /
    // dense_rank / percent_rank / cume_dist over a TIES-bearing
    // ordering (the $50k price bucket — tied rows must share values),
    // plus ntile(7) over the fully tie-broken ordering (ntile assigns
    // by ROW position, so determinism requires the unique order).
    // percent_rank/cume_dist are emitted as RAW doubles: both engines
    // compute the same integer-ratio division in IEEE doubles —
    // bit-identical with no rounding step at all.
    //
    // 100 TB posture: both windows partition on the customer key
    // (high-cardinality, hash-distributed, bounded partitions); the
    // custkey filter prunes at the scan.
    "q222_window_rank_funcs" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
          .filter(col("o_custkey") < 200)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100).cast(LongType).as("cents"))
          .withColumn("bucket", expr("cents div 5000000"))
        val wt = Window.partitionBy(col("o_custkey"))
          .orderBy(col("bucket"))
        val wu = Window.partitionBy(col("o_custkey"))
          .orderBy(col("cents"), col("o_orderkey"))
        o.select(col("o_orderkey"), col("o_custkey"),
            rank().over(wt).cast(LongType).as("rnk"),
            dense_rank().over(wt).cast(LongType).as("drnk"),
            percent_rank().over(wt).as("prnk"),
            cume_dist().over(wt).as("cdist"),
            ntile(7).over(wu).cast(LongType).as("tile"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      oracle = Some("""
        WITH o AS (SELECT o_orderkey, o_custkey,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders WHERE o_custkey < 200),
        b AS (SELECT o_orderkey, o_custkey, cents,
                     cents // 5000000 AS bucket FROM o)
        SELECT o_orderkey, o_custkey,
               rank() OVER wt AS rnk,
               dense_rank() OVER wt AS drnk,
               percent_rank() OVER wt AS prnk,
               cume_dist() OVER wt AS cdist,
               ntile(7) OVER wu AS tile
        FROM b
        WINDOW wt AS (PARTITION BY o_custkey ORDER BY bucket),
               wu AS (PARTITION BY o_custkey ORDER BY cents, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- q225: Z-order layout vs single-key sort (multi-dim pruning) ----
    // The data-layout question behind every "should we Z-ORDER this
    // table?" decision, measured exactly: map orders onto a 256×256
    // (price, date) grid, interleave the bits into a 16-bit Morton key,
    // cut 64 equal-width Z ranges, and report each range's min/max SPAN
    // in BOTH dimensions — next to the same spans under a plain
    // price-sorted layout. Z ranges bound price AND date simultaneously
    // (both spans small ⇒ a two-predicate scan prunes most ranges);
    // the price sort bounds price only (date span ≈ full width ⇒ date
    // predicates prune nothing). All integer: grid coords are
    // cross-multiplied divs against broadcast maxima, the interleave is
    // shift/mask arithmetic mirrored verbatim in both engines.
    //
    // 100 TB posture: two scans with keyed 64-ary aggs (shuffle = 128
    // summary rows); the Morton key is in-row integer math — this is
    // the audit you run BEFORE paying for the layout rewrite.
    "q225_zorder_layout" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          round(col("o_totalprice") * 100).cast(LongType).as("cents"),
          to_date(col("o_orderdate")).as("d"))
        val base = o.agg(max(col("cents")).as("maxc"),
          min(col("d")).as("mind"), max(col("d")).as("maxdte"))
        val g1 = o.crossJoin(broadcast(base))
          .withColumn("days", datediff(col("d"), col("mind")).cast(LongType))
          .withColumn("maxd",
            datediff(col("maxdte"), col("mind")).cast(LongType))
          .withColumn("px", expr("(cents * 256) div (maxc + 1)"))
          .withColumn("dy", expr("(days * 256) div (maxd + 1)"))
        val zStr = (0 until 8).map(k =>
          s"(shiftleft(shiftright(px, $k) & 1, ${2 * k})) | " +
            s"(shiftleft(shiftright(dy, $k) & 1, ${2 * k + 1}))")
          .mkString(" | ")
        val z = g1.withColumn("z", expr(zStr))
        val zb = z.groupBy(expr("z div 1024").as("bucket"))
          .agg(count(lit(1)).as("n"),
            (max(col("px")) - min(col("px"))).as("px_span"),
            (max(col("dy")) - min(col("dy"))).as("dy_span"))
          .withColumn("layout", lit("zorder"))
        val pb = z.groupBy(expr("px div 4").as("bucket"))
          .agg(count(lit(1)).as("n"),
            (max(col("px")) - min(col("px"))).as("px_span"),
            (max(col("dy")) - min(col("dy"))).as("dy_span"))
          .withColumn("layout", lit("pricesort"))
        zb.unionByName(pb)
          .select(col("layout"), col("bucket"), col("n"),
            col("px_span"), col("dy_span"))
          .orderBy(col("layout"), col("bucket"))
      },
      oracle = Some(s"""
        WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
                            AS cents,
                          CAST(o_orderdate AS DATE) AS d
                   FROM orders),
        base AS (SELECT MAX(cents) AS maxc, MIN(d) AS mind,
                        date_diff('day', MIN(d), MAX(d)) AS maxd FROM o),
        g1 AS (SELECT (cents * 256) // (maxc + 1) AS px,
                      (date_diff('day', mind, d) * 256) // (maxd + 1) AS dy
               FROM o CROSS JOIN base),
        z AS (SELECT px, dy,
                     ${(0 until 8).map(k =>
                       s"((((px >> $k) & 1) << ${2 * k})) | " +
                         s"((((dy >> $k) & 1) << ${2 * k + 1}))")
                       .mkString(" | ")} AS z
              FROM g1),
        zb AS (SELECT 'zorder' AS layout, z // 1024 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      MAX(px) - MIN(px) AS px_span,
                      MAX(dy) - MIN(dy) AS dy_span
               FROM z GROUP BY 2),
        pb AS (SELECT 'pricesort' AS layout, px // 4 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      MAX(px) - MIN(px) AS px_span,
                      MAX(dy) - MIN(dy) AS dy_span
               FROM z GROUP BY 2)
        SELECT layout, bucket, n, px_span, dy_span
        FROM (SELECT * FROM zb UNION ALL SELECT * FROM pb)
        ORDER BY layout, bucket""")),

    // ---- q242: Poisson bootstrap confidence intervals ----
    // THE distributed bootstrap (Chamandy et al., Google): classical
    // resampling needs B global samples-with-replacement — B full
    // shuffles; the Poisson bootstrap replaces each replicate's
    // multinomial with independent per-row Poisson(1) weights, so ALL
    // 32 replicates materialize in ONE pass as a map-side explode, and
    // the replicate means are keyed partial/final aggs. Weights are
    // md5-derived (engine-portable): a 48-bit uniform from
    // md5(orderkey_replicate) through the exact integer-threshold
    // inverse CDF of Poisson(1) — bit-identical in both engines, no
    // RNG state anywhere. Replicate means are integer cents (truncating
    // div); the CI bounds are the rank-2 / rank-31 replicate means
    // (≈95% for B = 32), reported per order priority next to the point
    // estimate.
    //
    // 100 TB posture: one scan, 32× map-side row expansion (no join,
    // no shuffle of raw rows beyond the keyed agg), |priorities|·32
    // replicate rows after the partial agg, then a 5-row rollup.
    "q242_poisson_bootstrap" -> QueryDef(
      build = (spark, dir) => {
        // floor(CDF_Poisson(1)(i) * 16^12), i = 0..6 — exact literals
        val t = Seq(103548857136060L, 207097714272121L, 258872142840152L,
          276130285696162L, 280444821410164L, 281307728552965L,
          281451546410098L)
        val thresholds = t.zipWithIndex.map { case (v, i) =>
          s"WHEN u < ${v}L THEN ${i}L"
        }.mkString(" ")
        val o = Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
        val rep2 = o
          .select(col("o_orderkey"), col("priority"), col("cents"),
            explode(expr("sequence(1, 32)")).as("b"))
          .withColumn("u", expr(
            "cast(conv(substring(md5(concat(o_orderkey, '_', b)), 1, 12), " +
              "16, 10) as long)"))
          .withColumn("w", expr(s"CASE $thresholds ELSE 7L END"))
        val means = rep2.groupBy(col("priority"), col("b"))
          .agg(sum(col("w") * col("cents")).as("ws"),
            sum(col("w")).as("wn"))
          .select(col("priority"), col("b"),
            expr("ws div wn").as("mean_cents"))
        val w = Window.partitionBy(col("priority"))
          .orderBy(col("mean_cents"), col("b"))
        val point = o.groupBy(col("priority"))
          .agg(count(lit(1)).as("n"),
            expr("sum(cents) div count(1)").as("mean_cents"))
        means.withColumn("rk", row_number().over(w))
          .groupBy(col("priority"))
          .agg(min(when(col("rk") === 2, col("mean_cents"))).as("boot_lo"),
            min(when(col("rk") === 31, col("mean_cents"))).as("boot_hi"))
          .join(point, Seq("priority"))
          .select(col("priority"), col("n"), col("mean_cents"),
            col("boot_lo"), col("boot_hi"))
          .orderBy(col("priority"))
      },
      oracle = Some("""
        WITH o AS (SELECT o_orderkey,
                          o_orderpriority AS priority,
                          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                   FROM orders),
        rep AS (SELECT o.*, b,
                       CAST(CONCAT('0x', substr(md5(
                         o_orderkey || '_' || b), 1, 12)) AS BIGINT) AS u
                FROM o, (SELECT unnest(generate_series(1, 32)) AS b)),
        wts AS (SELECT priority, cents, b,
                       CASE WHEN u < 103548857136060 THEN 0
                            WHEN u < 207097714272121 THEN 1
                            WHEN u < 258872142840152 THEN 2
                            WHEN u < 276130285696162 THEN 3
                            WHEN u < 280444821410164 THEN 4
                            WHEN u < 281307728552965 THEN 5
                            WHEN u < 281451546410098 THEN 6
                            ELSE 7 END AS w
                FROM rep),
        means AS (SELECT priority, b,
                         CAST(SUM(w * cents) AS BIGINT)
                           // CAST(SUM(w) AS BIGINT) AS mean_cents
                  FROM wts GROUP BY 1, 2),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY priority
                           ORDER BY mean_cents, b) AS rk
               FROM means),
        ci AS (SELECT priority,
                      MIN(CASE WHEN rk = 2 THEN mean_cents END) AS boot_lo,
                      MIN(CASE WHEN rk = 31 THEN mean_cents END) AS boot_hi
               FROM rk GROUP BY 1),
        pt AS (SELECT priority, COUNT(*) AS n,
                      CAST(SUM(cents) AS BIGINT) // COUNT(*) AS mean_cents
               FROM o GROUP BY 1)
        SELECT pt.priority, pt.n, pt.mean_cents, ci.boot_lo, ci.boot_hi
        FROM pt JOIN ci USING (priority) ORDER BY pt.priority""")),

    // ---- q328: Kaplan–Meier survival under right-censoring ----
    // The SURVIVAL-ANALYSIS member of the time-to-event family (q229
    // MASE forecasts, q238 Theil–Sen trends, q261 CUSUM change-points —
    // none handle CENSORING, the defining feature of duration data):
    // order-fulfillment time (order date → last line shipped), observed
    // through a fixed window ending 2000-01-01 — an order not complete
    // by the cutoff is right-censored at its observation span, exactly
    // the bias naive mean-duration readouts get wrong (they either drop
    // censored orders or count them as complete). The product-limit
    // estimator S(t) = Π_{s≤t}(1 − d_s/n_s) runs over 28-day buckets
    // with per-step floor quantization in ppm (S_t = S_{t−1}·(n_t−d_t)
    // div n_t — deterministic ordered recurrence, mirrored exactly);
    // risk sets are suffix sums over the bucket table. The oracle
    // replays the recurrence with a RECURSIVE CTE, so the hash match
    // certifies the estimator's defining recursion, not just a rollup.
    //
    // 100 TB posture: corpus-scale work is one order-keyed max-ship agg
    // + one bucket-keyed (d, c) agg; the KM fold runs on the collected
    // bucket table (66 rows measured — bounded by the duration support,
    // the BPE-merge-table precedent) and the report is a LocalTableScan.
    // Measured sf0.1: 111,977 orders at risk, 33% event rate, median
    // fulfillment crosses S < 0.5 at bucket 59 (~4.5 years) and the
    // curve ends at S = 0.456 with 28k+ still censored — the mass a
    // drop-the-censored mean would silently discard.
    "q328_kaplan_meier" -> QueryDef(
      build = (spark, dir) => {
        val done = Tables.lineitem(spark, dir)
          .groupBy(col("l_orderkey"))
          .agg(max(to_date(col("l_shipdate"))).as("done_d"))
        val steps = Tables.orders(spark, dir)
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
          .filter(col("od") < lit("2000-01-01").cast("date"))
          .join(done, col("o_orderkey") === col("l_orderkey"))
          // the synthetic ship dates are not constrained to follow the
          // order date; clamp those durations to 0 (immediate
          // completion) so event times are well-defined
          .select(greatest(datediff(col("done_d"), col("od"))
              .cast("long"), lit(0L)).as("dur"),
            datediff(lit("2000-01-01").cast("date"), col("od"))
              .cast("long").as("cens"))
          .select(expr("CASE WHEN dur <= cens THEN 1L ELSE 0L END")
              .as("ev"),
            expr("(CASE WHEN dur <= cens THEN dur ELSE cens END)" +
              " div 28").as("t"))
          .groupBy(col("t"))
          .agg(sum(col("ev")).as("d"),
            sum(lit(1L) - col("ev")).as("c"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        import spark.implicits._
        kmFold(steps)
          .toDF("t", "n_risk", "n_events", "n_censored", "s_ppm")
          .orderBy(col("t"))
      },
      oracle = Some("""
        WITH RECURSIVE done AS (
          SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS done_d
          FROM lineitem GROUP BY 1),
        base AS (
          SELECT GREATEST(date_diff('day', CAST(o.o_orderdate AS DATE),
                   d.done_d), 0) AS dur,
                 date_diff('day', CAST(o.o_orderdate AS DATE),
                   DATE '2000-01-01') AS cens
          FROM orders o JOIN done d ON d.l_orderkey = o.o_orderkey
          WHERE CAST(o.o_orderdate AS DATE) < DATE '2000-01-01'),
        agg AS (
          SELECT (CASE WHEN dur <= cens THEN dur ELSE cens END) // 28
                   AS t,
                 CAST(SUM(CASE WHEN dur <= cens THEN 1 ELSE 0 END)
                   AS BIGINT) AS d,
                 CAST(SUM(CASE WHEN dur <= cens THEN 0 ELSE 1 END)
                   AS BIGINT) AS c
          FROM base GROUP BY 1),
        steps AS MATERIALIZED (
          SELECT t, d, c,
                 CAST(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n_risk,
                 ROW_NUMBER() OVER (ORDER BY t) AS rn
          FROM agg),
        km AS (
          SELECT rn, t, n_risk, d, c,
                 (1000000 * (n_risk - d)) // n_risk AS s_ppm
          FROM steps WHERE rn = 1
          UNION ALL
          SELECT s.rn, s.t, s.n_risk, s.d, s.c,
                 (km.s_ppm * (s.n_risk - s.d)) // s.n_risk
          FROM km JOIN steps s ON s.rn = km.rn + 1)
        SELECT t, n_risk, CAST(d AS BIGINT) AS n_events,
               CAST(c AS BIGINT) AS n_censored,
               CAST(s_ppm AS BIGINT) AS s_ppm
        FROM km ORDER BY t""")),

    // ---- q330: exponential-smoothing forecast + holdout MASE ----
    // The TRAINED FORECASTER the evaluation family was missing (q229
    // scores a naive seasonal forecast with MASE; nothing yet LEARNS a
    // level): simple exponential smoothing with integer α = 1/8 —
    // s_t = s_{t−1} + (x_t − s_{t−1}) quot 8, TRUNCATING division on
    // BOTH engines (Scala Long `/` driver-side, DuckDB's `//` in the
    // oracle — both round toward zero; a flooring division would
    // diverge on negative deltas, measured 2 cents over the fit)
    // — fit on the first 280 weeks of weekly revenue cents,
    // held out on the rest. SES forecasts the trained level flat
    // across the horizon; the holdout card reports per-week actual /
    // forecast / absolute error plus MAE, the in-sample naive
    // one-step MAE (the MASE denominator, q229's convention) and
    // MASE in ppm. The oracle replays the recurrence with a RECURSIVE
    // CTE, so the hash certifies the fit itself, not just the eval.
    //
    // 100 TB posture: the one corpus-scale stage is the week-keyed
    // revenue agg; the fold runs on the collected 344-week series
    // (bounded by calendar, the BPE-merge-table precedent) and the
    // report is a LocalTableScan. Measured sf0.1: MASE = 0.719 — the
    // trained level beats the naive one-step benchmark on a 64-week
    // holdout, which is what earns a forecaster its keep.
    "q330_exp_smoothing" -> QueryDef(
      build = (spark, dir) => {
        val series = Tables.orders(spark, dir)
          .select(expr("datediff(CAST(o_orderdate AS DATE), " +
              "CAST('1995-01-01' AS DATE)) div 7").as("wk"),
            expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
          .groupBy(col("wk")).agg(sum(col("cents")).as("cents"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1)
        val (train, test) = series.partition(_._1 < 280L)
        var s = train.head._2
        train.tail.foreach { case (_, x) =>
          s = s + (x - s) / 8L
        }
        val naiveMae = train.zip(train.tail)
          .map { case ((_, a), (_, b)) => math.abs(b - a) }
          .sum / (train.length - 1)
        val errs = test.map { case (wk, x) => (wk, x, s, math.abs(x - s)) }
        val mae = errs.map(_._4).sum / errs.length
        val masePpm = mae * 1000000L / naiveMae
        import spark.implicits._
        errs.map { case (wk, x, f, e) =>
          (wk, x, f, e, mae, naiveMae, masePpm)
        }.toSeq
          .toDF("wk", "actual_cents", "forecast_cents", "abs_err",
            "mae", "naive_mae_insample", "mase_ppm")
          .orderBy(col("wk"))
      },
      oracle = Some(s"""
        WITH RECURSIVE series AS MATERIALIZED (
          $WeeklyCentsSql),
        train AS MATERIALIZED (
          SELECT wk, cents, ROW_NUMBER() OVER (ORDER BY wk) AS rn
          FROM series WHERE wk < 280),
        ses AS (
          SELECT rn, cents AS s FROM train WHERE rn = 1
          UNION ALL
          SELECT t.rn, ses.s + (t.cents - ses.s) // 8
          FROM ses JOIN train t ON t.rn = ses.rn + 1),
        level AS (SELECT s FROM ses
                  WHERE rn = (SELECT MAX(rn) FROM train)),
        naive AS (
          SELECT CAST(SUM(ABS(b.cents - a.cents)) AS BIGINT)
                   // (COUNT(*)) AS naive_mae
          FROM train a JOIN train b ON b.rn = a.rn + 1),
        errs AS (
          SELECT s.wk, s.cents AS actual_cents, l.s AS forecast_cents,
                 ABS(s.cents - l.s) AS abs_err
          FROM series s CROSS JOIN level l WHERE s.wk >= 280),
        summ AS (
          SELECT CAST(SUM(abs_err) AS BIGINT) // COUNT(*) AS mae
          FROM errs)
        SELECT e.wk, e.actual_cents, e.forecast_cents,
               CAST(e.abs_err AS BIGINT) AS abs_err,
               m.mae, n.naive_mae AS naive_mae_insample,
               m.mae * 1000000 // n.naive_mae AS mase_ppm
        FROM errs e CROSS JOIN summ m CROSS JOIN naive n
        ORDER BY e.wk""")),

    // ---- q331: Ljung–Box serial-correlation test (exact ρ_k) ----
    // The SECOND-ORDER member of the time-series family (q238 fits a
    // trend, q261 finds a level shift, q330 fits a level — none asks
    // "is there structure LEFT?"): lag-k autocorrelations of the
    // weekly revenue series computed EXACTLY as one integer rational —
    // n²-scaled centered cross-products G_k = n²·Σx_t x_{t+k} −
    // nS·Σ(x_t+x_{t+k}) + (n−k)·S² make ρ_k = G_k/G_0 with every n²
    // and mean term exact (no float mean, no variance pass), truncated
    // to signed ppm identically in BigInt (Scala `/`) and HUGEINT
    // (DuckDB `//` — both round toward zero, the q330 lesson). The
    // Ljung–Box portmanteau Q = n(n+2)·Σ_{k≤8} ρ_k²/(n−k) lands in
    // milli against the χ²₈ 95% literal 15507.
    //
    // 100 TB posture: the one corpus-scale stage is the week-keyed
    // revenue agg; lag products are joins on the 344-row collected
    // series (calendar-bounded driver arithmetic, the DP precedent);
    // report is a LocalTableScan.
    // Measured sf0.1: |ρ_k| ≤ 0.105 across lags 1–8, Q = 10.613 <
    // 15.507 — the synthetic weekly series is serially uncorrelated,
    // and the test says so instead of hallucinating seasonality.
    "q331_ljung_box" -> QueryDef(
      build = (spark, dir) => {
        val series = Tables.orders(spark, dir)
          .select(expr("datediff(CAST(o_orderdate AS DATE), " +
              "CAST('1995-01-01' AS DATE)) div 7").as("wk"),
            expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
          .groupBy(col("wk")).agg(sum(col("cents")).as("cents"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1)
        val byWk = series.toMap
        val n = BigInt(series.length)
        val s = series.map(t => BigInt(t._2)).sum
        def g(k: Int): BigInt = {
          // Pair by wk VALUE (b.wk = a.wk + k), exactly the oracle's
          // join — positional pairing over the sorted series agrees
          // only when every week between min and max is populated, and
          // a sparse series would silently change the statistic's
          // meaning (round-11 ADVICE). The S² term uses the measured
          // pair count nk (≡ n − k on a dense calendar) for the same
          // reason.
          val a = series.flatMap { case (wk, v) =>
            byWk.get(wk + k).map(v2 => (BigInt(v), BigInt(v2))) }
          val nk = BigInt(a.length)
          n * n * a.map { case (u, v) => u * v }.sum -
            n * s * a.map { case (u, v) => u + v }.sum +
            nk * s * s
        }
        val g0 = g(0)
        val rhos = (1 to 8).map(k => (k.toLong,
          (g(k) * 1000000 / g0).toLong))
        val qMilli = (n * (n + 2) * rhos.map { case (k, r) =>
          BigInt(r) * r / (n - BigInt(k))
        }.sum / BigInt(1000000000L)).toLong
        val reject = if (qMilli >= 15507L) 1L else 0L
        import spark.implicits._
        rhos.map { case (k, r) => (k, r, qMilli, reject) }
          .toDF("lag", "rho_ppm", "q_milli", "reject_h0")
          .orderBy(col("lag"))
      },
      oracle = Some(s"""
        WITH series AS MATERIALIZED (
          $WeeklyCentsSql),
        nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                      CAST(SUM(cents) AS HUGEINT) AS s
               FROM series),
        lags AS (SELECT CAST(unnest(range(0, 9)) AS BIGINT) AS k),
        cross_k AS (
          SELECT l.k,
                 CAST(SUM(CAST(a.cents AS HUGEINT) * b.cents)
                   AS HUGEINT) AS ak,
                 CAST(SUM(CAST(a.cents AS HUGEINT) + b.cents)
                   AS HUGEINT) AS bk,
                 CAST(COUNT(*) AS HUGEINT) AS nk
          FROM lags l
          JOIN series a ON TRUE
          JOIN series b ON b.wk = a.wk + l.k
          GROUP BY 1),
        gk AS (SELECT c.k,
                      nn.n * nn.n * c.ak - nn.n * nn.s * c.bk
                        + c.nk * nn.s * nn.s AS g
               FROM cross_k c CROSS JOIN nn),
        g0 AS (SELECT g FROM gk WHERE k = 0),
        rho AS (SELECT gk.k,
                       CAST(gk.g * 1000000 // g0.g AS BIGINT) AS rho_ppm
                FROM gk CROSS JOIN g0 WHERE gk.k >= 1),
        q AS (SELECT CAST(nn.n * (nn.n + 2) * SUM(
                       CAST(r.rho_ppm AS HUGEINT) * r.rho_ppm
                         // (nn.n - r.k))
                     // 1000000000 AS BIGINT) AS q_milli
              FROM rho r CROSS JOIN nn
              GROUP BY nn.n)
        SELECT r.k AS lag, r.rho_ppm, q.q_milli,
               CAST(CASE WHEN q.q_milli >= 15507 THEN 1 ELSE 0 END
                 AS BIGINT) AS reject_h0
        FROM rho r CROSS JOIN q ORDER BY r.k""")),

    // ---- q340: incremental view maintenance certificate ----
    // The warehouse trick every large deployment runs and few gate: a
    // materialized aggregate view is maintained by MERGING the delta
    // batch's partial aggregates into the stored state (delta-sized
    // work) instead of recomputing over the corpus. This gate runs
    // BOTH paths in one plan — base/delta split by an md5 coin
    // (~10% of orders are "the new batch"), view = per-priority
    // (n, sum_cents, max_cents) — and certifies merge ≡ recompute per
    // group per statistic, with the average DERIVED from merged sums
    // at read time in exact micro units (maintaining avg directly is
    // the classic IVM bug: averages don't merge, sums do; the card
    // encodes the correct discipline). COUNT/SUM/MAX merge for
    // insert-only deltas; distinct-count deliberately absent — it is
    // NOT algebraically mergeable without a sketch (that path is the
    // q221/q263 HLL register algebra).
    //
    // 100 TB posture: maintenance cost is ONE delta-sized partial agg
    // + a group-cardinality merge join — the entire point of IVM; the
    // recompute arm exists only as the certificate's reference.
    "q340_incremental_view" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          col("o_orderpriority").as("prio"),
          expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"),
          expr("CAST(conv(substring(md5(concat('q340#', " +
            "CAST(o_orderkey AS STRING))), 1, 12), 16, 10)" +
            " AS BIGINT) % 10").as("coin"))
        def view(df: DataFrame, sfx: String) = df.groupBy(col("prio"))
          .agg(count(lit(1)).as(s"n_$sfx"),
            sum(col("cents")).as(s"sum_$sfx"),
            max(col("cents")).as(s"max_$sfx"))
        val base = view(o.filter(col("coin") >= 1), "base")
        val delta = view(o.filter(col("coin") < 1), "delta")
        val merged = base.join(delta, Seq("prio"), "full_outer")
          .select(col("prio"),
            (coalesce(col("n_base"), lit(0L)) +
              coalesce(col("n_delta"), lit(0L))).as("n_merged"),
            (coalesce(col("sum_base"), lit(0L)) +
              coalesce(col("sum_delta"), lit(0L))).as("sum_merged"),
            greatest(coalesce(col("max_base"), lit(Long.MinValue)),
              coalesce(col("max_delta"), lit(Long.MinValue)))
              .as("max_merged"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            coalesce(col("sum_delta"), lit(0L)).as("sum_delta"))
        val full = view(o, "full")
        merged.join(full, Seq("prio"))
          .select(col("prio"), col("n_delta"), col("sum_delta"),
            col("n_merged"), col("sum_merged"), col("max_merged"),
            expr("sum_merged * 1000000 div n_merged").as("avg_micro"),
            expr("CAST(CASE WHEN n_merged = n_full" +
              " AND sum_merged = sum_full" +
              " AND max_merged = max_full THEN 1 ELSE 0 END AS BIGINT)")
              .as("merge_equals_recompute"))
          .orderBy(col("prio"))
      },
      oracle = Some("""
        WITH o AS MATERIALIZED (
          SELECT o_orderpriority AS prio,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                 CAST(('0x' || substr(
                   md5(concat('q340#', CAST(o_orderkey AS VARCHAR))),
                   1, 12)) AS BIGINT) % 10 AS coin
          FROM orders),
        vb AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_base,
                      CAST(SUM(cents) AS BIGINT) AS sum_base,
                      MAX(cents) AS max_base
               FROM o WHERE coin >= 1 GROUP BY 1),
        vd AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_delta,
                      CAST(SUM(cents) AS BIGINT) AS sum_delta,
                      MAX(cents) AS max_delta
               FROM o WHERE coin < 1 GROUP BY 1),
        vf AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_full,
                      CAST(SUM(cents) AS BIGINT) AS sum_full,
                      MAX(cents) AS max_full
               FROM o GROUP BY 1),
        m AS (SELECT COALESCE(vb.prio, vd.prio) AS prio,
                     COALESCE(n_base, 0) + COALESCE(n_delta, 0)
                       AS n_merged,
                     COALESCE(sum_base, 0) + COALESCE(sum_delta, 0)
                       AS sum_merged,
                     GREATEST(COALESCE(max_base, -9223372036854775808),
                       COALESCE(max_delta, -9223372036854775808))
                       AS max_merged,
                     COALESCE(n_delta, 0) AS n_delta,
                     COALESCE(sum_delta, 0) AS sum_delta
              FROM vb FULL OUTER JOIN vd USING (prio))
        SELECT m.prio, m.n_delta, m.sum_delta, m.n_merged,
               m.sum_merged, m.max_merged,
               m.sum_merged * 1000000 // m.n_merged AS avg_micro,
               CAST(CASE WHEN m.n_merged = vf.n_full
                 AND m.sum_merged = vf.sum_full
                 AND m.max_merged = vf.max_full THEN 1 ELSE 0 END
                 AS BIGINT) AS merge_equals_recompute
        FROM m JOIN vf USING (prio) ORDER BY m.prio"""))
  )

  /** q328's product-limit fold over the sorted (t, d, c) support:
    * suffix-sum risk sets, then S_t = S_{t−1}·(n_t−d_t) div n_t with
    * per-step floor quantization in ppm. Factored so
    * Round11PropertySpec can pin the estimator on a hand case against
    * the textbook rational values (the q289 lesson: a shared wrong
    * formula hash-matches; an independent pin does not). */
  private[queries] def kmFold(
      steps: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long, Long, Long)] = {
    val totals = steps.map(s => s._2 + s._3)
    val nRisk = totals.scanRight(0L)(_ + _).init
    var s = 1000000L
    steps.zip(nRisk).map { case ((t, d, c), nr) =>
      s = s * (nr - d) / nr
      (t, nr, d, c, s)
    }
  }

  /** q104's SQL — shared verbatim by both engines (ANSI recursive CTE). */
  private def recursiveChainSql(table: String): String = s"""
    WITH RECURSIVE nxt AS (
      SELECT o_custkey, o_orderkey,
             CAST(o_totalprice AS DECIMAL(28,2)) AS price,
             LEAD(o_orderkey) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS next_key,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn
      FROM $table WHERE o_custkey < 100),
    walk(o_custkey, o_orderkey, next_key, depth, cum) AS (
      SELECT o_custkey, o_orderkey, next_key, CAST(1 AS BIGINT), price
      FROM nxt WHERE rn = 1
      UNION ALL
      SELECT w.o_custkey, n.o_orderkey, n.next_key, w.depth + 1,
             CAST(w.cum + n.price AS DECIMAL(28,2))
      FROM walk w JOIN nxt n ON n.o_orderkey = w.next_key)
    SELECT o_custkey AS custkey, MAX(depth) AS chain_len,
           MAX_BY(o_orderkey, depth) AS last_orderkey,
           CAST(MAX_BY(cum, depth) AS DOUBLE) AS cum_spend
    FROM walk GROUP BY o_custkey ORDER BY custkey"""
}

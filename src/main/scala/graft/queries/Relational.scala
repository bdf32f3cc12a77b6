package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Det._

/** Relational query corpus (SURVEY.md §2.5): the reference itself runs only
  * `SELECT *` + three scalar functions (spark_job.py:156-164), so filters,
  * joins of every type, aggregations, grouping sets, windows, sorts and set
  * ops come from Spark SQL built-ins. Each entry is written DataFrame-first
  * so Catalyst does pushdown/pruning/join-selection; dimension joins that
  * stay small at any scale (region=5, nation=25 rows) are broadcast
  * explicitly, everything else is left to AQE.
  *
  * Every query is fully ordered and float-deterministic (see [[Det]]) so
  * the DuckDB oracle hash-matches.
  */
object Relational {

  private def ts(s: String) = lit(java.sql.Timestamp.valueOf(s + " 00:00:00"))

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q01: TPC-H Q1 style pricing summary: scan + filter + groupBy ----
    // Wide agg over the fact table; map-side partial aggregation keeps the
    // shuffle at |groups| * partitions rows regardless of input size.
    "q01_pricing_summary" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val disc  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        val charge = disc * (lit(1.0) + col("l_tax"))
        li.filter(col("l_shipdate") <= ts("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity"), 2).as("sum_qty"),
            dsum(col("l_extendedprice"), 2).as("sum_base_price"),
            dsum(disc, 4).as("sum_disc_price"),
            dsum(charge, 6).as("sum_charge"),
            davg(col("l_quantity"), 2).as("avg_qty"),
            davg(col("l_extendedprice"), 2).as("avg_price"),
            davg(col("l_discount"), 2).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
          ${sqlSum("l_quantity", 2)} AS sum_qty,
          ${sqlSum("l_extendedprice", 2)} AS sum_base_price,
          ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
          ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
          ${sqlAvg("l_quantity", 2)} AS avg_qty,
          ${sqlAvg("l_extendedprice", 2)} AS avg_price,
          ${sqlAvg("l_discount", 2)} AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      headline = true),

    // ---- q02: filter + narrow projection (pushdown/pruning showcase) ----
    // PushedFilters + 3-column ReadSchema at the scan; no shuffle until the
    // final order (driver-bounded by LIMIT via TakeOrderedAndProject).
    "q02_filter_project" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") >= ts("2000-01-01") &&
                  col("l_shipdate") < ts("2000-02-01") &&
                  col("l_quantity") >= 48.0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          // include l_quantity: (l_orderkey, l_linenumber) alone is not
          // unique in the synthetic lineitem, and a LIMIT across a tie
          // boundary would otherwise be engine-dependent
          .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
          .limit(200),
      oracle = Some("""
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2000-02-01 00:00:00'
          AND l_quantity >= 48.0
        ORDER BY l_orderkey, l_linenumber, l_quantity
        LIMIT 200""")),

    // ---- q03: TPC-H Q3 style: 3-way join + agg + top-k ----
    // customer filter cuts 1/5 before the join; AQE picks broadcast vs
    // shuffle by runtime size (at 100 TB customer is too big to broadcast —
    // no manual hint). Top-k is TakeOrderedAndProject, not a full sort.
    "q03_top_revenue_orders" -> QueryDef(
      build = (spark, dir) => {
        val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-01-01"))
        val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-01-01"))
        c.join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"),
                   date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
                   col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      oracle = Some(s"""
        SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10"""),
      headline = true),

    // ---- q04: EXISTS / left-semi join + agg (TPC-H Q4 shape) ----
    "q04_priority_semi_join" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
        val l = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 45.0)
          .select(col("l_orderkey"))
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),

    // ---- q05: TPC-H Q5 style: 6-table star join ----
    // region (5 rows) and nation (25 rows) are broadcast explicitly — they
    // are constant-size at ANY scale factor, so the hint is always right;
    // the fact-side joins shuffle on their keys and AQE handles skew.
    "q05_region_revenue" -> QueryDef(
      build = (spark, dir) => {
        val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
        val n = Tables.nation(spark, dir)
        val c = Tables.customer(spark, dir)
        val o = Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1998-01-01"))
        val l = Tables.lineitem(spark, dir)
        val s = Tables.supplier(spark, dir)
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("o_orderkey") === col("l_orderkey"))
          .join(s, col("l_suppkey") === col("s_suppkey") &&
                   col("s_nationkey") === col("c_nationkey"))
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      oracle = Some(s"""
        SELECT n_name,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
        FROM customer
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name"""),
      headline = true),

    // ---- q06: TPC-H Q6: tight filter + single global agg ----
    "q06_forecast_revenue" -> QueryDef(
      build = (spark, dir) =>
        Tables.lineitem(spark, dir)
          .filter(col("l_shipdate") >= ts("1996-01-01") &&
                  col("l_shipdate") < ts("1997-01-01") &&
                  col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                  col("l_quantity") < 24.0)
          .agg(dsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue")),
      oracle = Some(s"""
        SELECT ${sqlSum("l_extendedprice * l_discount", 4)} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24.0""")),

    // ---- q07: LEFT OUTER join preserving unmatched customers ----
    "q07_left_join_customer_orders" -> QueryDef(
      build = (spark, dir) => {
        val c = Tables.customer(spark, dir)
        val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
        c.join(o, col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg(
            count(col("o_orderkey")).as("open_orders"),
            coalesce(dsum(col("o_totalprice"), 2), lit(0.0)).as("open_total"))
          .orderBy(col("c_custkey"))
      },
      oracle = Some(s"""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey) AS open_orders,
               COALESCE(${sqlSum("o_totalprice", 2)}, 0.0) AS open_total
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'O'
        GROUP BY c_custkey, c_mktsegment
        ORDER BY c_custkey""")),

    // ---- q08: FULL OUTER join, null-side accounting ----
    "q08_full_outer_join" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 300000.0)
          .select(col("o_orderkey"))
        val l = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 49.0)
          .select(col("l_orderkey")).distinct()
        o.join(l, col("o_orderkey") === col("l_orderkey"), "full_outer")
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("o_orderkey")).as("n_orders"),
            count(col("l_orderkey")).as("n_lines"),
            sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("line_only"),
            sum(when(col("l_orderkey").isNull, 1).otherwise(0)).as("order_only"))
      },
      oracle = Some("""
        SELECT COUNT(*) AS n_rows,
               COUNT(o_orderkey) AS n_orders,
               COUNT(l_orderkey) AS n_lines,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS line_only,
               CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS order_only
        FROM (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0) o
        FULL OUTER JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                         WHERE l_quantity >= 49.0) l
          ON o_orderkey = l_orderkey""")),

    // ---- q09: NOT EXISTS / left-anti join ----
    "q09_anti_join_inactive" -> QueryDef(
      build = (spark, dir) => {
        val c = Tables.customer(spark, dir)
        val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_custkey"))
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"),
               davg(col("c_acctbal"), 2).as("avg_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      oracle = Some(s"""
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               ${sqlAvg("c_acctbal", 2)} AS avg_acctbal
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),

    // ---- q10: CROSS join (bounded dims only — never fact tables) ----
    "q10_cross_join_dims" -> QueryDef(
      build = (spark, dir) => {
        val r = Tables.region(spark, dir)
        val n = Tables.nation(spark, dir)
        r.crossJoin(n)
          .select(concat_ws("/", col("r_name"), col("n_name")).as("pair"))
          .agg(count(lit(1)).as("n_pairs"),
               min(col("pair")).as("first_pair"),
               max(col("pair")).as("last_pair"))
      },
      oracle = Some("""
        SELECT COUNT(*) AS n_pairs,
               MIN(r_name || '/' || n_name) AS first_pair,
               MAX(r_name || '/' || n_name) AS last_pair
        FROM region CROSS JOIN nation""")),

    // ---- q121: salted skew join, oracle-certified lossless ----
    // The manual skew path for when AQE can't help (streaming joins,
    // broadcast-ineligible build sides, skew known up front): each
    // big-side row gets a deterministic salt, the small side is
    // replicated `salts` times, and the join key becomes (key, salt) —
    // one hot orderkey spreads over `salts` reducers instead of parking
    // a 100 TB partition on one executor
    // (see [[graft.operators.SkewJoin.saltedJoin]]).
    //
    // Since round 6 the salt count is SIZED FROM THE DATA
    // ([[graft.operators.SkewJoin.autoSalts]]: one count-by-key agg,
    // salts = hottest key / even partition share, clamped) instead of a
    // guessed constant — uniform data degenerates to the plain join
    // (salts=1), real skew gets exactly the spread it needs.
    //
    // The oracle is the PLAIN join — the hash match is the certificate
    // that salting is a pure physical rewrite with zero semantic drift
    // (same rows, same aggregates, bit-identical decimals), the same
    // proof shape as q113/q117's losslessness gates.
    "q121_salted_join" -> QueryDef(
      build = (spark, dir) => {
        val big = Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        val small = Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        graft.operators.SkewJoin
          .autoSaltedJoin(big, small, Seq("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
              .as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      oracle = Some(s"""
        SELECT o_orderpriority, COUNT(*) AS n_items,
               ${Det.sqlSum("l_extendedprice * (1 - l_discount)", 4)} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q226: CSV round-trip with RFC-4180 quoting parity ----
    // The ingest format the reference never touches but every lakehouse
    // inherits: write a CSV whose `tricky` field embeds commas AND
    // double quotes, read it back with an explicit schema, and prove
    // Spark's parser and DuckDB's read the SAME bytes identically.
    // The load-bearing option is escape = '"': Spark's default escape
    // is backslash (its writer would emit "a\"b" where RFC/DuckDB
    // expect "a""b") — setting it makes both engines speak RFC-4180.
    // The Spark side round-trips through its own temp CSV; the oracle
    // parses the Verify-staged copy of the same rows (the q70/q47
    // materialized-input pattern) — identical rows, so agg equality =
    // parser equality. min/max on the ASCII-only field add an
    // order-sensitive probe beyond the sums.
    //
    // 100 TB posture: CSV scans split by line ranges exactly like the
    // JSON ingest path (S7); the explicit schema keeps type inference
    // off the hot path; the agg is one |langs| rollup.
    "q226_csv_roundtrip" -> QueryDef(
      build = (spark, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("q226_csv")
        try {
          csvRoundTripRows(spark, dir).coalesce(1).write.mode("overwrite")
            .option("header", "true").option("escape", "\"")
            .csv(tmp.toString)
          spark.read
            .schema("doc_id BIGINT, lang STRING, source STRING, " +
              "n_chars BIGINT, tricky STRING")
            .option("header", "true").option("escape", "\"")
            .csv(tmp.toString)
            .groupBy(col("lang"))
            .agg(count(lit(1)).as("n"),
              sum(col("n_chars")).as("chars"),
              sum(length(col("tricky"))).as("tricky_len"),
              min(col("tricky")).as("tricky_min"),
              max(col("tricky")).as("tricky_max"))
            .orderBy(col("lang"))
            .localCheckpoint() // so the temp dir can be deleted
        } finally graft.core.DirIO.deleteRecursively(tmp)
      },
      oracle = Some(s"""
        SELECT lang, COUNT(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS chars,
               CAST(SUM(length(tricky)) AS BIGINT) AS tricky_len,
               MIN(tricky) AS tricky_min, MAX(tricky) AS tricky_max
        FROM ${VerifyInputs.stagedCsv}
        GROUP BY lang ORDER BY lang"""))
  )

  /** The q226 CSV round-trip rows: documents metadata plus a field that
    * deliberately embeds the two characters CSV quoting exists for. */
  def csvRoundTripRows(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        concat(lit("v=\""), col("lang"), lit("\", n="), col("n_chars"))
          .as("tricky"))
}

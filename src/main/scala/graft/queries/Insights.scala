package graft.queries

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import Det._

/** Product/ops analytics depth: activity metrics (q134), trend fitting
  * (q135), entity resolution (q136), equi-depth binning (q137), and
  * forensic digit audits (q138). Each is the portable, shuffle-lean
  * form of a metric real dashboards and data-quality suites compute —
  * and each is fully DuckDB-replayable (engine-deterministic arithmetic
  * throughout: exact integer/decimal accumulation, double formulas with
  * mirrored expression trees, rounded once at the end).
  */
object Insights {

  /** The ×2-scaled midranks of `docs`' n_chars shared by q327 and q339:
    * `ranked` (v, t, r2) over the distinct values and `glob` (n, tie_t). */
  private def midRanks(docs: DataFrame): (DataFrame, DataFrame) = {
    val vals = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("t"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals
      .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
      .select(col("v"), col("t"),
        (lit(2L) * col("cum") + col("t") + 1L).as("r2"))
      .localCheckpoint(false)
    val glob = ranked.agg(sum(col("t")).as("n"),
      sum(expr("t * t * t - t")).as("tie_t"))
    (ranked, glob)
  }

  /** DuckDB mirror of [[midRanks]] over `documents`: `d`, `vals`,
    * `ranked` and `gg` (n, tie_t). */
  private val MidRankCtes: String = """WITH d AS MATERIALIZED (
          SELECT doc_id, source, n_chars FROM documents),
        vals AS MATERIALIZED (
          SELECT n_chars AS v, CAST(COUNT(*) AS BIGINT) AS t
          FROM d GROUP BY 1),
        ranked AS MATERIALIZED (
          SELECT v, t,
                 2 * COALESCE(SUM(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + t + 1 AS r2
          FROM vals),
        gg AS (SELECT CAST(SUM(t) AS BIGINT) AS n,
                       CAST(SUM(t * t * t - t) AS BIGINT) AS tie_t
                FROM ranked)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q134: trailing 7-day active users (DAU/WAU/stickiness) ----
    // The activity primitive behind every engagement dashboard. The
    // scalable form: COUNT(DISTINCT) over a sliding frame is
    // inexpressible as a window function without quadratic recount;
    // instead each (user, active-day) — already deduped, |user-days| ≪
    // |events| — CONTRIBUTES to the 7 trailing windows it belongs to,
    // and each window is one distinct-count over its contributions.
    // Trailing windows are defined for every day with ≥1 contribution
    // (including up to 6 days past the last event; DAU is 0 there).
    //
    // 100 TB posture: the event-scale stage is the (user, day) distinct
    // — a keyed partial agg; the explode is ×7 on the much smaller
    // user-day set; the final distinct-count shuffles (window-day, user)
    // pairs. No per-window rescan, no cross join against a calendar.
    "q134_rolling_active_users" -> QueryDef(
      build = (spark, dir) => {
        val ud = Tables.events(spark, dir)
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val wau = ud
          .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
            col("d"))
          .select(col("user_id"), date_add(col("d"), col("i")).as("wd"))
          .groupBy(col("wd"))
          .agg(countDistinct(col("user_id")).as("wau"))
        val dau = ud.groupBy(col("d").as("wd"))
          .agg(countDistinct(col("user_id")).as("dau"))
        wau.join(dau, Seq("wd"), "left")
          .withColumn("dau", coalesce(col("dau"), lit(0L)))
          .select(date_format(col("wd"), "yyyy-MM-dd").as("active_day"),
            col("dau"), col("wau"),
            round(col("dau").cast(DoubleType) / col("wau"), 6)
              .as("stickiness"))
          .orderBy(col("active_day"))
      },
      oracle = Some("""
        WITH ud AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        ex AS (
          SELECT user_id, d + CAST(t.i AS INTEGER) AS wd
          FROM ud CROSS JOIN (SELECT UNNEST(range(0, 7)) AS i) t),
        wau AS (SELECT wd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
                FROM ex GROUP BY wd),
        dau AS (SELECT d AS wd, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
                FROM ud GROUP BY d)
        SELECT strftime(w.wd, '%Y-%m-%d') AS active_day,
               COALESCE(dau.dau, 0) AS dau, w.wau,
               ROUND(CAST(COALESCE(dau.dau, 0) AS DOUBLE) / w.wau, 6)
                 AS stickiness
        FROM wau w LEFT JOIN dau ON w.wd = dau.wd
        ORDER BY active_day""")),

    // ---- q135: grouped OLS trend fit from mergeable sums ----
    // Per-priority least-squares fit of order value over time, computed
    // entirely from the six monoid sums (n, Σx, Σx², Σy, Σxy, Σy²) —
    // the form that (a) needs ONE partial→final aggregation pass, (b)
    // is incrementally maintainable (q131's merge applies verbatim),
    // and (c) is engine-portable: x is an integer day offset, the y
    // sums accumulate in exact DECIMAL, and the closed-form slope/
    // intercept/R² run as identical IEEE double expressions in both
    // engines, rounded once.
    "q135_grouped_ols_trend" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          col("o_orderpriority").as("priority"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("x"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("y"))
        val s = o.groupBy(col("priority")).agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y")).as("sy"),
          sum(col("y") * col("x").cast(DecimalType(18, 0))).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        val nD = col("n").cast(DoubleType)
        val sxD = col("sx").cast(DoubleType); val sxxD = col("sxx").cast(DoubleType)
        val syD = col("sy").cast(DoubleType); val sxyD = col("sxy").cast(DoubleType)
        val syyD = col("syy").cast(DoubleType)
        val num = nD * sxyD - sxD * syD
        val den = nD * sxxD - sxD * sxD
        s.select(col("priority"), col("n"),
            round(num / den, 6).as("slope"),
            round((syD - num / den * sxD) / nD, 6).as("intercept"),
            round(num * num / (den * (nD * syyD - syD * syD)), 6).as("r2"))
          .orderBy(col("priority"))
      },
      oracle = Some("""
        WITH s AS (
          SELECT o_orderpriority AS priority, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(x * x) AS sxx,
                 SUM(y) AS sy, SUM(y * CAST(x AS DECIMAL(18,0))) AS sxy,
                 SUM(y * y) AS syy
          FROM (SELECT o_orderpriority,
                       datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
                         AS x,
                       CAST(o_totalprice AS DECIMAL(18,2)) AS y
                FROM orders)
          GROUP BY o_orderpriority)
        SELECT priority, CAST(n AS BIGINT) AS n,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS slope,
               ROUND((CAST(sy AS DOUBLE)
                      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE), 6) AS intercept,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 AS r2
        FROM s ORDER BY priority""")),

    // ---- q136: entity resolution via deletion-neighborhood blocking ----
    // Sibling entity names at substitution distance ≤ 1 (= levenshtein
    // ≤ 1 among equal-length ids — the id-typo dedup case). The naive
    // half-split pigeonhole is LOSSLESS but useless on real id data:
    // every name here shares the constant "Customer#" prefix, so the
    // first-half block degenerates to all-pairs (measured: 349 s at
    // sf0.1). The Mor–Fraenkel deletion neighborhood fixes the shape:
    // block on (i, name-minus-char-i) — two names share a block iff
    // they agree everywhere EXCEPT position i, so the candidate set IS
    // the answer set (zero false candidates), each true pair appears in
    // exactly one block, and shared prefixes cost nothing. Unequal-
    // length names never collide (their deletion variants have
    // different lengths), matching the equal-length contract the oracle
    // carries explicitly.
    //
    // 100 TB posture: |name| block rows per entity, block populations
    // bounded by the alphabet at the varying position (≤10 here) — no
    // block ever concentrates; the brute-force oracle is the
    // losslessness certificate, the all-pairs form never runs in the
    // engine. SymSpell scales the same dictionary to k > 1.
    "q136_pigeonhole_fuzzy_match" -> QueryDef(
      build = (spark, dir) => {
        val c = Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_name"))
        val blocks = c.select(col("c_custkey"), col("c_name"),
          posexplode(expr("""transform(sequence(0, length(c_name) - 1),
            i -> concat(substring(c_name, 1, i),
                        substring(c_name, i + 2, length(c_name))))"""))
            .as(Seq("i", "blk")))
        val a = blocks.select(col("c_custkey").as("ka"), col("c_name").as("na"),
          col("i"), col("blk"))
        val b = blocks.select(col("c_custkey").as("kb"), col("c_name").as("nb"),
          col("i"), col("blk"))
        // distinct: a pair at distance 1 meets in exactly one block, but
        // IDENTICAL names (distance 0) share all |name| blocks and would
        // be counted |name| times while the all-pairs oracle counts them
        // once. The corpus's key-derived names are unique today; the
        // dedup makes the gate hold if a generator change drops that.
        val pairs = a.join(b, Seq("i", "blk"))
          .filter(col("ka") < col("kb"))
          .filter(levenshtein(col("na"), col("nb")) <= 1)
          .select(col("ka"), col("na"), col("kb"), col("nb")).distinct()
        pairs.select(col("ka").as("c_custkey"), col("na").as("c_name"),
            col("nb").as("other"))
          .unionAll(pairs.select(col("kb"), col("nb"), col("na")))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(count(lit(1)).as("n_matches"), min(col("other")).as("first_match"))
          .orderBy(col("c_custkey"))
      },
      oracle = Some("""
        WITH c AS (SELECT c_custkey, c_name FROM customer),
        p AS (
          SELECT a.c_custkey AS ka, a.c_name AS na,
                 b.c_custkey AS kb, b.c_name AS nb
          FROM c a JOIN c b ON a.c_custkey < b.c_custkey
          WHERE length(a.c_name) = length(b.c_name)
            AND levenshtein(a.c_name, b.c_name) <= 1),
        sym AS (
          SELECT ka AS c_custkey, na AS c_name, nb AS other FROM p
          UNION ALL
          SELECT kb, nb, na FROM p)
        SELECT c_custkey, c_name, CAST(COUNT(*) AS BIGINT) AS n_matches,
               MIN(other) AS first_match
        FROM sym GROUP BY c_custkey, c_name
        ORDER BY c_custkey""")),

    // ---- q137: equi-depth decile binning (NTILE parity) ----
    // Per-priority value deciles with per-bin stats — the feature-
    // binning / price-banding primitive. NTILE semantics (bucket sizes
    // differ by at most one, earlier buckets larger) are ANSI-specified
    // and engine-identical given a TOTAL order, so the window carries
    // the o_orderkey tie-break; sums accumulate in exact decimal.
    //
    // 100 TB posture: one entity-key shuffle + per-key sort; for
    // skew-proof binning over a bounded value domain the q116 histogram
    // form computes the same cutpoints without a global per-key sort.
    "q137_decile_binning" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables.orders(spark, dir)
          .withColumn("decile", ntile(10).over(w).cast("long"))
          .groupBy(col("o_orderpriority"), col("decile"))
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderpriority"), col("decile"))
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT o_orderpriority, o_totalprice,
                 NTILE(10) OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
        SELECT o_orderpriority, CAST(decile AS BIGINT) AS decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
               ${Det.sqlSum("o_totalprice", 2)} AS total
        FROM d GROUP BY o_orderpriority, decile
        ORDER BY o_orderpriority, decile""")),

    // ---- q138: Benford first-digit audit ----
    // The forensic data-quality screen: observed first-significant-
    // digit frequencies of order values vs the Benford expectation
    // n·log10(1 + 1/d), with per-digit χ² contributions. The digit is
    // extracted from the INTEGER cents string — log10-free, so no
    // engine's libm can misplace a power-of-ten boundary; the expected
    // counts and χ² terms are double formulas with mirrored expression
    // trees, rounded once. One partial→final agg over 9 groups.
    "q138_benford_audit" -> QueryDef(
      build = (spark, dir) => {
        val freq = Tables.orders(spark, dir)
          .select(substring(round(col("o_totalprice") * 100).cast(LongType)
            .cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
        val tot = freq.agg(sum(col("n_obs")).as("n_total"))
        val expRaw = col("n_total").cast(DoubleType) *
          log10(lit(1.0) + lit(1.0) / col("digit").cast(DoubleType))
        val obsD = col("n_obs").cast(DoubleType)
        freq.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"),
            round(expRaw, 4).as("expected"),
            round((obsD - expRaw) * (obsD - expRaw) / expRaw, 6)
              .as("chi2_term"))
          .orderBy(col("digit"))
      },
      oracle = Some("""
        WITH freq AS (
          SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                   AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                 COUNT(*) AS n_obs
          FROM orders GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM freq)
        SELECT digit, CAST(n_obs AS BIGINT) AS n_obs,
               ROUND(CAST(n_total AS DOUBLE)
                     * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4)
                 AS expected,
               ROUND((CAST(n_obs AS DOUBLE)
                      - CAST(n_total AS DOUBLE)
                        * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                     * (CAST(n_obs AS DOUBLE)
                        - CAST(n_total AS DOUBLE)
                          * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                     / (CAST(n_total AS DOUBLE)
                        * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 6)
                 AS chi2_term
        FROM freq CROSS JOIN tot
        ORDER BY digit""")),

    // ---- q144: χ² test of independence (event type × weekday) ----
    // The contingency-table screen behind "does behavior depend on the
    // day?": observed cell counts vs the independence expectation
    // row·col/N, with per-cell χ² contributions. All counts are exact
    // integers (weekday from ISO day-of-week so both engines agree on
    // Monday=0); expected/χ² are mirrored double formulas rounded once.
    // One partial→final agg over |types|·7 cells, row/col margins are
    // broadcast-sized.
    "q144_chi2_independence" -> QueryDef(
      build = (spark, dir) => {
        val cells = Tables.events(spark, dir)
          .select(col("event_type"), weekday(col("ts")).cast("long").as("dow"))
          .groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n_obs"))
        val rowT = cells.groupBy(col("event_type"))
          .agg(sum(col("n_obs")).as("rt"))
        val colT = cells.groupBy(col("dow")).agg(sum(col("n_obs")).as("ct"))
        val tot = cells.agg(sum(col("n_obs")).as("n_total"))
        val e = col("rt").cast(DoubleType) * col("ct").cast(DoubleType) /
          col("n_total").cast(DoubleType)
        val o = col("n_obs").cast(DoubleType)
        cells.join(rowT, "event_type").join(colT, "dow")
          .crossJoin(broadcast(tot))
          .select(col("event_type"), col("dow"), col("n_obs"),
            round(e, 4).as("expected"),
            round((o - e) * (o - e) / e, 6).as("chi2_term"))
          .orderBy(col("event_type"), col("dow"))
      },
      oracle = Some("""
        WITH cells AS (
          SELECT event_type, CAST(isodow(CAST(ts AS TIMESTAMP)) - 1 AS BIGINT)
                   AS dow,
                 COUNT(*) AS n_obs
          FROM events GROUP BY 1, 2),
        rt AS (SELECT event_type, SUM(n_obs) AS rt FROM cells GROUP BY 1),
        ct AS (SELECT dow, SUM(n_obs) AS ct FROM cells GROUP BY 1),
        tot AS (SELECT SUM(n_obs) AS n_total FROM cells)
        SELECT c.event_type, c.dow, CAST(c.n_obs AS BIGINT) AS n_obs,
               ROUND(CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                     / CAST(tot.n_total AS DOUBLE), 4) AS expected,
               ROUND((CAST(c.n_obs AS DOUBLE)
                      - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                        / CAST(tot.n_total AS DOUBLE))
                     * (CAST(c.n_obs AS DOUBLE)
                        - CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                          / CAST(tot.n_total AS DOUBLE))
                     / (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE)
                        / CAST(tot.n_total AS DOUBLE)), 6) AS chi2_term
        FROM cells c JOIN rt ON c.event_type = rt.event_type
                     JOIN ct ON c.dow = ct.dow
                     CROSS JOIN tot
        ORDER BY c.event_type, c.dow""")),

    // ---- q145: two-sample Kolmogorov–Smirnov in exact integers ----
    // Distribution drift detection (click values vs purchase values):
    // D = sup |F_A − F_B| over the pooled sample. The whole computation
    // is EXACT integer arithmetic — at each distinct value the ECDF gap
    // |cA·nB − cB·nA| is an integer, its max is an integer, and only
    // the final D = max/(nA·nB) touches doubles (one deterministic
    // division, rounded once). No FP comparison ever decides anything.
    //
    // 100 TB posture: ties collapse in the per-value partial agg first
    // (the q116 histogram move), so the ordered cumulative pass runs
    // over |distinct values| rows, not |events| — and for bounded value
    // domains that is histogram-sized. The unpartitioned window is the
    // demo form; the production form range-partitions the sorted values
    // and prefix-sums partition totals (two passes, no single-node
    // bottleneck).
    "q145_ks_two_sample" -> QueryDef(
      build = (spark, dir) => {
        val tagged = Tables.events(spark, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("value"),
            when(col("event_type") === "click", 1L).otherwise(0L).as("a"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("b"))
          .groupBy(col("value"))
          .agg(sum(col("a")).as("ca"), sum(col("b")).as("cb"))
        val w = Window.orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = tagged
          .withColumn("cuma", sum(col("ca")).over(w))
          .withColumn("cumb", sum(col("cb")).over(w))
        val tot = tagged.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
        cum.crossJoin(broadcast(tot))
          .select(col("value"), col("na"), col("nb"),
            abs(col("cuma") * col("nb") - col("cumb") * col("na"))
              .as("gap_num"))
          .orderBy(col("gap_num").desc, col("value"))
          .limit(1)
          .select(col("na"), col("nb"), col("gap_num"),
            round(col("gap_num").cast(DoubleType) /
              (col("na") * col("nb")).cast(DoubleType), 9).as("d_stat"),
            col("value").as("at_value"))
      },
      oracle = Some("""
        WITH tagged AS (
          SELECT value,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS ca,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS cb
          FROM events WHERE event_type IN ('click', 'purchase')
          GROUP BY value),
        cum AS (
          SELECT value,
                 SUM(ca) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cuma,
                 SUM(cb) OVER (ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumb
          FROM tagged),
        tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM tagged)
        SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
               CAST(abs(cuma * nb - cumb * na) AS BIGINT) AS gap_num,
               ROUND(CAST(abs(cuma * nb - cumb * na) AS DOUBLE)
                     / CAST(na * nb AS DOUBLE), 9) AS d_stat,
               value AS at_value
        FROM cum CROSS JOIN tot
        ORDER BY gap_num DESC, value LIMIT 1""")),

    // ---- q146: weighted median (exact, integer threshold test) ----
    // Per-returnflag quantity-weighted median price — the "median
    // dollar" (which price level splits the SHIPPED VOLUME in half),
    // not the median row. Definition: smallest value whose cumulative
    // weight reaches half the total, decided by the INTEGER test
    // 2·cumw ≥ W — no FP division anywhere. One entity-key window +
    // a min-over-qualifying-rows agg; ties in the value collapse
    // harmlessly (consecutive identical values pass or fail together).
    "q146_weighted_median" -> QueryDef(
      build = (spark, dir) => {
        val li = Tables.lineitem(spark, dir).select(
          col("l_returnflag").as("flag"),
          col("l_extendedprice").as("price"),
          round(col("l_quantity")).cast(LongType).as("w"))
        val win = Window.partitionBy(col("flag"))
          .orderBy(col("price"), col("w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        li.withColumn("cumw", sum(col("w")).over(win))
          .withColumn("wtot", sum(col("w"))
            .over(Window.partitionBy(col("flag"))))
          .filter(lit(2L) * col("cumw") >= col("wtot"))
          .groupBy(col("flag"))
          .agg(min(col("price")).as("weighted_median"),
            min(col("wtot")).as("total_weight"))
          .orderBy(col("flag"))
      },
      oracle = Some("""
        WITH li AS (
          SELECT l_returnflag AS flag, l_extendedprice AS price,
                 CAST(round(l_quantity) AS BIGINT) AS w
          FROM lineitem),
        cum AS (
          SELECT flag, price,
                 SUM(w) OVER (PARTITION BY flag ORDER BY price, w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumw,
                 SUM(w) OVER (PARTITION BY flag) AS wtot
          FROM li)
        SELECT flag, MIN(price) AS weighted_median,
               CAST(MIN(wtot) AS BIGINT) AS total_weight
        FROM cum WHERE 2 * cumw >= wtot
        GROUP BY flag ORDER BY flag""")),

    // ---- q147: Gini coefficient (exact integer numerator) ----
    // Revenue-concentration inequality per priority, from the rank
    // formulation G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over ascending
    // values: with x in integer CENTS both numerator and denominator
    // are exact integers (ties contribute identically under any
    // within-tie order, so the arbitrary tie-break cannot change the
    // sum), and only the final ratio touches doubles — rounded once.
    // One entity-key window + one agg; the rank never leaves its
    // partition.
    "q147_gini_concentration" -> QueryDef(
      build = (spark, dir) => {
        val o = Tables.orders(spark, dir).select(
          col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast(LongType).as("cents"),
          col("o_orderkey"))
        val rk = Window.partitionBy(col("priority"))
          .orderBy(col("cents"), col("o_orderkey"))
        o.withColumn("i", row_number().over(rk).cast(LongType))
          .groupBy(col("priority"))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sx"),
            sum(col("i") * col("cents")).as("six"))
          .select(col("priority"), col("n"),
            col("sx").as("total_cents"),
            round((lit(2L) * col("six") - (col("n") + 1L) * col("sx"))
              .cast(DoubleType) /
              (col("n") * col("sx")).cast(DoubleType), 9).as("gini"))
          .orderBy(col("priority"))
      },
      oracle = Some("""
        WITH o AS (
          SELECT o_orderpriority AS priority,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 o_orderkey
          FROM orders),
        r AS (
          SELECT priority, cents,
                 CAST(ROW_NUMBER() OVER (PARTITION BY priority
                   ORDER BY cents, o_orderkey) AS BIGINT) AS i
          FROM o),
        s AS (
          SELECT priority, COUNT(*) AS n, SUM(cents) AS sx,
                 SUM(i * cents) AS six
          FROM r GROUP BY priority)
        SELECT priority, CAST(n AS BIGINT) AS n,
               CAST(sx AS BIGINT) AS total_cents,
               ROUND(CAST(2 * six - (n + 1) * sx AS DOUBLE)
                     / CAST(n * sx AS DOUBLE), 9) AS gini
        FROM s ORDER BY priority""")),

    // ---- q182: tie-aware Spearman rank correlation per source ----
    // Monotone association between document length (chars) and token
    // count per source — the robust correlation real data-quality
    // dashboards use (Pearson is ruined by heavy tails; ranks are
    // not). Tie-aware form = Pearson over AVERAGE ranks; to keep every
    // intermediate exact we carry 2·avgrank, an integer: for a tie
    // group of size c starting at min-rank a, avgrank = a + (c−1)/2 ⇒
    // 2·avgrank = 2a + c − 1. All five sums are exact integers; one
    // mirrored double formula, rounded once at 6 dp, at the very end.
    //
    // 100 TB posture: two windows per variable keyed on (source[, x]) —
    // the same per-entity-key shuffles as every ranking op here; the
    // final agg is |sources|-cardinality. Long sums hold to ~1e6 rows
    // per source (4n³ < 2⁶³); production would lift the products to
    // decimal(38,0), noted here rather than paid at this SF.
    "q182_spearman_corr" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.documents(spark, dir)
          .select(col("source"), col("n_chars").cast(LongType).as("x"),
            size(split(trim(col("text")), " ")).cast(LongType).as("y"))
        val r = d
          .withColumn("rx", lit(2) * rank().over(
              Window.partitionBy(col("source")).orderBy(col("x"))) +
            count(lit(1)).over(
              Window.partitionBy(col("source"), col("x"))) - 1)
          .withColumn("ry", lit(2) * rank().over(
              Window.partitionBy(col("source")).orderBy(col("y"))) +
            count(lit(1)).over(
              Window.partitionBy(col("source"), col("y"))) - 1)
        r.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
            sum(col("rx") * col("rx")).as("sxx"),
            sum(col("ry") * col("ry")).as("syy"),
            sum(col("rx") * col("ry")).as("sxy"))
          .select(col("source"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType) *
                (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)),
              6).as("rho"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS y
                   FROM documents),
        r AS (SELECT source,
                     2 * RANK() OVER (PARTITION BY source ORDER BY x)
                       + COUNT(*) OVER (PARTITION BY source, x) - 1 AS rx,
                     2 * RANK() OVER (PARTITION BY source ORDER BY y)
                       + COUNT(*) OVER (PARTITION BY source, y) - 1 AS ry
              FROM d),
        a AS (SELECT source, COUNT(*) AS n,
                     CAST(SUM(rx) AS BIGINT) AS sx,
                     CAST(SUM(ry) AS BIGINT) AS sy,
                     CAST(SUM(rx * rx) AS BIGINT) AS sxx,
                     CAST(SUM(ry * ry) AS BIGINT) AS syy,
                     CAST(SUM(rx * ry) AS BIGINT) AS sxy
              FROM r GROUP BY source)
        SELECT source, n,
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
        FROM a ORDER BY source""")),

    // ---- q183: k-anonymity audit over a quasi-identifier ----
    // The privacy-governance dual of q64's PII scrub: before a table
    // ships, measure how re-identifiable its quasi-identifier
    // combinations are. QI = (nation, market segment, 1000-unit balance
    // band — floor of a deterministic IEEE division, identical in both
    // engines); for each k ∈ {2, 5, 10} report how many QI groups fall
    // below k members and what fraction of ROWS that exposes (integer
    // ppm). A group of size < k means any one of its rows narrows to
    // fewer than k candidates under linkage attack — the k-anonymity
    // failure condition.
    //
    // 100 TB posture: one hash-partition agg on the QI key builds the
    // group-size table (|groups| ≪ |rows|); the k thresholds are a
    // 3-row broadcast; everything after runs at group cardinality.
    "q183_k_anonymity" -> QueryDef(
      build = (spark, dir) => {
        val g = Tables.customer(spark, dir)
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).as("bal_band"))
          .agg(count(lit(1)).as("cnt"))
        val tot = g.agg(sum(col("cnt")).as("ntot"))
        val ks = spark.range(1)
          .select(explode(array(lit(2L), lit(5L), lit(10L))).as("k"))
        g.crossJoin(broadcast(ks))
          .groupBy(col("k"))
          .agg(count(when(col("cnt") < col("k"), 1)).as("groups_at_risk"),
            coalesce(sum(when(col("cnt") < col("k"), col("cnt"))), lit(0L))
              .as("rows_at_risk"))
          .crossJoin(broadcast(tot))
          .select(col("k"), col("groups_at_risk"), col("rows_at_risk"),
            expr("(rows_at_risk * 1000000) div ntot").as("risk_ppm"))
          .orderBy(col("k"))
      },
      oracle = Some("""
        WITH g AS (SELECT c_nationkey, c_mktsegment,
                          FLOOR(c_acctbal / 1000) AS bal_band,
                          COUNT(*) AS cnt
                   FROM customer GROUP BY 1, 2, 3),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS ntot FROM g),
        ks AS (SELECT CAST(k AS BIGINT) AS k
               FROM (VALUES (2), (5), (10)) t(k)),
        a AS (SELECT k,
                     COUNT(CASE WHEN cnt < k THEN 1 END) AS groups_at_risk,
                     CAST(COALESCE(SUM(CASE WHEN cnt < k THEN cnt END), 0)
                       AS BIGINT) AS rows_at_risk
              FROM g CROSS JOIN ks GROUP BY k)
        SELECT k, groups_at_risk, rows_at_risk,
               (rows_at_risk * 1000000) // ntot AS risk_ppm
        FROM a CROSS JOIN tot ORDER BY k""")),

    // ---- q185: time-weighted average (step-function hold) ----
    // The TWAP primitive behind billing meters, price feeds and
    // telemetry gauges: each observation holds until the next one, so
    // the mean weights every value by its HOLD DURATION, not its sample
    // count (a sensor that reports once an hour then bursts 100× in a
    // minute must not let the burst dominate). Exact arithmetic end to
    // end: durations in integer µs from the lead() successor (full
    // (ts, event_id) tie-break — without it, equal timestamps would
    // make interval pairing engine-dependent), values as integer cents,
    // Σ(cents·Δµs) div Σ(Δµs) one integer division. Long-safe at this
    // span: Σ(cents·Δ) ≤ max_cents · total_span ≈ 1e5 · 2.6e12 < 2⁶³.
    //
    // 100 TB posture: one event-type-keyed window shuffle + the
    // |types|-cardinality agg; production time-partitions the window
    // and stitches the one boundary row per partition (the q145 note's
    // range-partition recipe).
    "q185_time_weighted_avg" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 100).cast(LongType).as("cents"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("us"), col("event_id"))
        e.withColumn("nxt", lead(col("us"), 1).over(w))
          .filter(col("nxt").isNotNull)
          .withColumn("dur", col("nxt") - col("us"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("dur")).as("span_us"),
            sum(col("dur") * col("cents")).as("wsum"))
          .select(col("event_type"), col("n_intervals"), col("span_us"),
            expr("wsum div span_us").as("twap_cents"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH e AS (SELECT event_type, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        i AS (SELECT event_type, us, cents,
                     lead(us) OVER (PARTITION BY event_type
                       ORDER BY us, event_id) AS nxt
              FROM e),
        g AS (SELECT event_type, COUNT(*) AS n_intervals,
                     CAST(SUM(nxt - us) AS BIGINT) AS span_us,
                     CAST(SUM((nxt - us) * cents) AS BIGINT) AS wsum
              FROM i WHERE nxt IS NOT NULL GROUP BY event_type)
        SELECT event_type, n_intervals, span_us,
               wsum // span_us AS twap_cents
        FROM g ORDER BY event_type""")),

    // ---- q186: next-event transition matrix (first-order Markov) ----
    // The user-journey transition structure: per user, each event's
    // successor type (full (µs, event_id) tie-break), counted into a
    // |types|² matrix with integer-ppm row-conditional probabilities —
    // P(next | current) is what journey dashboards, anomaly detectors
    // and session simulators consume. Complements q132 (pattern match)
    // and q172 (gap sizes): this is WHERE journeys go, not when.
    //
    // 100 TB posture: one user-keyed window shuffle at event scale;
    // the matrix itself is |types|² rows, so the row-total window and
    // ppm division run at matrix cardinality.
    "q186_transition_matrix" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val m = e.withColumn("to_type", lead(col("event_type"), 1).over(w))
          .filter(col("to_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
        m.withColumn("row_total",
            sum(col("n")).over(Window.partitionBy(col("from_type"))))
          .select(col("from_type"), col("to_type"), col("n"),
            expr("(n * 1000000) div row_total").as("p_ppm"))
          .orderBy(col("from_type"), col("to_type"))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id, event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events),
        s AS (SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY us, event_id) AS to_type
              FROM e),
        m AS (SELECT from_type, to_type, COUNT(*) AS n
              FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT from_type, to_type, n,
                     CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                       AS row_total
              FROM m)
        SELECT from_type, to_type, n,
               (n * 1000000) // row_total AS p_ppm
        FROM t ORDER BY from_type, to_type""")),

    // ---- q194: 3-sigma control chart on daily volumes, integer-exact ----
    // The SPC primitive behind volume-anomaly alerting ("did any day's
    // event count breach the 3σ band?") with ZERO floating point: the
    // flag condition |n_d − μ| > 3σ cross-multiplies to
    // (D·n_d − S)² > 9·(D·Σn² − S²) — every term an exact integer
    // (D days, S = Σn, population variance), so engines can never
    // disagree at a boundary. Per stream: days observed, total volume,
    // breach count, and the worst day (max squared deviation, date
    // tie-break — an integer argmax).
    //
    // 100 TB posture: the event-scale stage is the (type, day) count —
    // one keyed partial agg; the control-limit join, flagging, and
    // argmax window all run at |types|·|days| rows.
    "q194_control_chart" -> QueryDef(
      build = (spark, dir) => {
        val d = Tables.events(spark, dir)
          .select(col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"))
        val t = d.groupBy(col("event_type"))
          .agg(count(lit(1)).as("dd"), sum(col("n")).as("s"),
            sum(col("n") * col("n")).as("ss"))
        val j = d.join(t, "event_type")
          .withColumn("dev2",
            (col("dd") * col("n") - col("s")) *
              (col("dd") * col("n") - col("s")))
          .withColumn("flag",
            col("dev2") > lit(9L) * (col("dd") * col("ss") - col("s") * col("s")))
        j.withColumn("rn", row_number().over(
            Window.partitionBy(col("event_type"))
              .orderBy(col("dev2").desc, col("day"))))
          .groupBy(col("event_type"))
          .agg(max(col("dd")).as("n_days"), max(col("s")).as("total_events"),
            count(when(col("flag"), 1)).as("n_breaches"),
            max(when(col("rn") === 1, col("day"))).as("worst_day"),
            max(when(col("rn") === 1, col("dev2"))).as("worst_dev2"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH d AS (SELECT event_type,
                          strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                          COUNT(*) AS n
                   FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, COUNT(*) AS dd,
                     CAST(SUM(n) AS BIGINT) AS s,
                     CAST(SUM(n * n) AS BIGINT) AS ss
              FROM d GROUP BY event_type),
        j AS (SELECT d.event_type, d.day, t.dd, t.s, t.ss,
                     (t.dd * d.n - t.s) * (t.dd * d.n - t.s) AS dev2
              FROM d JOIN t ON t.event_type = d.event_type),
        r AS (SELECT *,
                     dev2 > 9 * (dd * ss - s * s) AS flag,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY dev2 DESC, day) AS rn
              FROM j)
        SELECT event_type, MAX(dd) AS n_days, MAX(s) AS total_events,
               COUNT(CASE WHEN flag THEN 1 END) AS n_breaches,
               MAX(CASE WHEN rn = 1 THEN day END) AS worst_day,
               CAST(MAX(CASE WHEN rn = 1 THEN dev2 END) AS BIGINT)
                 AS worst_dev2
        FROM r GROUP BY event_type ORDER BY event_type""")),

    // ---- q270: first-two-digits Benford drill-down (Nigrini MAD) ----
    // The statistic forensic auditors actually run (Nigrini's FTD test,
    // the screen q138's global first-digit χ² cannot replace): the
    // FIRST-TWO-DIGITS distribution (90 bins — sensitive to rounded/
    // invented amounts that first digits smear over), computed PER
    // SEGMENT (order priority — the drill-down that localizes which
    // slice of the book deviates), scored by Nigrini's Mean Absolute
    // Deviation with his published two-digit conformity bands (close ≤
    // 0.0012, acceptable ≤ 0.0018, marginal ≤ 0.0022 — in ppm: 1200/
    // 1800/2200). Expected shares are integer ppm LITERALS computed
    // once driver-side and embedded verbatim in BOTH engines' plans
    // (the q162 discipline: no query-time libm anywhere); digit
    // extraction is leading-characters string arithmetic on the exact
    // cents integer; every bin 10–99 is present per segment (grid +
    // coalesce 0), so absent bins penalize MAD exactly as Nigrini
    // specifies. Everything after the one keyed count is integer-exact.
    //
    // 100 TB posture: ONE (segment, dd) partial/final count over the
    // scan; the grid is |segments|·90 rows built from the broadcast-
    // sized totals table; MAD/argmax run per-segment on 90-row groups.
    "q270_benford_two_digit" -> QueryDef(
      build = (spark, dir) => {
        val arr = array(benford2Ppm.map(lit): _*)
        val o = Tables.orders(spark, dir)
          .select(col("o_orderpriority").as("seg"),
            substring(round(col("o_totalprice") * 100).cast(LongType)
              .cast("string"), 1, 2).cast("long").as("dd"))
        val cnt = o.groupBy(col("seg"), col("dd"))
          .agg(count(lit(1)).as("n"))
        val grid = o.groupBy(col("seg"))
          .agg(count(lit(1)).as("n_orders"))
          .select(col("seg"), col("n_orders"),
            explode(expr("sequence(10L, 99L)")).as("dd"))
        val dev = grid.join(cnt, Seq("seg", "dd"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .withColumn("share_ppm", expr("n * 1000000 div n_orders"))
          .withColumn("dev",
            col("share_ppm") - element_at(arr, (col("dd") - 9).cast("int")))
        val w = Window.partitionBy(col("seg"))
          .orderBy(abs(col("dev")).desc, col("dd"))
        dev.withColumn("rn", row_number().over(w))
          .groupBy(col("seg"))
          .agg(max(col("n_orders")).as("n_orders"),
            expr("sum(abs(dev)) div 90").as("mad_ppm"),
            max(when(col("rn") === 1, col("dd"))).as("worst_dd"),
            max(when(col("rn") === 1, col("dev"))).as("worst_dev_ppm"))
          .withColumn("conformity",
            when(col("mad_ppm") <= 1200L, "close")
              .when(col("mad_ppm") <= 1800L, "acceptable")
              .when(col("mad_ppm") <= 2200L, "marginal")
              .otherwise("nonconforming"))
          .orderBy(col("seg"))
      },
      oracle = Some(s"""
        WITH o AS (SELECT o_orderpriority AS seg,
                          CAST(substr(CAST(CAST(ROUND(o_totalprice * 100)
                            AS BIGINT) AS VARCHAR), 1, 2) AS BIGINT) AS dd
                   FROM orders),
        cnt AS (SELECT seg, dd, CAST(COUNT(*) AS BIGINT) AS n
                FROM o GROUP BY 1, 2),
        grid AS (SELECT seg, n_orders,
                        CAST(unnest(range(10, 100)) AS BIGINT) AS dd
                 FROM (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_orders
                       FROM o GROUP BY 1)),
        dev AS (SELECT g.seg, g.n_orders, g.dd,
                       COALESCE(c.n, 0) * 1000000 // g.n_orders
                         - ([${benford2Ppm.mkString(", ")}])
                             [CAST(g.dd - 9 AS INT)] AS dev
                FROM grid g LEFT JOIN cnt c
                  ON c.seg = g.seg AND c.dd = g.dd),
        rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                 ORDER BY ABS(dev) DESC, dd) AS rn FROM dev)
        SELECT seg, MAX(n_orders) AS n_orders,
               CAST(SUM(ABS(dev)) AS BIGINT) // 90 AS mad_ppm,
               MAX(CASE WHEN rn = 1 THEN dd END) AS worst_dd,
               MAX(CASE WHEN rn = 1 THEN dev END) AS worst_dev_ppm,
               CASE WHEN CAST(SUM(ABS(dev)) AS BIGINT) // 90 <= 1200
                      THEN 'close'
                    WHEN CAST(SUM(ABS(dev)) AS BIGINT) // 90 <= 1800
                      THEN 'acceptable'
                    WHEN CAST(SUM(ABS(dev)) AS BIGINT) // 90 <= 2200
                      THEN 'marginal'
                    ELSE 'nonconforming' END AS conformity
        FROM rk GROUP BY seg ORDER BY seg""")),

    // ---- q283: l-diversity + t-closeness release audit ----
    // The two privacy screens that catch what k-anonymity (q183) cannot:
    // a QI group can hold k rows and still leak if every row shares ONE
    // sensitive value (homogeneity attack — l-diversity, Machanavajjhala
    // '07) or if its sensitive DISTRIBUTION pins members far from the
    // population (skewness attack — t-closeness, Li '07). QI =
    // (nation, market segment); sensitive = the ORDERED 1000-unit
    // balance band. l-diversity = distinct bands per group; t-closeness
    // = exact Earth Mover's Distance between the group's band
    // distribution and the global one — for an ordered domain EMD is
    // the mean |cumulative-share difference|, computed in EXACT common-
    // denominator integers: D_k = Σ_{v≤k}(c_gv·n_tot − c_v·n_g), emd =
    // Σ|D_k| / ((m−1)·n_g·n_tot), products in DECIMAL(38,0)/HUGEINT so
    // corpus-scale counts can't wrap (the q258/q267 overflow lesson).
    // Release verdict: l ≥ 3 AND emd ≤ 0.2 (200000 ppm) — the
    // literature's usual screening pair, published beside the evidence.
    //
    // 100 TB posture: ONE (QI, band) partial/final count over the scan;
    // the cell table (|QI|·|bands| rows) is checkpoint-cut and every
    // later pass — group moments, global marginal, grid, cumsum — runs
    // at that model cardinality; the band marginal and totals ride
    // broadcasts.
    "q283_privacy_closeness" -> QueryDef(
      build = (spark, dir) => {
        val cell = Tables.customer(spark, dir)
          .groupBy(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast(LongType).as("band"))
          .agg(count(lit(1)).as("cnt"))
          // |QI|·|bands| rows feed three consumers — cut the corpus
          // lineage so the scan+count runs once (the q281 discipline)
          .localCheckpoint(false)
        val grp = cell.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(sum(col("cnt")).as("n_g"),
            countDistinct(col("band")).as("l_distinct"))
        val gl = cell.groupBy(col("band")).agg(sum(col("cnt")).as("c_v"))
        val tot = gl.agg(sum(col("c_v")).as("n_tot"),
          count(lit(1)).as("m"))
        val grid = grp.crossJoin(broadcast(gl))
          .join(cell.select(col("c_nationkey"), col("c_mktsegment"),
            col("band"), col("cnt").as("c_gv")),
            Seq("c_nationkey", "c_mktsegment", "band"), "left")
          .withColumn("c_gv", coalesce(col("c_gv"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("d", expr(
            "CAST(c_gv AS DECIMAL(38,0)) * n_tot" +
              " - CAST(c_v AS DECIMAL(38,0)) * n_g"))
        val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
          .orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.withColumn("cd", sum(col("d")).over(w))
          .groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(max(col("n_g")).as("n_rows"),
            max(col("l_distinct")).as("l_distinct"),
            sum(abs(col("cd"))).as("emd_num"),
            max(col("n_tot")).as("n_tot"), max(col("m")).as("m"))
          .withColumn("emd_ppm", expr(
            "CAST(emd_num * 1000000 div (CAST(greatest(m - 1, 1)" +
              " AS DECIMAL(38,0)) * n_rows * n_tot) AS BIGINT)"))
          .select(col("c_nationkey"), col("c_mktsegment"),
            col("n_rows"), col("l_distinct"), col("emd_ppm"),
            when(col("l_distinct") >= 3L, 1L).otherwise(0L)
              .as("l_div_ok"),
            when(col("emd_ppm") <= 200000L, 1L).otherwise(0L)
              .as("t_close_ok"),
            when(col("l_distinct") >= 3L && col("emd_ppm") <= 200000L,
              "release").otherwise("suppress").as("verdict"))
          .orderBy(col("c_nationkey"), col("c_mktsegment"))
      },
      oracle = Some("""
        WITH cell AS (SELECT c_nationkey, c_mktsegment,
                             CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
                               AS band,
                             CAST(COUNT(*) AS BIGINT) AS cnt
                      FROM customer GROUP BY 1, 2, 3),
        grp AS (SELECT c_nationkey, c_mktsegment,
                       CAST(SUM(cnt) AS BIGINT) AS n_g,
                       CAST(COUNT(DISTINCT band) AS BIGINT) AS l_distinct
                FROM cell GROUP BY 1, 2),
        gl AS (SELECT band, CAST(SUM(cnt) AS BIGINT) AS c_v
               FROM cell GROUP BY 1),
        tot AS (SELECT CAST(SUM(c_v) AS BIGINT) AS n_tot,
                       CAST(COUNT(*) AS BIGINT) AS m FROM gl),
        grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g,
                        g.l_distinct, gl.band, gl.c_v,
                        COALESCE(c.cnt, 0) AS c_gv
                 FROM grp g CROSS JOIN gl
                 LEFT JOIN cell c ON c.c_nationkey = g.c_nationkey
                   AND c.c_mktsegment = g.c_mktsegment
                   AND c.band = gl.band),
        cum AS (SELECT c_nationkey, c_mktsegment, n_g, l_distinct,
                       SUM(CAST(c_gv AS HUGEINT) * tot.n_tot
                           - CAST(c_v AS HUGEINT) * n_g)
                         OVER (PARTITION BY c_nationkey, c_mktsegment
                               ORDER BY band ROWS UNBOUNDED PRECEDING)
                         AS cd,
                       tot.n_tot, tot.m
                FROM grid CROSS JOIN tot),
        emd AS (SELECT c_nationkey, c_mktsegment,
                       MAX(n_g) AS n_rows, MAX(l_distinct) AS l_distinct,
                       CAST(SUM(ABS(cd)) * 1000000
                         // (CAST(GREATEST(m - 1, 1) AS HUGEINT)
                            * MAX(n_g) * n_tot) AS BIGINT) AS emd_ppm
                FROM cum GROUP BY c_nationkey, c_mktsegment, m, n_tot)
        SELECT c_nationkey, c_mktsegment, n_rows, l_distinct, emd_ppm,
               CAST(CASE WHEN l_distinct >= 3 THEN 1 ELSE 0 END
                 AS BIGINT) AS l_div_ok,
               CAST(CASE WHEN emd_ppm <= 200000 THEN 1 ELSE 0 END
                 AS BIGINT) AS t_close_ok,
               CASE WHEN l_distinct >= 3 AND emd_ppm <= 200000
                 THEN 'release' ELSE 'suppress' END AS verdict
        FROM emd ORDER BY c_nationkey, c_mktsegment""")),

    // ---- q317: exact paired permutation test (sign-flip DP) ----
    // The EXACT companion to the resampling family: q299 bootstraps a
    // CI, q293 applies McNemar's χ² approximation, q308 corrects a
    // battery — none computes an exact finite-sample p-value. The
    // paired sign-flip (Fisher) permutation test does: under H0 the
    // per-pair difference d_i is symmetric, so every sign vector
    // s ∈ {±1}^k is equally likely and p = #{s : |Σ sᵢdᵢ| ≥ |S_obs|} /
    // 2^k — an exact count, no asymptotics, no sampling. The pairing
    // audited: per source, does rating only a document's FIRST HALF
    // change the stop-ratio quality verdict? (the "can we rate the
    // prefix and skip the tail?" curation shortcut) — d_s = full-text
    // passes − half-text passes. The count runs as a dynamic program
    // over the offset distribution (k steps over a Σ|d|-wide integer
    // array — model-sized driver state, the BPE-merge-table precedent),
    // NEVER by enumerating 2^k vectors; the DuckDB oracle replays the
    // same count by brute-force bitmask enumeration (2^20 rows), so the
    // two engines agree only if the DP is exactly the enumeration.
    //
    // 100 TB posture: the corpus pays ONE pass (per-doc verdicts →
    // per-source paired counts, a |sources|-row agg); the DP is
    // O(k·Σ|d|) driver arithmetic on k collected integers. Beyond
    // k ≈ 60 pairs you'd switch to sampled permutations; the exact
    // count is the point at panel size.
    "q317_permutation_test" -> QueryDef(
      build = (spark, dir) => {
        import spark.implicits._
        val base = Tables.documents(spark, dir)
          .select(col("source"), split(trim(col("text")), " ").as("toks"))
          .select(col("source"),
            expr("CAST(size(toks) AS BIGINT)").as("n_tok"),
            expr("CAST(size(filter(toks, x -> x = 'the' OR x = 'a'))" +
              " AS BIGINT)").as("stop_full"),
            expr("CAST(size(filter(slice(toks, 1," +
              " GREATEST(size(toks) div 2, 1)), x -> x = 'the' OR" +
              " x = 'a')) AS BIGINT)").as("stop_half"))
          .select(col("source"),
            (expr("(stop_full * 1000) div n_tok") >= 66L)
              .cast("long").as("a"),
            (expr("(stop_half * 1000) div GREATEST(n_tok div 2, 1)")
              >= 66L).cast("long").as("b"))
        val diffs = base.groupBy(col("source"))
          .agg(sum(col("a") - col("b")).as("d"))
          .localCheckpoint(false)
        val ds = diffs.orderBy(col("source")).collect()
          .map(_.getAs[Long]("d")) // ≤ |sources| rows — panel-sized
        val k = ds.length
        // k ≤ 21, not the DP's own 40-capacity: the oracle enumerates
        // sign masks from range(2097152) = 2^21, so a larger panel would
        // silently under-count there and surface as a confusing hash
        // mismatch instead of this clear error (round-11 ADVICE).
        require(k <= 21, s"exact sign-flip test sized for panels ≤ 21" +
          s" sources (oracle enumerates 2^21 sign masks); got $k")
        val span = ds.map(math.abs).sum.toInt
        // DP over the signed-sum distribution: cnt(offset) of sign
        // vectors reaching Σ sᵢdᵢ = offset − span after each step.
        var cnt = new Array[Long](2 * span + 1)
        cnt(span) = 1L
        ds.foreach { d =>
          val nxt = new Array[Long](2 * span + 1)
          val ad = math.abs(d).toInt
          var i = 0
          while (i < cnt.length) {
            if (cnt(i) != 0L) {
              nxt(i + ad) += cnt(i)
              nxt(i - ad) += cnt(i)
            }
            i += 1
          }
          cnt = nxt
        }
        val sObs = ds.sum
        val nFlips = 1L << k
        val nGe = cnt.zipWithIndex.collect {
          case (c, i) if math.abs(i - span) >= math.abs(sObs) => c
        }.sum
        val stats = Seq((sObs, math.abs(sObs), nFlips, nGe,
          nGe * 1000000L / nFlips))
          .toDF("s_obs", "abs_s_obs", "n_flips", "n_ge", "p_ppm")
        diffs.crossJoin(broadcast(stats)).orderBy(col("source"))
      },
      oracle = Some("""
        WITH base AS MATERIALIZED (
          SELECT source,
                 ((stop_full * 1000) // n_tok >= 66)::BIGINT AS a,
                 ((stop_half * 1000) // GREATEST(n_tok // 2, 1) >= 66)
                   ::BIGINT AS b
          FROM (SELECT source,
                  CAST(len(toks) AS BIGINT) AS n_tok,
                  CAST(len(list_filter(toks,
                    x -> x = 'the' OR x = 'a')) AS BIGINT) AS stop_full,
                  CAST(len(list_filter(list_slice(toks, 1,
                      GREATEST(len(toks) // 2, 1)),
                    x -> x = 'the' OR x = 'a')) AS BIGINT) AS stop_half
                FROM (SELECT source, string_split(trim(text), ' ')
                        AS toks FROM documents))),
        diffs AS MATERIALIZED (
          SELECT source, CAST(SUM(a - b) AS BIGINT) AS d,
                 ROW_NUMBER() OVER (ORDER BY source) - 1 AS rn
          FROM base GROUP BY source),
        kk AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(d) AS BIGINT) AS s_obs
          FROM diffs),
        sums AS MATERIALIZED (
          SELECT t.range AS m,
                 CAST(SUM(CASE WHEN (t.range >> d.rn) & 1 = 1
                   THEN d.d ELSE -d.d END) AS BIGINT) AS s
          FROM range(2097152) t CROSS JOIN kk, diffs d
          WHERE t.range < (1::BIGINT << kk.k)
          GROUP BY t.range),
        nges AS MATERIALIZED (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_ge
          FROM sums CROSS JOIN kk WHERE ABS(s) >= ABS(kk.s_obs))
        SELECT d.source, d.d, kk.s_obs, ABS(kk.s_obs) AS abs_s_obs,
               (1::BIGINT << kk.k) AS n_flips, n.n_ge,
               n.n_ge * 1000000 // (1::BIGINT << kk.k) AS p_ppm
        FROM diffs d CROSS JOIN kk CROSS JOIN nges n
        ORDER BY d.source""")),

    // ---- q322: Simpson's-paradox detector + CMH deconfounding ----
    // The CONFOUNDING member of the testing family (q317 permutation,
    // q293 McNemar, q308 BH): a marginal 2x2 association can carry the
    // OPPOSITE sign of every stratum it aggregates when treatment
    // allocation correlates with a stratum-level base rate — Simpson's
    // paradox, the classic trap in observational pipeline readouts
    // ("the cheap curation path looks worse overall" when it wins in
    // both corpus halves). The gate PLANTS the textbook geometry from
    // md5 bits (the q315/q320 planted-truth rules): two strata with
    // treated share 20%/80% and outcome rates 0.9/0.8 vs 0.3/0.2, so
    // treatment helps INSIDE each stratum but the treated mass sits in
    // the hard stratum. Emitted: per-stratum and marginal 2x2 cells,
    // odds ratio in floor-div ppm, exact direction sign(ad - bc)
    // (cross-multiplied, no division), the Cochran-Mantel-Haenszel
    // pooled odds ratio OR_MH = sum_k(a_k d_k/n_k)/sum_k(b_k c_k/n_k)
    // (per-stratum terms floor-quantized to ppm, mirrored), and the
    // reversal flag: every stratum one sign, the marginal the other.
    // The detector must FIRE on the planted reversal while CMH agrees
    // with the stratum direction — confounder removed. (a*d*1e6 stays
    // under 2^63 to ~1.3M docs/stratum; the cells are corpus halves.)
    // Measured sf0.1: stratum ORs 2.05 / 1.50 (dir +1 both), marginal
    // OR 0.34 (dir -1), OR_MH 1.69 — reversal fired, CMH deconfounds.
    //
    // 100 TB posture: one corpus scan into a stratum-keyed 8-cell agg;
    // everything after runs on the bounded cell table (checkpoint cut)
    // with 1-row broadcast stats.
    "q322_simpson_cmh_audit" -> QueryDef(
      build = (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        def hex(i: Int) =
          s"(instr('0123456789abcdef', substring(md5(CAST(doc_id AS " +
            s"STRING)), $i, 1)) - 1)"
        val cells = docs
          .select(col("doc_id"),
            expr(s"${hex(1)} * 16 + ${hex(2)}").as("hh"),
            expr(s"${hex(3)} * 16 + ${hex(4)}").as("h2"),
            expr("CASE WHEN doc_id % 2 = 0 THEN 's0' ELSE 's1' END")
              .as("stratum"))
          .select(col("stratum"),
            expr("CASE WHEN stratum = 's0' THEN " +
              "CASE WHEN hh < 51 THEN 1L ELSE 0L END ELSE " +
              "CASE WHEN hh < 205 THEN 1L ELSE 0L END END").as("t"),
            col("h2"))
          .select(col("stratum"), col("t"),
            expr("CASE WHEN stratum = 's0' THEN " +
              "CASE WHEN h2 < (CASE WHEN t = 1 THEN 230 ELSE 205 END)" +
              " THEN 1L ELSE 0L END ELSE " +
              "CASE WHEN h2 < (CASE WHEN t = 1 THEN 77 ELSE 51 END)" +
              " THEN 1L ELSE 0L END END").as("y"))
          .groupBy(col("stratum"))
          .agg(sum(expr("CASE WHEN t = 1 AND y = 1 THEN 1L ELSE 0L " +
              "END")).as("a"),
            sum(expr("CASE WHEN t = 1 AND y = 0 THEN 1L ELSE 0L END"))
              .as("b"),
            sum(expr("CASE WHEN t = 0 AND y = 1 THEN 1L ELSE 0L END"))
              .as("c"),
            sum(expr("CASE WHEN t = 0 AND y = 0 THEN 1L ELSE 0L END"))
              .as("d"))
          .localCheckpoint(false)
        simpsonReport(cells)
      },
      oracle = Some("""
        WITH base AS MATERIALIZED (
          SELECT CASE WHEN doc_id % 2 = 0 THEN 's0' ELSE 's1' END
                   AS stratum,
                 (instr('0123456789abcdef', substring(md5(CAST(doc_id
                    AS VARCHAR)), 1, 1)) - 1) * 16
                 + instr('0123456789abcdef', substring(md5(CAST(doc_id
                    AS VARCHAR)), 2, 1)) - 1 AS hh,
                 (instr('0123456789abcdef', substring(md5(CAST(doc_id
                    AS VARCHAR)), 3, 1)) - 1) * 16
                 + instr('0123456789abcdef', substring(md5(CAST(doc_id
                    AS VARCHAR)), 4, 1)) - 1 AS h2
          FROM documents),
        ty AS (SELECT stratum,
                      CASE WHEN stratum = 's0'
                           THEN CASE WHEN hh < 51 THEN 1 ELSE 0 END
                           ELSE CASE WHEN hh < 205 THEN 1 ELSE 0 END
                        END AS t, h2
               FROM base),
        txy AS (SELECT stratum, t,
                       CASE WHEN stratum = 's0'
                            THEN CASE WHEN h2 < (CASE WHEN t = 1
                              THEN 230 ELSE 205 END) THEN 1 ELSE 0 END
                            ELSE CASE WHEN h2 < (CASE WHEN t = 1
                              THEN 77 ELSE 51 END) THEN 1 ELSE 0 END
                         END AS y
                FROM ty),
        cells AS MATERIALIZED (
          SELECT stratum,
                 CAST(SUM(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
                 CAST(SUM(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
                 CAST(SUM(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS d
          FROM txy GROUP BY 1),
        allr AS (SELECT * FROM cells
                 UNION ALL
                 SELECT 'zz_all', CAST(SUM(a) AS BIGINT),
                        CAST(SUM(b) AS BIGINT), CAST(SUM(c) AS BIGINT),
                        CAST(SUM(d) AS BIGINT)
                 FROM cells),
        orr AS (SELECT stratum, a, b, c, d,
                       a * d * 1000000 // GREATEST(b * c, 1) AS or_ppm,
                       CAST(SIGN(a * d - b * c) AS BIGINT) AS dir
                FROM allr),
        st AS (SELECT CAST(SUM(a * d * 1000000 // (a + b + c + d))
                        AS BIGINT) AS cmh_num,
                      CAST(SUM(b * c * 1000000 // (a + b + c + d))
                        AS BIGINT) AS cmh_den,
                      CAST(MIN(SIGN(a * d - b * c)) AS BIGINT)
                        AS dir_min,
                      CAST(MAX(SIGN(a * d - b * c)) AS BIGINT)
                        AS dir_max
               FROM cells)
        SELECT o.stratum, o.a, o.b, o.c, o.d, o.or_ppm, o.dir,
               st.cmh_num * 1000000 // GREATEST(st.cmh_den, 1)
                 AS or_mh_ppm,
               CAST(CASE WHEN st.dir_min = st.dir_max
                      AND st.dir_min != 0 AND o.stratum = 'zz_all'
                      AND o.dir = -st.dir_min THEN 1
                    WHEN o.stratum != 'zz_all' THEN -1 ELSE 0 END
                 AS BIGINT) AS simpson_reversal
        FROM orr o CROSS JOIN st ORDER BY o.stratum""")),

    // ---- q327: exact Mann–Whitney U battery (per-source vs rest) ----
    // The RANK-SUM member of the two-sample testing family (q286 KS is
    // CDF-distance, q317 permutation is exact resampling, q308 BH is
    // the correction layer): does source s draw its doc lengths from
    // the same distribution as the rest? U is computed EXACTLY with
    // midranks — ties get rank (first+last)/2, carried ×2 so integers
    // never halve: r2 = 2·cum + t + 1 per distinct value, 2U₁ = ΣR₂ −
    // n₁(n₁+1) — and the tie-corrected variance enters the normal
    // approximation as one exact rational comparison: z² =
    // (2U−n₁n₂)²·3n(n−1) / (n₁n₂·((n+1)n(n−1) − T)), T = Σ(t³−t),
    // emitted in milli (the q293 convention) against the 3841 literal
    // (z ≥ 1.96). Products ride DECIMAL(38,0)/HUGEINT — the numerator
    // passes 10²⁴ at sf0.1 (the q258 overflow lesson).
    //
    // 100 TB posture: corpus-scale work is ONE value-keyed count agg
    // and ONE source-keyed rollup; the rank prefix-sum window runs on
    // the DISTINCT-VALUE table (bounded — doc-length support), never
    // a global row window; globals are a 1-row broadcast.
    // Measured sf0.1: 3/20 sources cross z² = 3.841 uncorrected (max
    // 5.33) — about what 20 tests at α=0.05 produce under H0, which is
    // precisely the multiple-testing exposure the q308 BH layer exists
    // to control.
    "q327_mann_whitney" -> QueryDef(
      build = (spark, dir) =>
        mannWhitneyReport(Tables.documents(spark, dir)
          .select(col("source"), col("n_chars"))),
      oracle = Some(s"""
        $MidRankCtes,
        per AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n1,
                       CAST(SUM(r.r2) AS BIGINT) AS r1_2
                FROM d JOIN ranked r ON r.v = d.n_chars
                GROUP BY 1),
        st AS (SELECT p.source, p.n1, g.n - p.n1 AS n2,
                      p.r1_2 - p.n1 * (p.n1 + 1) AS u2,
                      g.n, g.tie_t
               FROM per p CROSS JOIN gg g)
        SELECT source, n1, n2, u2,
               CAST(CAST(u2 - n1 * n2 AS HUGEINT)
                 * (u2 - n1 * n2) * 3 * n * (n - 1) * 1000
                 // GREATEST(CAST(n1 AS HUGEINT) * n2
                 * ((n + 1) * CAST(n AS HUGEINT) * (n - 1) - tie_t),
                 1) AS BIGINT) AS z2_milli,
               CAST(CASE WHEN CAST(CAST(u2 - n1 * n2 AS HUGEINT)
                 * (u2 - n1 * n2) * 3 * n * (n - 1) * 1000
                 // GREATEST(CAST(n1 AS HUGEINT) * n2
                 * ((n + 1) * CAST(n AS HUGEINT) * (n - 1) - tie_t),
                 1) AS BIGINT) >= 3841 THEN 1 ELSE 0 END AS BIGINT)
                 AS significant
        FROM st ORDER BY source""")),

    // ---- q339: Kruskal–Wallis k-group omnibus rank test ----
    // See [[kruskalWallisReport]] — the k-group generalization of
    // q327's per-source-vs-rest battery: ONE omnibus H test answers
    // "do the 20 sources draw doc lengths from one distribution?"
    // before any per-source drill-down (run the omnibus first, then
    // the battery — the standard testing ladder). Measured sf0.1:
    // H′ = 26.490 vs the 30.144 df=19 critical — the
    // omnibus does NOT reject, exactly the verdict the q327 battery's
    // 3-of-20 uncorrected crossings (≈ α·k under H0) suggested, and
    // the agreement of the two tests on the same fixture is itself
    // the cross-check.
    "q339_kruskal_wallis" -> QueryDef(
      build = (spark, dir) =>
        kruskalWallisReport(Tables.documents(spark, dir)
          .select(col("source"), col("n_chars"))),
      oracle = Some(s"""
        $MidRankCtes,
        per AS MATERIALIZED (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_g,
                 CAST(SUM(r.r2) AS BIGINT) AS r2_g
          FROM d JOIN ranked r ON r.v = d.n_chars
          GROUP BY 1),
        sk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                      SUM(CAST(r2_g AS HUGEINT) * r2_g * 1000000000
                        // (4 * n_g)) AS s9
               FROM per),
        h AS (SELECT g.n, g.tie_t, sk.k,
                     CAST((12 * sk.s9 - CAST(3 AS HUGEINT) * g.n
                       * (g.n + 1) * (g.n + 1) * 1000000000)
                       * (g.n - 1) * 1000
                       // ((CAST(g.n AS HUGEINT) * g.n * g.n - g.n
                         - g.tie_t) * 1000000000) AS BIGINT) AS h_milli
              FROM gg g CROSS JOIN sk)
        SELECT p.source, p.n_g,
               p.r2_g * 1000 // (2 * p.n_g) AS meanrank_milli,
               h.k, h.n, h.tie_t, h.h_milli,
               CAST(CASE WHEN h.k != 20 THEN error(
                   'q339: chi-square literal pinned to df=19 (k=20 sources)')
                 WHEN h.h_milli >= 30144 THEN 1 ELSE 0 END AS BIGINT)
                 AS significant
        FROM per p CROSS JOIN h ORDER BY p.source""")),

    // ---- q360: temporal drift certificate (round 15) ----
    // The monitoring query every production feed runs: split the events
    // stream at its temporal midpoint (exact epoch-microsecond
    // arithmetic — unix_micros ≡ DuckDB epoch_us, both exact BIGINT;
    // the float `epoch()` path rounds and was avoided deliberately) and
    // compare the reference (early) half's distribution against the
    // current (late) half across two feature dims: the event_type
    // categorical and FLOOR(value/10) bands (one IEEE double divide +
    // floor, engine-identical). Per (dim, bucket): both counts, both
    // shares in exact floor-div ppm, the absolute share gap; per dim:
    // the TOTAL VARIATION DISTANCE in ppm (Σ|p−q| div 2 over the
    // floor-div shares — the exact-integer drift statistic; PSI's log
    // term is not engine-exact, and TVD bounds it up to scale). A
    // fresh-vs-stale alarm reads one number: tvd_ppm per dim.
    //
    // 100 TB posture: two one-pass bucket censuses (broadcast-sized
    // results — |event types| + |value bands| rows), the midpoint from
    // a 1-row min/max agg; no joins at data scale.
    "q360_drift_certificate" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(unix_micros(col("ts")).as("us"),
            col("event_type"),
            expr("CAST(FLOOR(value / 10) AS BIGINT)").as("vband"))
        val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
        val sided = ev.crossJoin(broadcast(mid))
          .withColumn("is_ref", when(col("us") <= col("mid"), 1L)
            .otherwise(0L))
          .localCheckpoint(false)
        def census(dim: String, bucket: org.apache.spark.sql.Column) =
          sided.groupBy(bucket.as("bucket"))
            .agg(sum(col("is_ref")).as("ref_cnt"),
              sum(lit(1L) - col("is_ref")).as("cur_cnt"))
            .withColumn("dim", lit(dim))
        val both = census("event_type", col("event_type"))
          .unionAll(census("value_band", col("vband").cast("string")))
        val tot = both.groupBy(col("dim"))
          .agg(sum(col("ref_cnt")).as("ref_tot"),
            sum(col("cur_cnt")).as("cur_tot"))
        val shares = both.join(broadcast(tot), Seq("dim"))
          .select(col("dim"), col("bucket"), col("ref_cnt"),
            col("cur_cnt"),
            expr("ref_cnt * 1000000 div ref_tot").as("ref_share_ppm"),
            expr("cur_cnt * 1000000 div cur_tot").as("cur_share_ppm"))
          .withColumn("gap_ppm",
            abs(col("ref_share_ppm") - col("cur_share_ppm")))
          .localCheckpoint(false)
        val tvd = shares.groupBy(col("dim"))
          .agg(expr("sum(gap_ppm) div 2").as("tvd_ppm"))
        shares.join(broadcast(tvd), Seq("dim"))
          .select(col("dim"), col("bucket"), col("ref_cnt"),
            col("cur_cnt"), col("ref_share_ppm"),
            col("cur_share_ppm"), col("gap_ppm"), col("tvd_ppm"))
          .orderBy(col("dim"), col("bucket"))
      },
      oracle = Some("""
        WITH ev AS (SELECT epoch_us(ts) AS us, event_type,
                           CAST(FLOOR(value / 10) AS BIGINT) AS vband
                    FROM events),
        mid AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ev),
        sided AS (SELECT e.*, CASE WHEN e.us <= m.mid THEN 1 ELSE 0 END
                    AS is_ref
                  FROM ev e CROSS JOIN mid m),
        bkt AS (
          SELECT 'event_type' AS dim, event_type AS bucket,
                 CAST(SUM(is_ref) AS BIGINT) AS ref_cnt,
                 CAST(SUM(1 - is_ref) AS BIGINT) AS cur_cnt
          FROM sided GROUP BY 2
          UNION ALL
          SELECT 'value_band', CAST(vband AS VARCHAR),
                 CAST(SUM(is_ref) AS BIGINT),
                 CAST(SUM(1 - is_ref) AS BIGINT)
          FROM sided GROUP BY 2),
        tot AS (SELECT dim, SUM(ref_cnt) AS ref_tot,
                       SUM(cur_cnt) AS cur_tot
                FROM bkt GROUP BY 1),
        shares AS (SELECT b.dim, b.bucket, b.ref_cnt, b.cur_cnt,
                          b.ref_cnt * 1000000 // t.ref_tot
                            AS ref_share_ppm,
                          b.cur_cnt * 1000000 // t.cur_tot
                            AS cur_share_ppm
                   FROM bkt b JOIN tot t USING (dim)),
        g AS (SELECT *, ABS(ref_share_ppm - cur_share_ppm) AS gap_ppm
              FROM shares),
        tvd AS (SELECT dim, CAST(SUM(gap_ppm) // 2 AS BIGINT)
                  AS tvd_ppm
                FROM g GROUP BY 1)
        SELECT g.dim, g.bucket, g.ref_cnt, g.cur_cnt,
               CAST(g.ref_share_ppm AS BIGINT) AS ref_share_ppm,
               CAST(g.cur_share_ppm AS BIGINT) AS cur_share_ppm,
               CAST(g.gap_ppm AS BIGINT) AS gap_ppm, t.tvd_ppm
        FROM g JOIN tvd t USING (dim)
        ORDER BY dim, bucket"""))
  )

  /** q327's full Mann–Whitney battery over (source, n_chars) rows:
    * ×2-scaled midranks from the distinct-value table, 2U = ΣR₂ −
    * n₁(n₁+1), and the tie-corrected z² in milli. Factored so
    * Round11PropertySpec can pin U and z² on hand cases with known
    * closed forms (the q289 lesson). */
  private[queries] def mannWhitneyReport(docs: DataFrame): DataFrame = {
    val (ranked, glob) = midRanks(docs)
    val per = docs
      .join(broadcast(ranked.select(col("v").as("n_chars"),
        col("r2"))), Seq("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n1"), sum(col("r2")).as("r1_2"))
    per.crossJoin(broadcast(glob))
      .select(col("source"), col("n1"), (col("n") - col("n1")).as("n2"),
        (col("r1_2") - col("n1") * (col("n1") + 1L)).as("u2"),
        col("n"), col("tie_t"))
      .select(col("source"), col("n1"), col("n2"), col("u2"),
        expr("CAST(CAST(u2 - n1 * n2 AS DECIMAL(38,0))" +
          " * (u2 - n1 * n2) * 3 * n * (n - 1) * 1000" +
          " div GREATEST(CAST(n1 AS DECIMAL(38,0)) * n2" +
          " * ((n + 1) * CAST(n AS DECIMAL(38,0)) * (n - 1) - tie_t)," +
          " 1) AS BIGINT)").as("z2_milli"))
      .withColumn("significant",
        expr("CAST(CASE WHEN z2_milli >= 3841 THEN 1 ELSE 0 END" +
          " AS BIGINT)"))
      .orderBy(col("source"))
  }

  /** q339's Kruskal–Wallis battery over (source, n_chars) rows: the
    * k-GROUP generalization of q327's two-sample rank test (one H test
    * across all sources at once instead of 20 source-vs-rest U tests —
    * the omnibus "are these sources even drawn alike?" gate a mixture
    * designer runs BEFORE per-source drill-downs). Same ×2-scaled
    * midranks from the distinct-value table; per group the exact
    * rational R_g²/n_g is carried at 10⁹ scale with ONE floor-div per
    * group (engine-identical in DECIMAL(38,0)/HUGEINT), then
    *   H′ = (12·S − 3·n(n+1)²·10⁹)·(n−1)·1000
    *        div ((n³−n−T)·10⁹)          [milli]
    * using (n³−n)/(n(n+1)) = n−1 to keep every product under 10³⁰
    * (the q258 overflow lesson applied at design time). T = Σ(t³−t)
    * is the same tie term q327 carries. The decision compares against
    * the χ²₀.₀₅ df=19 literal 30144 milli, guarded by require(k = 20)
    * so the literal can never silently misapply (the q317/q324
    * ADVICE lesson). Per-source mean ranks (milli) ship as the
    * diagnostic that tells you WHICH groups sit high/low.
    *
    * 100 TB posture: identical to q327 — one value-keyed count agg,
    * one source-keyed rollup, the rank window on the bounded
    * distinct-value table, 1-row global broadcast. */
  private[queries] def kruskalWallisReport(docs: DataFrame): DataFrame = {
    val (ranked, glob) = midRanks(docs)
    val per = docs
      .join(broadcast(ranked.select(col("v").as("n_chars"),
        col("r2"))), Seq("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_g"), sum(col("r2")).as("r2_g"))
      .localCheckpoint(false)
    val s = per.agg(count(lit(1)).as("k"),
      // the per-group term is ~1.8e18 at sf0.1 — Spark's `div` returns
      // BIGINT, so the SUM must be carried back in DECIMAL(38,0) or 20
      // such terms overflow long (ANSI mode faults, it doesn't wrap)
      sum(expr("CAST(CAST(r2_g AS DECIMAL(38,0)) * r2_g * 1000000000" +
        " div (4 * n_g) AS DECIMAL(38,0))")).as("s9"))
    val h = glob.crossJoin(s).select(col("n"), col("tie_t"), col("k"),
      expr("CAST((12 * s9 - CAST(3 AS DECIMAL(38,0)) * n * (n + 1)" +
        " * (n + 1) * 1000000000) * (n - 1) * 1000" +
        " div ((CAST(n AS DECIMAL(38,0)) * n * n - n - tie_t)" +
        " * 1000000000) AS BIGINT)").as("h_milli"))
    per.crossJoin(broadcast(h))
      .select(col("source"), col("n_g"),
        expr("r2_g * 1000 div (2 * n_g)").as("meanrank_milli"),
        col("k"), col("n"), col("tie_t"), col("h_milli"),
        // χ²₀.₀₅ at df = k−1 = 19; the raise_error pins the literal's
        // df — a corpus with ≠20 sources fails LOUDLY instead of
        // applying the wrong critical value (the q317/q324 ADVICE
        // lesson); the oracle carries the same guard via error()
        expr("CAST(CASE WHEN k != 20 THEN raise_error(" +
          "'q339: chi-square literal pinned to df=19 (k=20 sources)')" +
          " WHEN h_milli >= 30144 THEN 1 ELSE 0 END AS BIGINT)")
          .as("significant"))
      .orderBy(col("source"))
  }

  /** q322's report tail over a (stratum, a, b, c, d) cell table:
    * per-stratum + marginal odds ratios (floor-div ppm), exact
    * cross-multiplied direction signs, the CMH pooled OR, and the
    * reversal flag. Factored so Round11PropertySpec can pin OR_MH on a
    * hand case with a rational closed form (the q289 lesson). */
  private[queries] def simpsonReport(cells: DataFrame): DataFrame = {
    val marg = cells.agg(lit("zz_all").as("stratum"),
      sum(col("a")).as("a"), sum(col("b")).as("b"),
      sum(col("c")).as("c"), sum(col("d")).as("d"))
    val all = cells.unionByName(marg)
      .withColumn("or_ppm",
        expr("a * d * 1000000L div GREATEST(b * c, 1L)"))
      .withColumn("dir", expr("CAST(sign(a * d - b * c) AS BIGINT)"))
    val st = cells
      .select(expr("a * d * 1000000L div (a + b + c + d)").as("nk"),
        expr("b * c * 1000000L div (a + b + c + d)").as("dk"),
        expr("CAST(sign(a * d - b * c) AS BIGINT)").as("sdir"))
      .agg(sum(col("nk")).as("cmh_num"), sum(col("dk")).as("cmh_den"),
        min(col("sdir")).as("dir_min"), max(col("sdir")).as("dir_max"))
    all.crossJoin(broadcast(st))
      .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
        col("or_ppm"), col("dir"),
        expr("cmh_num * 1000000L div GREATEST(cmh_den, 1L)")
          .as("or_mh_ppm"),
        expr("CAST(CASE WHEN dir_min = dir_max AND dir_min != 0 " +
          "AND stratum = 'zz_all' AND dir = -dir_min THEN 1 " +
          "WHEN stratum != 'zz_all' THEN -1 ELSE 0 END AS BIGINT)")
          .as("simpson_reversal"))
      .orderBy(col("stratum"))
  }

  /** Nigrini first-two-digits expectation log10(1 + 1/dd) for dd 10–99,
    * in ppm. Computed ONCE driver-side and embedded as identical integer
    * literals in the Spark plan and the DuckDB oracle text, so no
    * query-time libm call can diverge between engines. */
  lazy val benford2Ppm: Seq[Long] =
    (10 to 99).map(d => math.round(math.log10(1.0 + 1.0 / d) * 1e6))
}

package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Det._

/** Event-stream analytics over the `events` table (FIXTURES.md §B):
  * JSON prop extraction, event-time windowing, sessionization, funnels.
  *
  * These are the batch duals of the Structured Streaming operators in
  * graft.streaming (same column expressions run under `readStream` with a
  * watermark). Keeping the logic as plain expressions means one definition
  * serves both batch backfill and the live stream — the Kappa-architecture
  * property the reference's file-batch pipeline approximates.
  *
  * Time arithmetic stays in integer micros (unix_micros) so the oracle
  * matches exactly — no double-seconds epoch math.
  */
object Events {

  /** Per-user session profile (30-min gaps) by gaps-and-islands: q32's
    * oracle, and q82's, which equals it by law. */
  private val SessionsOracle: String = """
        WITH marked AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR date_diff('microsecond', LAG(ts) OVER w, ts) > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, event_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
          FROM marked),
        per_sess AS (
          SELECT user_id, sess_id, COUNT(*) AS n_events,
                 date_diff('microsecond', MIN(ts), MAX(ts)) AS span_us
          FROM sess GROUP BY user_id, sess_id)
        SELECT user_id, CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
               CAST(SUM(n_events) AS BIGINT) AS n_events,
               MAX(n_events) AS max_session_events,
               MAX(span_us) AS max_session_span_us
        FROM per_sess GROUP BY user_id ORDER BY user_id"""

  /** SCD-2 version intervals of users < 20, rebuilt from scratch: q96's
    * oracle, and q269's, whose incremental merge equals it by law. */
  private val Scd2Oracle: String = """
        WITH e AS (SELECT user_id, event_type, ts, event_id FROM events
                   WHERE user_id < 20),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id)
                   - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS grp
              FROM e),
        runs AS (SELECT user_id, event_type, grp, MIN(ts) AS valid_from,
                        MIN(event_id) AS run_id, COUNT(*) AS n_events
                 FROM r GROUP BY 1, 2, 3)
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY valid_from, run_id) AS version,
               event_type,
               strftime(valid_from, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               strftime(LEAD(valid_from, 1) OVER (PARTITION BY user_id
                 ORDER BY valid_from, run_id), '%Y-%m-%d %H:%M:%S.%f')
                 AS valid_to,
               n_events
        FROM runs ORDER BY user_id, version"""

  private val HourUs = 3600L * 1000000L

  /** The first two stages of the q174/q175 funnel: the events as `e`
    * (user_id, event_type, us) and, per user with a signup, the first
    * view within 1 h of it as (user_id, s_us, v_us). */
  private def signupViews(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val s1 = e.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("s_us"))
      .filter(col("s_us").isNotNull)
    val s2 = e.join(s1, "user_id")
      .groupBy(col("user_id"), col("s_us"))
      .agg(min(when(col("event_type") === "view" &&
        col("us") > col("s_us") && col("us") <= col("s_us") + HourUs,
        col("us"))).as("v_us"))
    (e, s2)
  }

  /** DuckDB mirror of [[signupViews]]: the `e`, `s1` and `s2` CTEs of the
    * q174/q175 funnel oracles. */
  private val FunnelCtes: String = """WITH e AS (
          SELECT user_id, event_type,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        s1 AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'signup' THEN us END) AS s_us
          FROM e GROUP BY user_id
          HAVING MIN(CASE WHEN event_type = 'signup' THEN us END) IS NOT NULL),
        s2 AS (
          SELECT e.user_id, s_us,
                 MIN(CASE WHEN event_type = 'view' AND us > s_us
                      AND us <= s_us + 3600000000 THEN us END) AS v_us
          FROM e JOIN s1 ON e.user_id = s1.user_id
          GROUP BY e.user_id, s_us)"""

  /** The `h` CTE of the q229 and q238 oracles: events per (event_type,
    * epoch hour `hr`). */
  private val HourlyCountsCte: String = """WITH h AS (SELECT event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000
                            AS hr,
                          CAST(COUNT(*) AS BIGINT) AS n
                   FROM events GROUP BY 1, 2)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q30: JSON property extraction (from_json / get_json_object) ----
    "q30_events_json_extract" -> QueryDef(
      build = (spark, dir) =>
        Tables.events(spark, dir)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type")),
      oracle = Some("""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type"""),
      headline = true),

    // ---- q35: as-of join (click → most recent prior view, per user) ----
    // graft.operators.AsOfJoin's union-sort-window implementation (one
    // shuffle, linear) checked against DuckDB's native ASOF JOIN.
    "q35_events_asof" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("ts").as("click_ts"))
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("view_ts"))
        graft.operators.AsOfJoin
          .asOfJoin(clicks, views, "user_id", "click_ts", "view_ts")
          .select(col("click_id"), col("user_id"),
            date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_ts"),
            col("view_id"),
            date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"))
          .orderBy(col("click_id"))
      },
      oracle = Some("""
        WITH clicks AS (
          SELECT event_id AS click_id, user_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
        views AS (
          SELECT user_id, event_id AS view_id, ts AS view_ts
          FROM events WHERE event_type = 'view')
        SELECT c.click_id, c.user_id,
               strftime(c.click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               v.view_id,
               strftime(v.view_ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.click_ts >= v.view_ts
        ORDER BY c.click_id""")),

    // ---- q36: banded range join (event pairs within 5 min, per user) ----
    // graft.operators.RangeJoin's bucketized band join vs DuckDB's
    // inequality join on the same predicate: per user, ordered pairs of
    // distinct events at most 5 minutes apart, counted per event type pair.
    "q36_events_range_join" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val a = ev.select(col("user_id"), col("event_id").as("id_a"),
          col("ts").as("ts_a"), col("event_type").as("type_a"))
        val b = ev.select(col("user_id"), col("event_id").as("id_b"),
          col("ts").as("ts_b"), col("event_type").as("type_b"))
        graft.operators.RangeJoin
          .bandJoin(a, b, "user_id", "ts_a", "ts_b", 300000000L,
            extraFilter = col("id_a") < col("id_b"))
          .groupBy(col("type_a"), col("type_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("type_a"), col("type_b"))
      },
      oracle = Some("""
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_pairs
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_id < b.event_id
         AND ABS(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- q31: tumbling event-time windows (batch dual of streaming agg) ----
    "q31_events_tumbling_window" -> QueryDef(
      build = (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
          .orderBy(col("hour_start"), col("event_type")),
      oracle = Some(s"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
               event_type, COUNT(*) AS n, ${sqlSum("value", 2)} AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour_start, event_type""")),

    // ---- q32: sessionization (gaps-and-islands, 30-min inactivity) ----
    // Batch dual of session_window / flatMapGroupsWithState: partition by
    // user (distributes across the cluster), sort within partition only.
    "q32_events_sessionize" -> QueryDef(
      build = (spark, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val gapUs = lit(30L * 60 * 1000 * 1000)
        val sess = Tables.events(spark, dir)
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
          .withColumn("new_sess",
            when(col("prev_us").isNull ||
                 unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
          .withColumn("sess_id",
            sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        sess.groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"),
               (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span_us"))
          .groupBy(col("user_id"))
          .agg(
            max(col("sess_id")).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"),
            max(col("span_us")).as("max_session_span_us"))
          .orderBy(col("user_id"))
      },
      oracle = Some(SessionsOracle)),

    // ---- q33: conversion funnel (signup → purchase) ----
    "q33_events_funnel" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
        val first = e.groupBy(col("user_id"))
          .agg(
            min(when(col("event_type") === "signup", unix_micros(col("ts")))).as("first_signup_us"),
            min(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("first_purchase_us"))
        first.agg(
          count(col("first_signup_us")).as("n_signup_users"),
          count(when(col("first_purchase_us") > col("first_signup_us"), 1)).as("n_converted"),
          sum(when(col("first_purchase_us") > col("first_signup_us"),
              col("first_purchase_us") - col("first_signup_us"))).as("total_delay_us"))
      },
      oracle = Some("""
        WITH first AS (
          SELECT user_id,
                 MIN(CASE WHEN event_type='signup'
                     THEN date_diff('microsecond', TIMESTAMP '1970-01-01', ts) END) AS first_signup_us,
                 MIN(CASE WHEN event_type='purchase'
                     THEN date_diff('microsecond', TIMESTAMP '1970-01-01', ts) END) AS first_purchase_us
          FROM events GROUP BY user_id)
        SELECT COUNT(first_signup_us) AS n_signup_users,
               COUNT(CASE WHEN first_purchase_us > first_signup_us THEN 1 END) AS n_converted,
               CAST(SUM(CASE WHEN first_purchase_us > first_signup_us
                   THEN first_purchase_us - first_signup_us END) AS BIGINT) AS total_delay_us
        FROM first""")),

    // ---- q34: hour-of-day activity profile ----
    "q34_events_hourly_profile" -> QueryDef(
      build = (spark, dir) =>
        Tables.events(spark, dir)
          .groupBy(hour(col("ts")).as("hour_of_day"))
          .agg(
            count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            dsum(col("value"), 2).as("sum_value"))
          .orderBy(col("hour_of_day")),
      oracle = Some(s"""
        SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
               COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
               ${sqlSum("value", 2)} AS sum_value
        FROM events GROUP BY 1 ORDER BY hour_of_day""")),

    // ---- q68: cohort retention matrix ----
    // Classic product/event analytics: cohort = the user's first active
    // day; cell (cohort, day_offset) = distinct users from that cohort
    // active offset days later. Two shuffles (per-user min, then the
    // cohort-cell distinct+count) — both key-partitioned, no windows over
    // the whole table, so the plan scales with users, not events².
    "q68_retention_cohorts" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
        val first = e.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        e.join(first, Seq("user_id"))
          .select(col("user_id"), col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
          .distinct()
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
            col("day_offset"), col("n_active"))
          .orderBy(col("cohort"), col("day_offset"))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
        j AS (SELECT DISTINCT e.user_id, cohort_day,
                     date_diff('day', cohort_day, day) AS day_offset
              FROM e JOIN f USING (user_id))
        SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort, day_offset,
               COUNT(*) AS n_active
        FROM j GROUP BY cohort_day, day_offset
        ORDER BY cohort, day_offset""")),

    // ---- q82: sessionization via native session_window (batch) ----
    // Same semantics as q32's hand-rolled gaps-and-islands, computed with
    // the built-in session_window in batch mode — and checked against the
    // IDENTICAL oracle, proving the two formulations equivalent on this
    // data. (One semantic edge: session_window treats an exactly-gap-sized
    // silence as a new session, the islands form continues it; the shared
    // oracle hash doubles as the proof that no event pair sits exactly on
    // the 30-minute boundary.) One shuffle on user_id; session assembly is
    // within-partition — the same scale shape as q32.
    "q82_sessionize_native" -> QueryDef(
      build = (spark, dir) => {
        val perSess = Tables.events(spark, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span_us"))
        perSess.groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            max(col("n_events")).as("max_session_events"),
            max(col("span_us")).as("max_session_span_us"))
          .orderBy(col("user_id"))
      },
      oracle = Some(SessionsOracle)),

    // ---- q78: event-path bigrams (what users do next) ----
    // Per-user consecutive event-type transitions, counted globally: the
    // path-analysis primitive behind funnels and Markov-chain journey
    // models. One user-partitioned window (lag), then a key-partitioned
    // count — scales with users per partition, no whole-table window.
    "q78_event_bigrams" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_type"),
            lag(col("event_type"), 1).over(w).as("prev_type"))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("prev_type"), col("event_type"))
          .limit(20)
      },
      oracle = Some("""
        WITH b AS (
          SELECT user_id, event_type,
                 LAG(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_type
          FROM events)
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM b WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY n DESC, prev_type, event_type LIMIT 20""")),

    // ---- q96: SCD-2 history build (gaps-and-islands) ----
    // Collapse each user's event stream into type-II slowly-changing-
    // dimension rows: consecutive runs of the same event_type become
    // versioned validity intervals [valid_from, valid_to), open-ended for
    // the current version — the standard warehouse dimension-history
    // primitive, built with the rn-difference islands trick (one pass,
    // two window functions over the same user partitioning).
    //
    // 100 TB posture: every window shares PARTITION BY user_id, so the
    // whole query is ONE hash shuffle on the entity key + per-key sorts;
    // runs/versions are computed without self-joins and nothing is
    // corpus-quadratic. The user_id < 20 predicate is the demo slice
    // (pushed to the parquet scan); the plan is key-count-invariant.
    "q96_scd2_intervals" -> QueryDef(
      build = (spark, dir) => {
        val byTs = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val byTsType = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        // run_id = min(event_id) tiebreaks versions whose valid_from tie
        // (same-ts events of different types) — matches the (ts,
        // event_id) total order the islands pass itself uses
        val byStart = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("run_id"))
        Tables.events(spark, dir)
          .filter(col("user_id") < 20)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("grp",
            row_number().over(byTs) - row_number().over(byTsType))
          .groupBy(col("user_id"), col("event_type"), col("grp"))
          .agg(min(col("ts")).as("valid_from"),
            min(col("event_id")).as("run_id"), count(lit(1)).as("n_events"))
          .select(col("user_id"),
            row_number().over(byStart).cast("long").as("version"),
            col("event_type"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_from"),
            date_format(lead(col("valid_from"), 1).over(byStart),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
            col("n_events"))
          .orderBy(col("user_id"), col("version"))
      },
      oracle = Some(Scd2Oracle)),

    // ---- q103: time-series gap-fill + forward-fill ----
    // Regularize each user's hourly value series: build the dense hourly
    // grid between their first and last observation (sequence + explode —
    // no calendar table needed), left-join the observed hourly means, and
    // forward-fill gaps with last(ignoreNulls) — the standard
    // sensor/metrics resampling op. Observed means use the exact-decimal
    // accumulation discipline; was_gap marks carried-forward rows.
    //
    // 100 TB posture: grid generation is per-key (no global calendar
    // join), and the fill window shares the grid join's user_id hash
    // partitioning — one shuffle for join + window, then the
    // presentation sort.
    "q103_gap_fill_ffill" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .filter(col("user_id") < 5)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
            col("value").cast(DecimalType(28, 2)).as("v"))
        val obs = e.groupBy(col("user_id"), col("hr"))
          .agg(round(sum(col("v")).cast("double") / count(lit(1)), 6)
            .as("obs_value"))
        val grid = obs.groupBy(col("user_id"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(col("user_id"),
            explode(expr("sequence(h0, h1, interval 1 hour)")).as("hr"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("hr"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(obs, Seq("user_id", "hr"), "left")
          .select(col("user_id"),
            date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
            last(col("obs_value"), ignoreNulls = true).over(w).as("avg_value"),
            col("obs_value").isNull.as("was_gap"))
          .orderBy(col("user_id"), col("hour_start"))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr,
                          CAST(value AS DECIMAL(28,2)) AS v
                   FROM events WHERE user_id < 5),
        obs AS (SELECT user_id, hr,
                       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6)
                         AS obs_value
                FROM e GROUP BY 1, 2),
        bounds AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM obs
                   GROUP BY 1),
        grid AS (SELECT user_id,
                        UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
                 FROM bounds),
        f AS (SELECT g.user_id, g.hr,
                     LAST_VALUE(o.obs_value IGNORE NULLS) OVER (
                       PARTITION BY g.user_id ORDER BY g.hr
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS avg_value,
                     o.obs_value IS NULL AS was_gap
              FROM grid g LEFT JOIN obs o USING (user_id, hr))
        SELECT user_id, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_start,
               avg_value, was_gap
        FROM f ORDER BY user_id, hour_start""")),

    // ---- q109: context-window assembly (training-example contexts) ----
    // For every purchase event, assemble the user's 3 most recent prior
    // events as an ordered context — the per-example context window an
    // agent/behavior-model training pipeline emits. Spark-side this is
    // the NESTED formulation: window collect_list(struct) over
    // (user_id, ts, event_id) rows, then posexplode back to flat rows —
    // exercising array-of-struct machinery end to end. The oracle
    // rebuilds the same rows with a flat row_number self-join (no nested
    // types), so the hash match is a formulation-equivalence proof, not
    // a shared plan.
    //
    // 100 TB posture: one (user_id) hash shuffle for the window; the
    // context never exceeds 3 structs/row (bounded state, no skew
    // blow-up); posexplode is map-side. The flat-join alternative the
    // oracle uses would shuffle the event stream twice — the nested
    // window form is the one that scales.
    "q109_context_windows" -> QueryDef(
      build = (spark, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-3, -1)
        Tables.events(spark, dir)
          .withColumn("ctx",
            collect_list(struct(col("ts"), col("event_id"), col("event_type")))
              .over(w))
          .filter(col("event_type") === "purchase" && size(col("ctx")) > 0)
          .select(col("event_id").as("purchase_id"), col("user_id"),
            size(col("ctx")).as("n_ctx"), posexplode(col("ctx")))
          // collect_list order is the frame order (oldest→newest), so
          // n_ctx - pos makes 1 = the most recent prior event
          .select(col("purchase_id"), col("user_id"),
            (col("n_ctx") - col("pos")).cast("long").as("pos"),
            col("col.event_id").as("ctx_event_id"),
            col("col.event_type").as("ctx_type"))
          .orderBy(col("purchase_id"), col("pos"))
      },
      oracle = Some("""
        WITH r AS (
          SELECT user_id, event_id, event_type,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
          FROM events),
        p AS (SELECT user_id, event_id AS purchase_id, rn
              FROM r WHERE event_type = 'purchase')
        SELECT p.purchase_id, p.user_id,
               p.rn - c.rn AS pos,
               c.event_id AS ctx_event_id, c.event_type AS ctx_type
        FROM p JOIN r c ON c.user_id = p.user_id
          AND c.rn BETWEEN p.rn - 3 AND p.rn - 1
        ORDER BY purchase_id, pos""")),

    // ---- q132: event-sequence pattern match (MATCH_RECOGNIZE-style) ----
    // Regex over each user's ordered event-type string: conversions =
    // non-overlapping `v[^pe]*p` matches (a view leading to a purchase
    // with no error and no earlier purchase between — the negative
    // condition q33's ordered-subsequence funnel cannot express), plus
    // `ee+` error bursts. SQL MATCH_RECOGNIZE compiled to the portable
    // form: encode each event type as one char (first letters are
    // distinct here; a dictionary join generalizes), assemble per-user
    // strings, count with the engine's regex — leftmost, non-overlapping
    // scan semantics agree between Java regex and RE2 for patterns
    // without backtracking ambiguity like these.
    //
    // 100 TB posture: one entity-key shuffle (collect_list over the
    // user partition); per-user strings are bounded by per-user event
    // counts — the same memory contract every sessionization op here
    // already carries. The regex runs once per user, codegen'd.
    "q132_event_pattern_match" -> QueryDef(
      build = (spark, dir) =>
        Tables.events(spark, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ch"))
          .groupBy(col("user_id"))
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
            x => x.getField("ch")), "").as("s"))
          .select(col("user_id"),
            length(col("s")).cast("long").as("n_events"),
            regexp_count(col("s"), lit("v[^pe]*p")).cast("long")
              .as("conversions"),
            regexp_count(col("s"), lit("ee+")).cast("long").as("error_bursts"))
          .orderBy(col("user_id")),
      oracle = Some("""
        WITH s AS (
          SELECT user_id,
                 string_agg(substr(event_type, 1, 1), ''
                   ORDER BY ts, event_id) AS s
          FROM events GROUP BY user_id)
        SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
               CAST(len(regexp_extract_all(s, 'v[^pe]*p')) AS BIGINT)
                 AS conversions,
               CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT)
                 AS error_bursts
        FROM s ORDER BY user_id""")),

    // ---- q133: robust outlier detection via median/MAD ----
    // Per-event-type robust dispersion: median (exact interpolated
    // percentile, the q74-proven cross-engine form), MAD = median of
    // absolute deviations, and the |x − med| > 3·MAD outlier census —
    // the robust dual of z-scores (mean/stddev are themselves dragged
    // by the outliers they're meant to find; the median/MAD pair has a
    // 50% breakdown point). All arithmetic is exact IEEE on identical
    // inputs: interpolation is (a+b)/2 on doubles, abs/compare/3·MAD
    // are single ops — no rounding needed anywhere.
    //
    // 100 TB posture: two keyed aggregations over the same event_type
    // partitioning (median, then MAD over deviations) plus a broadcast
    // of the |types|-row median table; for bounded-cardinality value
    // domains the q116 histogram form replaces the per-key sort.
    "q133_mad_outliers" -> QueryDef(
      build = (spark, dir) => {
        Tables.events(spark, dir).createOrReplaceTempView("events_q133")
        spark.sql("""
          WITH med AS (
            SELECT event_type, percentile(value, 0.5D) AS med
            FROM events_q133 GROUP BY event_type),
          dev AS (
            SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
            FROM events_q133 e JOIN med m ON e.event_type = m.event_type),
          mad AS (
            SELECT event_type, percentile(dev, 0.5D) AS mad
            FROM dev GROUP BY event_type)
          SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 MIN(d.med) AS med, MIN(m.mad) AS mad,
                 CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_outliers,
                 MAX(CASE WHEN d.dev > 3 * m.mad THEN d.value END)
                   AS max_outlier
          FROM dev d JOIN mad m ON d.event_type = m.event_type
          GROUP BY d.event_type ORDER BY d.event_type""")
      },
      oracle = Some("""
        WITH med AS (
          SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type),
        dev AS (
          SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
          FROM events e JOIN med m ON e.event_type = m.event_type),
        mad AS (
          SELECT event_type, quantile_cont(dev, 0.5) AS mad
          FROM dev GROUP BY event_type)
        SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
               MIN(d.med) AS med, MIN(m.mad) AS mad,
               CAST(SUM(CASE WHEN d.dev > 3 * m.mad THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_outliers,
               MAX(CASE WHEN d.dev > 3 * m.mad THEN d.value END)
                 AS max_outlier
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type ORDER BY d.event_type""")),

    // ---- q174: time-bounded strict funnel ----
    // q33 answers "did the user EVER convert after signup"; real funnel
    // analytics bound each step: first signup s, then the first view v
    // with s < v ≤ s+1h, then the first purchase p with v < p ≤ v+1h.
    // Each stage is one conditional-min aggregation over the user's
    // events keyed against the PREVIOUS stage's anchor — the sequential
    // dependence is resolved by three keyed per-user aggs, not a
    // per-row path search. All event-time arithmetic in integer µs.
    //
    // 100 TB posture: three passes over the (already user-bucketed)
    // event stream, each a partial/final agg + a user-keyed join of a
    // 1-column anchor — no window over raw events, no cross join, and
    // each stage's anchor table is |users|-sized.
    "q174_timed_funnel" -> QueryDef(
      build = (spark, dir) => {
        val (e, s2) = signupViews(spark, dir)
        val s3 = e.join(s2.filter(col("v_us").isNotNull)
            .select(col("user_id"), col("v_us")), "user_id")
          .groupBy(col("user_id"), col("v_us"))
          .agg(min(when(col("event_type") === "purchase" &&
            col("us") > col("v_us") && col("us") <= col("v_us") + HourUs,
            col("us"))).as("p_us"))
        val stage2 = s2.agg(
          count(lit(1)).as("n_signup"),
          count(col("v_us")).as("n_viewed_1h"))
        val stage3 = s3.agg(
          count(col("p_us")).as("n_purchased_1h"),
          coalesce(sum(col("p_us") - col("v_us")), lit(0L)).as("view_to_buy_us"))
        stage2.crossJoin(broadcast(stage3))
          .select(col("n_signup"), col("n_viewed_1h"), col("n_purchased_1h"),
            expr("n_viewed_1h * 1000000 div n_signup").as("view_rate_ppm"),
            expr("case when n_viewed_1h = 0 then 0 else " +
              "n_purchased_1h * 1000000 div n_viewed_1h end").as("buy_rate_ppm"),
            col("view_to_buy_us"))
      },
      oracle = Some(s"""
        $FunnelCtes,
        s3 AS (
          SELECT e.user_id, v_us,
                 MIN(CASE WHEN event_type = 'purchase' AND us > v_us
                      AND us <= v_us + 3600000000 THEN us END) AS p_us
          FROM e JOIN (SELECT user_id, v_us FROM s2 WHERE v_us IS NOT NULL) v
            ON e.user_id = v.user_id
          GROUP BY e.user_id, v_us),
        a2 AS (
          SELECT COUNT(*) AS n_signup,
                 CAST(COUNT(v_us) AS BIGINT) AS n_viewed_1h FROM s2),
        a3 AS (
          SELECT CAST(COUNT(p_us) AS BIGINT) AS n_purchased_1h,
                 CAST(COALESCE(SUM(p_us - v_us), 0) AS BIGINT)
                   AS view_to_buy_us
          FROM s3)
        SELECT n_signup, n_viewed_1h, n_purchased_1h,
               n_viewed_1h * 1000000 // n_signup AS view_rate_ppm,
               CASE WHEN n_viewed_1h = 0 THEN 0
                    ELSE n_purchased_1h * 1000000 // n_viewed_1h END
                 AS buy_rate_ppm,
               view_to_buy_us
        FROM a2 CROSS JOIN a3""")),

    // ---- q175: conversion-lag quartiles, exact type-1 ----
    // The latency distribution behind q174's funnel: view→purchase lag
    // (integer µs) for 1h-converters, quartiles by the TYPE-1 (no
    // interpolation) definition — the value at rank ⌈q·n⌉ in the sorted
    // multiset, selected by pure integer rank arithmetic, so no
    // interpolation-formula or FP-average difference between engines
    // can exist. Rank ties on equal lags pick the same VALUE whatever
    // the tie order (sorted by lag first).
    //
    // 100 TB posture: lags live on the |converters|-sized derived
    // table (three keyed aggs away from the event stream, as q174);
    // the ranking window runs there, never over raw events.
    "q175_conversion_lag_quartiles" -> QueryDef(
      build = (spark, dir) => {
        val (e, views) = signupViews(spark, dir)
        val s2 = views.filter(col("v_us").isNotNull)
        val lags = e.join(s2.select(col("user_id"), col("v_us")), "user_id")
          .groupBy(col("user_id"), col("v_us"))
          .agg(min(when(col("event_type") === "purchase" &&
            col("us") > col("v_us") && col("us") <= col("v_us") + HourUs,
            col("us"))).as("p_us"))
          .filter(col("p_us").isNotNull)
          .select(col("user_id"), (col("p_us") - col("v_us")).as("lag_us"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("lag_us"), col("user_id"))
        val ranked = lags
          .withColumn("rn", row_number().over(w).cast("long"))
          .crossJoin(broadcast(lags.agg(count(lit(1)).as("n"))))
        ranked.agg(
            min(col("n")).as("n_converters"),
            max(when(col("rn") === expr("(25 * n + 99) div 100"),
              col("lag_us"))).as("p25_lag_us"),
            max(when(col("rn") === expr("(50 * n + 99) div 100"),
              col("lag_us"))).as("p50_lag_us"),
            max(when(col("rn") === expr("(75 * n + 99) div 100"),
              col("lag_us"))).as("p75_lag_us"),
            max(col("lag_us")).as("max_lag_us"))
      },
      oracle = Some(s"""
        $FunnelCtes,
        lags AS (
          SELECT e.user_id, MIN(CASE WHEN event_type = 'purchase'
                   AND us > v_us AND us <= v_us + 3600000000 THEN us END)
                   - v_us AS lag_us
          FROM e JOIN (SELECT user_id, v_us FROM s2 WHERE v_us IS NOT NULL) v
            ON e.user_id = v.user_id
          GROUP BY e.user_id, v_us
          HAVING MIN(CASE WHEN event_type = 'purchase'
                   AND us > v_us AND us <= v_us + 3600000000 THEN us END)
                   IS NOT NULL),
        ranked AS (
          SELECT lag_us,
                 ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS rn,
                 (SELECT COUNT(*) FROM lags) AS n
          FROM lags)
        SELECT CAST(MIN(n) AS BIGINT) AS n_converters,
               MAX(CASE WHEN rn = (25 * n + 99) // 100 THEN lag_us END)
                 AS p25_lag_us,
               MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN lag_us END)
                 AS p50_lag_us,
               MAX(CASE WHEN rn = (75 * n + 99) // 100 THEN lag_us END)
                 AS p75_lag_us,
               MAX(lag_us) AS max_lag_us
        FROM ranked""")),

    // ---- q188: peak session concurrency (sweep line) ----
    // "How many sessions were live AT ONCE, per day" — the capacity
    // metric load tests and infra sizing start from, and a classic
    // interval problem relational engines usually punt on. Sessions are
    // q82's gaps-and-islands (gap > 30 min, (ts, event_id) tie-break);
    // each [first, last] interval becomes a +1/−1 delta pair, collapsed
    // per INSTANT first (s starts, e ends) so the running sum never
    // depends on intra-instant row order: with closed intervals, starts
    // at t count before ends at t, so live(t) = cum_net(t) + e(t) —
    // exact integers end to end, no tie hazard by construction.
    //
    // 100 TB posture: sessionization is the per-user keyed window;
    // instants are ≤ 2·sessions rows, collapsed by a keyed agg; the
    // global prefix sum is PAID in the scale-safe two-pass form (the
    // q155/q180 recipe): instants flow through a DAY-sharded window,
    // and only the day-count-sized net-offset table uses an
    // unpartitioned window — at billions of sessions no corpus-scale
    // rowset ever serializes through one partition.
    "q188_peak_concurrency" -> QueryDef(
      build = (spark, dir) => {
        val wl = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val e = Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"))
        val sess = e
          .withColumn("new_sess",
            when(lag(col("us"), 1).over(wl).isNull ||
              col("us") - lag(col("us"), 1).over(wl) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_sess")).over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("us")).as("a"), max(col("us")).as("b"))
        val pts = sess.select(col("a").as("us"), lit(1L).as("s"), lit(0L).as("e"))
          .unionAll(sess.select(col("b").as("us"), lit(0L).as("s"), lit(1L).as("e")))
          .groupBy(col("us"))
          .agg(sum(col("s")).as("s"), sum(col("e")).as("e"))
          .withColumn("pshard", expr("us div 86400000000"))
        // two-pass distributed prefix sum over instant order (q155 form)
        val within = pts.withColumn("wcum",
          sum(col("s") - col("e")).over(
            Window.partitionBy(col("pshard")).orderBy(col("us"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val offsets = pts.groupBy(col("pshard"))
          .agg(sum(col("s") - col("e")).as("net"))
          .withColumn("offset",
            coalesce(sum(col("net")).over(
              Window.orderBy(col("pshard"))
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("pshard"), col("offset"))
        within.join(broadcast(offsets), "pshard")
          .withColumn("live", col("wcum") + col("offset") + col("e"))
          .select(date_format(timestamp_micros(col("us")), "yyyy-MM-dd").as("day"),
            col("live"), col("s"))
          .groupBy(col("day"))
          .agg(max(col("live")).as("peak_concurrent"),
            sum(col("s")).as("sessions_started"))
          .orderBy(col("day"))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS us
                   FROM events),
        m AS (SELECT user_id, event_id, us,
                     CASE WHEN LAG(us) OVER w IS NULL
                            OR us - LAG(us) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sx AS (SELECT user_id, us,
                      SUM(new_sess) OVER (PARTITION BY user_id
                        ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM m),
        sess AS (SELECT user_id, sid, MIN(us) AS a, MAX(us) AS b
                 FROM sx GROUP BY 1, 2),
        pts AS (SELECT us, CAST(SUM(s) AS BIGINT) AS s,
                       CAST(SUM(e) AS BIGINT) AS e
                FROM (SELECT a AS us, 1 AS s, 0 AS e FROM sess
                      UNION ALL
                      SELECT b AS us, 0 AS s, 1 AS e FROM sess)
                GROUP BY us),
        liv AS (SELECT us, s, e,
                       CAST(SUM(s - e) OVER (ORDER BY us
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) + e AS live
                FROM pts)
        SELECT strftime(make_timestamp(us), '%Y-%m-%d') AS day,
               CAST(MAX(live) AS BIGINT) AS peak_concurrent,
               CAST(SUM(s) AS BIGINT) AS sessions_started
        FROM liv GROUP BY 1 ORDER BY day""")),

    // ---- q189: ingestion coverage gaps against a calendar spine ----
    // The monitoring question behind every data-freshness SLA: which
    // hours of the expected range produced NO data, per stream — and
    // how long was the worst outage. A spine of integer hour indexes
    // (µs div 3600000000 — no timezone, no timestamp arithmetic) spans
    // the corpus range; each event type anti-joins its active hours,
    // and the missing set's longest consecutive run comes from the
    // gaps-and-islands rank difference. Exact integers end to end;
    // types with full coverage report zeros (the left join keeps them).
    //
    // 100 TB posture: the event-scale stage is one (type, hour) distinct
    // — a keyed partial agg; the spine is |hours|·|types| rows (720·5
    // here, ~9k/year per stream — trivial by construction), so the
    // anti-join, islands window and final joins all run at spine
    // cardinality, broadcast-sized.
    "q189_coverage_gaps" -> QueryDef(
      build = (spark, dir) => {
        val e = Tables.events(spark, dir)
          .select(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("h"))
        val act = e.distinct()
        val b = e.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
        val types = e.select(col("event_type")).distinct()
        val spine = types.crossJoin(broadcast(b))
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"))).as("h"))
        val miss = spine.join(act, Seq("event_type", "h"), "left_anti")
        val runs = miss
          .withColumn("grp", col("h") - row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("h"))))
          .groupBy(col("event_type"), col("grp"))
          .agg(count(lit(1)).as("run"))
        val perType = miss.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_missing"))
          .join(runs.groupBy(col("event_type"))
            .agg(max(col("run")).as("longest")), Seq("event_type"))
        types.crossJoin(broadcast(b))
          .join(perType, Seq("event_type"), "left_outer")
          .select(col("event_type"),
            (col("hi") - col("lo") + 1).as("n_hours_spine"),
            coalesce(col("n_missing"), lit(0L)).as("n_hours_missing"),
            coalesce(col("longest"), lit(0L)).as("longest_gap_hours"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH e AS (SELECT event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h
                   FROM events),
        b AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM e),
        t AS (SELECT DISTINCT event_type FROM e),
        act AS (SELECT DISTINCT event_type, h FROM e),
        spine AS (SELECT t.event_type, unnest(range(b.lo, b.hi + 1)) AS h
                  FROM t, b),
        miss AS (SELECT s.event_type, s.h
                 FROM spine s LEFT JOIN act a
                   ON a.event_type = s.event_type AND a.h = s.h
                 WHERE a.h IS NULL),
        isl AS (SELECT event_type, h,
                       h - ROW_NUMBER() OVER (PARTITION BY event_type
                         ORDER BY h) AS grp
                FROM miss),
        runs AS (SELECT event_type, grp, COUNT(*) AS run
                 FROM isl GROUP BY 1, 2),
        pt AS (SELECT m.event_type,
                      COUNT(*) AS n_missing,
                      (SELECT CAST(MAX(run) AS BIGINT) FROM runs r
                       WHERE r.event_type = m.event_type) AS longest
               FROM miss m GROUP BY m.event_type)
        SELECT t.event_type,
               (b.hi - b.lo + 1) AS n_hours_spine,
               CAST(COALESCE(pt.n_missing, 0) AS BIGINT) AS n_hours_missing,
               CAST(COALESCE(pt.longest, 0) AS BIGINT) AS longest_gap_hours
        FROM t CROSS JOIN b LEFT JOIN pt ON pt.event_type = t.event_type
        ORDER BY t.event_type""")),

    // ---- q215: Bradley–Terry preference strengths (MM fixed point) ----
    // The preference-model primitive behind RLHF reward data: fit item
    // strengths from PAIRWISE comparisons, not absolute scores. Matches:
    // within each (user, hour) cell the event types present are compared
    // by their max value — higher value wins, exact-equal ties are
    // discarded (double comparison is bit-deterministic on parquet
    // values in both engines). Fit: 3 rounds of Hunter's MM update
    // p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized to mean 1e6, in
    // scaled-integer fixed point (every division a truncating `div`,
    // mirrored — the q106/q209 discipline, but a RATIO update, not a
    // linear matvec).
    //
    // 100 TB posture: the only corpus-scale work is the (user, hour,
    // type) keyed agg and the within-cell self-equijoin (fan-out
    // bounded by |types|² per cell); everything downstream lives on
    // |types| and |types|² rows. Each MM round is localCheckpoint'd
    // (the q209 lineage lesson).
    "q215_bradley_terry" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"),
            col("event_type"))
          .agg(max(col("value")).as("v"))
        val a = ev.select(col("user_id"), col("h"),
          col("event_type").as("ta"), col("v").as("va"))
        val b = ev.select(col("user_id"), col("h"),
          col("event_type").as("tb"), col("v").as("vb"))
        val m = a.join(b, Seq("user_id", "h"))
          .filter(col("ta") < col("tb") && col("va") =!= col("vb"))
          .select(
            when(col("va") > col("vb"), col("ta")).otherwise(col("tb"))
              .as("winner"),
            when(col("va") > col("vb"), col("tb")).otherwise(col("ta"))
              .as("loser"))
        val wij = m.groupBy(col("winner"), col("loser"))
          .agg(count(lit(1)).as("w"))
        val nij = wij.select(col("winner").as("i"), col("loser").as("j"),
            col("w").as("n0"))
          .unionAll(wij.select(col("loser").as("i"), col("winner").as("j"),
            col("w").as("n0")))
          .groupBy(col("i"), col("j")).agg(sum(col("n0")).as("n_ij"))
        val wins = wij.groupBy(col("winner")).agg(sum(col("w")).as("w"))
          .withColumnRenamed("winner", "item")
        var p = ev.select(col("event_type").as("item")).distinct()
          .withColumn("p", lit(1000000L))
        for (_ <- 1 to 3) {
          val d = nij
            .join(p.select(col("item").as("i"), col("p").as("pi")), Seq("i"))
            .join(p.select(col("item").as("j"), col("p").as("pj")), Seq("j"))
            .groupBy(col("i"))
            .agg(sum(expr("(n_ij * 1000000000000) div (pi + pj)")).as("s"))
            .withColumnRenamed("i", "item")
          val u = wins.join(d, Seq("item"))
            .select(col("item"), expr("(w * 1000000000000) div s").as("praw"))
          val t = u.agg(sum(col("praw")).as("sp"), count(lit(1)).as("k"))
          p = u.crossJoin(broadcast(t))
            .select(col("item"),
              expr("(praw * (k * 1000000)) div sp").as("p"))
            .localCheckpoint()
        }
        val nm = nij.groupBy(col("i")).agg(sum(col("n_ij")).as("n_matches"))
          .withColumnRenamed("i", "item")
        wins.join(nm, Seq("item")).join(p, Seq("item"))
          .select(col("item").as("event_type"), col("n_matches"),
            col("w").as("n_wins"), col("p").as("strength_ppm"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
                 event_type, MAX(value) AS v
          FROM events GROUP BY 1, 2, 3),
        m AS (
          SELECT CASE WHEN a.v > b.v THEN a.event_type
                      ELSE b.event_type END AS winner,
                 CASE WHEN a.v > b.v THEN b.event_type
                      ELSE a.event_type END AS loser
          FROM ev a JOIN ev b
            ON a.user_id = b.user_id AND a.h = b.h
               AND a.event_type < b.event_type
          WHERE a.v <> b.v),
        wij AS (SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS w
                FROM m GROUP BY 1, 2),
        nij AS (SELECT i, j, CAST(SUM(n0) AS BIGINT) AS n_ij FROM (
                  SELECT winner AS i, loser AS j, w AS n0 FROM wij
                  UNION ALL SELECT loser, winner, w FROM wij)
                GROUP BY 1, 2),
        wins AS (SELECT winner AS item, CAST(SUM(w) AS BIGINT) AS w
                 FROM wij GROUP BY 1),
        p0 AS (SELECT DISTINCT event_type AS item,
                      CAST(1000000 AS BIGINT) AS p FROM ev),
        d1 AS (SELECT n.i AS item,
                      CAST(SUM((n.n_ij * 1000000000000) // (pi.p + pj.p))
                        AS BIGINT) AS s
               FROM nij n JOIN p0 pi ON pi.item = n.i
                          JOIN p0 pj ON pj.item = n.j GROUP BY 1),
        u1 AS (SELECT w.item, (w.w * 1000000000000) // d1.s AS praw
               FROM wins w JOIN d1 USING (item)),
        t1 AS (SELECT CAST(SUM(praw) AS BIGINT) AS sp, COUNT(*) AS k
               FROM u1),
        p1 AS (SELECT item, (praw * (k * 1000000)) // sp AS p
               FROM u1 CROSS JOIN t1),
        d2 AS (SELECT n.i AS item,
                      CAST(SUM((n.n_ij * 1000000000000) // (pi.p + pj.p))
                        AS BIGINT) AS s
               FROM nij n JOIN p1 pi ON pi.item = n.i
                          JOIN p1 pj ON pj.item = n.j GROUP BY 1),
        u2 AS (SELECT w.item, (w.w * 1000000000000) // d2.s AS praw
               FROM wins w JOIN d2 USING (item)),
        t2 AS (SELECT CAST(SUM(praw) AS BIGINT) AS sp, COUNT(*) AS k
               FROM u2),
        p2 AS (SELECT item, (praw * (k * 1000000)) // sp AS p
               FROM u2 CROSS JOIN t2),
        d3 AS (SELECT n.i AS item,
                      CAST(SUM((n.n_ij * 1000000000000) // (pi.p + pj.p))
                        AS BIGINT) AS s
               FROM nij n JOIN p2 pi ON pi.item = n.i
                          JOIN p2 pj ON pj.item = n.j GROUP BY 1),
        u3 AS (SELECT w.item, (w.w * 1000000000000) // d3.s AS praw
               FROM wins w JOIN d3 USING (item)),
        t3 AS (SELECT CAST(SUM(praw) AS BIGINT) AS sp, COUNT(*) AS k
               FROM u3),
        p3 AS (SELECT item, (praw * (k * 1000000)) // sp AS p
               FROM u3 CROSS JOIN t3),
        nm AS (SELECT i AS item, CAST(SUM(n_ij) AS BIGINT) AS n_matches
               FROM nij GROUP BY 1)
        SELECT w.item AS event_type, nm.n_matches, w.w AS n_wins,
               p3.p AS strength_ppm
        FROM wins w JOIN nm USING (item) JOIN p3 USING (item)
        ORDER BY event_type""")),

    // ---- q217: multi-touch conversion attribution ----
    // The credit-assignment dual of q33/q174's funnels: funnels COUNT
    // stage progressions; attribution DIVIDES each conversion's credit
    // across the touchpoints that preceded it. For every purchase, the
    // touches are the same user's non-purchase events in the trailing
    // 24 h; three standard models side by side per event type:
    // linear (1/cnt each, integer micro-credit via truncating div —
    // exact and mirrored), first-touch, and last-touch (earliest/latest
    // by (ts, event_id) — complete tie-break).
    //
    // 100 TB posture: the conversion↔touch pairing is a user-keyed
    // equijoin + time-range filter (q36's interval-join shape, never
    // cross-user); the per-conversion windows partition on conv_id
    // (bounded group = touches per conversion-day); output is |types|.
    "q217_touch_attribution" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"))
        val conv = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("conv_id"),
            col("us").as("cus"))
        val tch = ev.filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("event_id").as("touch_id"),
            col("us").as("tus"), col("event_type"))
        val j = conv.join(tch, Seq("user_id"))
          .filter(col("tus") <= col("cus") &&
            col("tus") > col("cus") - lit(86400000000L))
        val wCnt = Window.partitionBy(col("conv_id"))
        val wF = Window.partitionBy(col("conv_id"))
          .orderBy(col("tus"), col("touch_id"))
        val wL = Window.partitionBy(col("conv_id"))
          .orderBy(col("tus").desc, col("touch_id").desc)
        j.withColumn("cnt", count(lit(1)).over(wCnt))
          .withColumn("rf", row_number().over(wF))
          .withColumn("rl", row_number().over(wL))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_touches"),
            sum(expr("1000000 div cnt")).as("linear_credit_micro"),
            sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_touch"),
            sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_touch"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH ev AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                           user_id, event_type FROM events),
        conv AS (SELECT user_id, event_id AS conv_id, us AS cus
                 FROM ev WHERE event_type = 'purchase'),
        tch AS (SELECT user_id, event_id AS touch_id, us AS tus, event_type
                FROM ev WHERE event_type <> 'purchase'),
        j AS (SELECT c.conv_id, t.event_type, t.tus, t.touch_id
              FROM conv c JOIN tch t ON c.user_id = t.user_id
              WHERE t.tus <= c.cus AND t.tus > c.cus - 86400000000),
        r AS (SELECT conv_id, event_type,
                     COUNT(*) OVER (PARTITION BY conv_id) AS cnt,
                     ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY tus, touch_id) AS rf,
                     ROW_NUMBER() OVER (PARTITION BY conv_id
                       ORDER BY tus DESC, touch_id DESC) AS rl
              FROM j)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(1000000 // cnt) AS BIGINT) AS linear_credit_micro,
               CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS first_touch,
               CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS last_touch
        FROM r GROUP BY event_type ORDER BY event_type""")),

    // ---- q227: sequential pattern mining (PrefixSpan-style support) ----
    // NON-CONTIGUOUS subsequence support — the MLlib PrefixSpan
    // capability, and a different question from q132's regex (which
    // demands contiguity) or q186's transitions (adjacent pairs only):
    // for every ordered type triple <a,b,c>, in how many users' first-8
    // event prefixes does a appear, then b after it, then c after that,
    // with any gaps? Existence is decided by the standard greedy
    // earliest-occurrence chain (p1 = first a, p2 = first b past p1,
    // p3 = first c past p2 — greedy is exact for existence), computed
    // as three keyed min-aggregations over sequence positions from ONE
    // per-user window. Top-20 by (support DESC, a, b, c).
    //
    // 100 TB posture: positions come from a user-keyed window; each
    // chain step is a user-keyed equijoin with fan-out bounded by
    // |types|² candidates per user row; the 125-row candidate dim
    // broadcasts. Nothing ever leaves (user, candidate) granularity
    // until the |candidates| support agg.
    "q227_sequential_patterns" -> QueryDef(
      build = (spark, dir) => {
        val ev = Tables.events(spark, dir)
          .select(col("user_id"), col("event_type").as("t"),
            row_number().over(Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))).cast("long").as("rn"))
          .filter(col("rn") <= 8)
        val ty = Tables.events(spark, dir)
          .select(col("event_type").as("t")).distinct()
        val cand = ty.select(col("t").as("a"))
          .crossJoin(ty.select(col("t").as("b")))
          .crossJoin(ty.select(col("t").as("c")))
        val tot = Tables.events(spark, dir)
          .agg(countDistinct(col("user_id")).as("nu"))
        val s1 = ev.join(broadcast(cand), ev("t") === cand("a"))
          .groupBy(col("user_id"), col("a"), col("b"), col("c"))
          .agg(min(col("rn")).as("p1"))
        val e2 = ev.select(col("user_id").as("u2"), col("t").as("t2"),
          col("rn").as("rn2"))
        val s2 = s1.join(e2, col("u2") === col("user_id") &&
            col("t2") === col("b") && col("rn2") > col("p1"))
          .groupBy(col("user_id"), col("a"), col("b"), col("c"))
          .agg(min(col("rn2")).as("p2"))
        val e3 = ev.select(col("user_id").as("u3"), col("t").as("t3"),
          col("rn").as("rn3"))
        val s3 = s2.join(e3, col("u3") === col("user_id") &&
            col("t3") === col("c") && col("rn3") > col("p2"))
          .select(col("user_id"), col("a"), col("b"), col("c")).distinct()
        s3.groupBy(col("a"), col("b"), col("c"))
          .agg(count(lit(1)).as("n_users"))
          .crossJoin(broadcast(tot))
          .select(col("a"), col("b"), col("c"), col("n_users"),
            expr("(n_users * 1000000) div nu").as("support_ppm"))
          .orderBy(col("n_users").desc, col("a"), col("b"), col("c"))
          .limit(20)
      },
      oracle = Some("""
        WITH ev0 AS (
          SELECT user_id, event_type AS t,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          FROM events),
        ev AS (SELECT * FROM ev0 WHERE rn <= 8),
        ty AS (SELECT DISTINCT event_type AS t FROM events),
        cand AS (SELECT a.t AS a, b.t AS b, c.t AS c
                 FROM ty a CROSS JOIN ty b CROSS JOIN ty c),
        tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu
                FROM events),
        s1 AS (SELECT e.user_id, cd.a, cd.b, cd.c, MIN(e.rn) AS p1
               FROM ev e JOIN cand cd ON e.t = cd.a GROUP BY 1, 2, 3, 4),
        s2 AS (SELECT s.user_id, s.a, s.b, s.c, MIN(e.rn) AS p2
               FROM s1 s JOIN ev e ON e.user_id = s.user_id
                                  AND e.t = s.b AND e.rn > s.p1
               GROUP BY 1, 2, 3, 4),
        s3 AS (SELECT s.user_id, s.a, s.b, s.c
               FROM s2 s JOIN ev e ON e.user_id = s.user_id
                                  AND e.t = s.c AND e.rn > s.p2
               GROUP BY 1, 2, 3, 4),
        sup AS (SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n_users
                FROM s3 GROUP BY 1, 2, 3)
        SELECT a, b, c, n_users, (n_users * 1000000) // nu AS support_ppm
        FROM sup CROSS JOIN tot
        ORDER BY n_users DESC, a, b, c LIMIT 20""")),

    // ---- q229: forecast backtest — MASE of the seasonal-naive model ----
    // The forecast-accuracy eval the corpus lacked (q06 PRODUCES a
    // forecast; nothing scored one): hold out each type's final 24
    // hours, predict each held-out hourly count with the same hour one
    // day earlier (seasonal naive), and scale its MAE by the in-sample
    // one-step-naive MAE — the MASE denominator that makes accuracy
    // comparable across series of different volume. Integer-exact:
    // hours are epoch-µs div 3.6e9, both MAEs stay as (sum, count)
    // integer pairs, and the ratio is ONE cross-multiplied truncating
    // div to ppm — no rational ever rounds.
    //
    // 100 TB posture: the hourly rollup is one keyed agg (shuffle =
    // |types|·|hours|); forecast and naive pairings are self-equijoins
    // on (type, hour−k) over that SMALL aggregate, never the raw
    // events; output is |types| rows.
    "q229_forecast_backtest" -> QueryDef(
      build = (spark, dir) => {
        val h = Tables.events(spark, dir)
          .groupBy(col("event_type"),
            expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("n"))
        val mx = h.agg(max(col("hr")).as("mh"))
        val prev24 = h.select(col("event_type").as("p_type"),
          col("hr").as("p_hr"), col("n").as("fc"))
        val test = h.crossJoin(broadcast(mx))
          .filter(col("hr") > col("mh") - 24)
          .join(prev24, col("p_type") === col("event_type") &&
            col("p_hr") === col("hr") - 24)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_test"),
            sum(abs(col("n") - col("fc"))).as("sae_test"))
        val prev1 = h.select(col("event_type").as("q_type"),
          col("hr").as("q_hr"), col("n").as("pn"))
        val naive = h.crossJoin(broadcast(mx))
          .filter(col("hr") <= col("mh") - 24)
          .join(prev1, col("q_type") === col("event_type") &&
            col("q_hr") === col("hr") - 1)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_naive"),
            sum(abs(col("n") - col("pn"))).as("sae_naive"))
        // sae_naive = 0 (perfectly flat in-sample series) would be NULL
        // under Spark `div` but a hard error in DuckDB `//` — drop such
        // series explicitly on BOTH sides (MASE is undefined there).
        test.join(naive, Seq("event_type"))
          .filter(col("sae_naive") > 0)
          .select(col("event_type"), col("n_test"), col("sae_test"),
            col("n_naive"), col("sae_naive"),
            expr("(sae_test * n_naive * 1000000) div (n_test * sae_naive)")
              .as("mase_ppm"))
          .orderBy(col("event_type"))
      },
      oracle = Some(s"""
        $HourlyCountsCte,
        mx AS (SELECT MAX(hr) AS mh FROM h),
        test AS (SELECT t.event_type, t.n, p.n AS fc
                 FROM h t JOIN h p ON p.event_type = t.event_type
                                  AND p.hr = t.hr - 24
                 CROSS JOIN mx WHERE t.hr > mx.mh - 24),
        tr AS (SELECT t.event_type, ABS(t.n - p.n) AS ae
               FROM h t JOIN h p ON p.event_type = t.event_type
                                AND p.hr = t.hr - 1
               CROSS JOIN mx WHERE t.hr <= mx.mh - 24),
        te AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
                      CAST(SUM(ABS(n - fc)) AS BIGINT) AS sae_test
               FROM test GROUP BY 1),
        tn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_naive,
                      CAST(SUM(ae) AS BIGINT) AS sae_naive
               FROM tr GROUP BY 1)
        SELECT te.event_type, n_test, sae_test, n_naive, sae_naive,
               (sae_test * n_naive * 1000000) // (n_test * sae_naive)
                 AS mase_ppm
        FROM te JOIN tn USING (event_type)
        WHERE sae_naive > 0 ORDER BY te.event_type""")),

    // ---- q238: Theil–Sen robust trend per series ----
    // The outlier-immune slope estimator (median of all pairwise
    // slopes) next to q135's least-squares trend — the robust-stats
    // member the monitoring family was missing: one traffic spike can
    // drag an OLS slope arbitrarily, but it perturbs at most h−1 of the
    // h·(h−1)/2 pairwise slopes, so the MEDIAN barely moves (the 29.3%
    // breakdown point is why SRE dashboards fit Theil–Sen). Slopes are
    // integer ppm events/hour (truncating div over the exact integer
    // rise/run — mirrored engine arithmetic); the median is the exact
    // LOWER median (rank (m+1) div 2 under a full (slope, i, j)
    // tie-break), not an approximation.
    //
    // 100 TB posture: the corpus-scale work is ONE keyed hourly agg;
    // the pairwise expansion is O(hours²) per series — hours is a
    // bounded window count (720 at a month of data), independent of
    // event volume, and the self-join + median window are keyed by
    // event_type so series parallelize. OLS (q135) stays the cheap
    // path; this is the robust one.
    "q238_theil_sen_trend" -> QueryDef(
      build = (spark, dir) => {
        val era = Tables.events(spark, dir)
        val h = era
          .select(col("event_type"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000")
              .as("hr"))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"))
        val a = h.select(col("event_type"), col("hr").as("hi"),
          col("n").as("ni"))
        val b = h.select(col("event_type"), col("hr").as("hj"),
          col("n").as("nj"))
        val slopes = a.join(b, Seq("event_type"))
          .filter(col("hi") < col("hj"))
          .select(col("event_type"), col("hi"), col("hj"),
            expr("((nj - ni) * 1000000) div (hj - hi)").as("slope_ppm"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("slope_ppm"), col("hi"), col("hj"))
        val wn = Window.partitionBy(col("event_type"))
        slopes
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("m", count(lit(1)).over(wn))
          .filter(col("rk") === expr("(m + 1) div 2"))
          .join(h.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_hours")), Seq("event_type"))
          .select(col("event_type"), col("n_hours"),
            col("m").as("n_pairs"), col("slope_ppm").as("theil_sen_ppm"))
          .orderBy(col("event_type"))
      },
      oracle = Some(s"""
        $HourlyCountsCte,
        s AS (SELECT a.event_type, a.hr AS hi, b.hr AS hj,
                     ((b.n - a.n) * 1000000) // (b.hr - a.hr) AS slope_ppm
              FROM h a JOIN h b ON b.event_type = a.event_type
                                AND a.hr < b.hr),
        r AS (SELECT *,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY slope_ppm, hi, hj) AS rk,
                     COUNT(*) OVER (PARTITION BY event_type) AS m
              FROM s),
        nh AS (SELECT event_type, COUNT(*) AS n_hours FROM h GROUP BY 1)
        SELECT r.event_type, nh.n_hours, r.m AS n_pairs,
               r.slope_ppm AS theil_sen_ppm
        FROM r JOIN nh USING (event_type)
        WHERE r.rk = (r.m + 1) // 2
        ORDER BY r.event_type""")),

    // ---- q261: CUSUM change-point detection ----
    // Level-shift monitoring on the per-type daily count series (the
    // Page '54 statistic a pipeline watches for ingest regressions and
    // distribution drift). The recursion S_t = max(0, S_{t−1} + y_t)
    // has an EXACT window form — S_t = P_t − min(0, min_{j≤t} P_j)
    // with P the prefix sum — so no recursive CTE and no driver loop:
    // two per-series window passes (prefix sum, running extremum),
    // which is the 100 TB plan (windows partition by series; nothing
    // crosses series). Deviations are exactly integer by scaling:
    // y_t = x_t·n_days − total (deviation from the mean, ×n_days).
    // Both directions reported (down-CUSUM is the same identity on
    // −y: S'_t = max(0,max P) − P_t), argmax day tie-breaks earliest,
    // and up_rel_ppm normalizes the peak by total·n_days for a
    // scale-free comparison across types.
    "q261_cusum_changepoint" -> QueryDef(
      build = (spark, dir) => {
        val daily = Tables.events(spark, dir)
          .groupBy(col("event_type"),
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd")
              .as("day"))
          .agg(count(lit(1)).as("x"))
        val tot = daily.groupBy(col("event_type"))
          .agg(sum(col("x")).as("total"), count(lit(1)).as("n_days"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scored = daily.join(broadcast(tot), Seq("event_type"))
          .withColumn("y", col("x") * col("n_days") - col("total"))
          .withColumn("p", sum(col("y")).over(w))
          .withColumn("s_up",
            col("p") - least(lit(0L), min(col("p")).over(w)))
          .withColumn("s_dn",
            greatest(lit(0L), max(col("p")).over(w)) - col("p"))
        val ru = row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("s_up").desc, col("day")))
        val rd = row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("s_dn").desc, col("day")))
        scored.withColumn("ru", ru).withColumn("rd", rd)
          .groupBy(col("event_type"))
          .agg(max(col("n_days")).as("n_days"),
            max(col("total")).as("total"),
            max(col("s_up")).as("up_stat"),
            max(when(col("ru") === 1, col("day"))).as("up_day"),
            max(col("s_dn")).as("dn_stat"),
            max(when(col("rd") === 1, col("day"))).as("dn_day"))
          .withColumn("up_rel_ppm",
            expr("up_stat * 1000000 div (total * n_days)"))
          .orderBy(col("event_type"))
      },
      oracle = Some("""
        WITH daily AS (SELECT event_type,
                              strftime(date_trunc('day', ts), '%Y-%m-%d')
                                AS day,
                              CAST(COUNT(*) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        tot AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS total,
                       CAST(COUNT(*) AS BIGINT) AS n_days
                FROM daily GROUP BY 1),
        sc AS (SELECT d.event_type, d.day,
                      d.x * t.n_days - t.total AS y, t.total, t.n_days
               FROM daily d JOIN tot t USING (event_type)),
        pf AS (SELECT *, SUM(y) OVER w AS p FROM sc
               WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING)),
        st AS (SELECT *,
                      p - LEAST(CAST(0 AS BIGINT), MIN(p) OVER w) AS s_up,
                      GREATEST(CAST(0 AS BIGINT), MAX(p) OVER w) - p AS s_dn
               FROM pf WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING)),
        rk AS (SELECT *,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY s_up DESC, day) AS ru,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                        ORDER BY s_dn DESC, day) AS rd
               FROM st)
        SELECT event_type, MAX(n_days) AS n_days, MAX(total) AS total,
               CAST(MAX(s_up) AS BIGINT) AS up_stat,
               MAX(CASE WHEN ru = 1 THEN day END) AS up_day,
               CAST(MAX(s_dn) AS BIGINT) AS dn_stat,
               MAX(CASE WHEN rd = 1 THEN day END) AS dn_day,
               CAST(MAX(s_up) AS BIGINT) * 1000000
                 // (MAX(total) * MAX(n_days)) AS up_rel_ppm
        FROM rk GROUP BY event_type ORDER BY event_type""")),

    // ---- q269: incremental SCD-2 CDC merge ≡ from-scratch rebuild ----
    // The warehouse MERGE nobody can avoid: a dimension's SCD-2 history
    // already exists (built from pre-cutoff data) and a CDC batch
    // arrives (post-cutoff events); the incremental path must close the
    // open intervals, append the new versions, and — the subtle case —
    // EXTEND an open interval whose value the first delta run continues
    // (no spurious version split at the batch boundary). Implementation
    // is run-level: build the delta's runs, concatenate with the base's
    // runs, and collapse ADJACENT same-value runs with a second
    // rn-difference islands pass over the RUN table — O(runs) state,
    // never O(events), which is exactly why warehouses merge
    // incrementally instead of rebuilding. THE LAW IS THE ORACLE: the
    // DuckDB side is q96's from-scratch rebuild over all events,
    // verbatim — hash equality proves incremental merge ≡ rebuild,
    // version numbers, boundary timestamps, per-version event counts
    // and all (a dropped extension, a double-counted boundary run, or
    // an off-by-one version renumbering cannot pass).
    //
    // 100 TB posture: both run-builds are one entity-key shuffle (the
    // q96 shape); the merge pass runs over the RUN table, orders of
    // magnitude smaller than the event table — the CDC batch never
    // touches historical events, only historical intervals.
    "q269_scd2_cdc_merge" -> QueryDef(
      build = (spark, dir) => {
        val cutoff = to_timestamp(lit("2024-01-21"))
        def runs(df: DataFrame): DataFrame = {
          val byTs = Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))
          val byTsType = Window.partitionBy(col("user_id"), col("event_type"))
            .orderBy(col("ts"), col("event_id"))
          // run_id = min(event_id): two runs of one user can tie on
          // valid_from (same-ts events of different types), so every
          // later window orders by (valid_from, run_id) — the exact
          // (ts, event_id) total order the event-level rebuild uses
          df.withColumn("grp",
              row_number().over(byTs) - row_number().over(byTsType))
            .groupBy(col("user_id"), col("event_type"), col("grp"))
            .agg(min(col("ts")).as("valid_from"),
              min(col("event_id")).as("run_id"),
              count(lit(1)).as("n_events"))
            .select(col("user_id"), col("event_type"), col("valid_from"),
              col("run_id"), col("n_events"))
        }
        val e = Tables.events(spark, dir).filter(col("user_id") < 20)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
        val base = runs(e.filter(col("ts") < cutoff))
        val delta = runs(e.filter(col("ts") >= cutoff))
        val all = base.union(delta)
        val byFrom = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("run_id"))
        val byFromType = Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("valid_from"), col("run_id"))
        val merged = all
          .withColumn("grp2",
            row_number().over(byFrom) - row_number().over(byFromType))
          .groupBy(col("user_id"), col("event_type"), col("grp2"))
          .agg(min(col("valid_from")).as("valid_from"),
            min(col("run_id")).as("run_id"),
            sum(col("n_events")).as("n_events"))
        val byStart = Window.partitionBy(col("user_id"))
          .orderBy(col("valid_from"), col("run_id"))
        merged.select(col("user_id"),
            row_number().over(byStart).cast("long").as("version"),
            col("event_type"),
            date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("valid_from"),
            date_format(lead(col("valid_from"), 1).over(byStart),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
            col("n_events"))
          .orderBy(col("user_id"), col("version"))
      },
      // the from-scratch rebuild (q96's oracle) — equality IS the
      // incremental-merge law
      oracle = Some(Scd2Oracle)),

    // ---- q305: CUPED variance-reduced experiment readout ----
    // The regression-adjustment every experimentation platform runs
    // (Deng et al. '13, "CUPED"): an A/B readout whose metric variance
    // is cut by the user's PRE-EXPERIMENT activity — Y′ = Y − θ(X − X̄)
    // with θ = cov(X,Y)/var(X) — so the same traffic detects smaller
    // effects. Distinct from the inference gates (q144 χ², q293
    // McNemar, q299 bootstrap): those test or bound a metric as given;
    // this one REDUCES its variance with a covariate before any test.
    // Setup: pre-period = Jan 1–15, post = Jan 16–30 (fixed literal
    // cutoff), per-user X = pre event count, Y = post count, arm = a
    // 50/50 md5 coin on user_id (independent of X by construction).
    // All arithmetic exact integers: θ_ppm and the per-arm adjusted
    // means are sign-safe truncating divisions over DECIMAL(38,0)
    // cross-moments (cov can be negative — the q260 div-vs-// bridge),
    // and the published variance-reduction certificate is corr² in ppm
    // = cnum²·10⁶ div (vxnum·vynum) — the measured fraction of metric
    // variance the covariate removed, the number that justifies
    // shipping CUPED at all.
    //
    // 100 TB posture: one event pass → user-keyed partial/final agg;
    // moments and arm rollups are two aggs over the checkpoint-cut
    // per-user table; everything after is 1-row/2-row broadcast
    // arithmetic; products ride DECIMAL(38,0)/HUGEINT (n·Sxy exceeds
    // int64 near 10⁹ users).
    "q305_cuped_readout" -> QueryDef(
      build = (spark, dir) => {
        val per = Tables.events(spark, dir)
          .select(col("user_id"), expr(
            "CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'" +
              " THEN 1 ELSE 0 END").cast("long").as("pre"))
          .groupBy(col("user_id"))
          .agg(sum(col("pre")).as("x"),
            sum(lit(1L) - col("pre")).as("y"))
          .withColumn("arm",
            when(conv(substring(md5(concat(lit("q305#"),
              col("user_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 1000000L < 500000L, "treatment")
              .otherwise("control"))
          .localCheckpoint()
        val mo = per.agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
            sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
            sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
          .withColumn("cnum", expr(
            "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
          .withColumn("vxnum", expr(
            "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
          .withColumn("vynum", expr(
            "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"))
          .withColumn("theta_ppm", expr(
            "CAST(CASE WHEN cnum >= 0" +
              " THEN cnum * 1000000 div GREATEST(vxnum, 1)" +
              " ELSE -((-cnum) * 1000000 div GREATEST(vxnum, 1))" +
              " END AS BIGINT)"))
          .withColumn("var_reduction_ppm", expr(
            "CAST(cnum * cnum * 1000000" +
              " div GREATEST(vxnum * vynum, 1) AS BIGINT)"))
        val rows = per.groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"), sum(col("x")).as("sum_x"),
            sum(col("y")).as("sum_y"))
          .crossJoin(broadcast(mo))
          .withColumn("mean_y_micro", expr(
            "CAST(CAST(sum_y AS DECIMAL(38,0)) * 1000000" +
              " div n_users AS BIGINT)"))
          .withColumn("adj_num", expr(
            "CAST(sum_y AS DECIMAL(38,0)) * n * 1000000" +
              " - CAST(theta_ppm AS DECIMAL(38,0))" +
              " * (CAST(sum_x AS DECIMAL(38,0)) * n" +
              "    - CAST(n_users AS DECIMAL(38,0)) * sx)"))
          .withColumn("mean_y_adj_micro", expr(
            "CAST(CASE WHEN adj_num >= 0" +
              " THEN adj_num div (CAST(n_users AS DECIMAL(38,0)) * n)" +
              " ELSE -((-adj_num)" +
              "   div (CAST(n_users AS DECIMAL(38,0)) * n))" +
              " END AS BIGINT)"))
        val deltas = rows.agg(
          (max(when(col("arm") === "treatment", col("mean_y_micro")))
            - max(when(col("arm") === "control", col("mean_y_micro"))))
            .as("delta_raw_micro"),
          (max(when(col("arm") === "treatment", col("mean_y_adj_micro")))
            - max(when(col("arm") === "control",
              col("mean_y_adj_micro")))).as("delta_adj_micro"))
        rows.crossJoin(broadcast(deltas))
          .select(col("arm"), col("n_users"), col("sum_x"), col("sum_y"),
            col("mean_y_micro"), col("mean_y_adj_micro"),
            col("n").as("n_total"), col("theta_ppm"),
            col("var_reduction_ppm"), col("delta_raw_micro"),
            col("delta_adj_micro"),
            // the platform decision the certificate exists for: adjust
            // only when the covariate buys ≥1% variance (here the iid
            // synthetic users correctly read ~0 — CUPED would be noise)
            when(col("var_reduction_ppm") >= 10000L, "adjust")
              .otherwise("use_raw").as("verdict"))
          .orderBy(col("arm"))
      },
      oracle = Some("""
        WITH per AS (
          SELECT user_id,
                 CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN 1 ELSE 0 END) AS BIGINT) AS x,
                 CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                   THEN 0 ELSE 1 END) AS BIGINT) AS y,
                 CASE WHEN ('0x' || substr(md5('q305#' ||
                     CAST(user_id AS VARCHAR)), 1, 12))::BIGINT
                     % 1000000 < 500000
                   THEN 'treatment' ELSE 'control' END AS arm
          FROM events GROUP BY user_id),
        mo AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x) AS BIGINT) AS sx,
                 CAST(SUM(y) AS BIGINT) AS sy,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                 CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                 CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
          FROM per),
        mt AS (
          SELECT *,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                   AS cnum,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                   AS vxnum,
                 CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
                   AS vynum
          FROM mo),
        mf AS (
          SELECT *,
                 CAST(CASE WHEN cnum >= 0
                   THEN cnum * 1000000 // GREATEST(vxnum, 1)
                   ELSE -((-cnum) * 1000000 // GREATEST(vxnum, 1))
                   END AS BIGINT) AS theta_ppm,
                 CAST(cnum * cnum * 1000000
                   // GREATEST(vxnum * vynum, 1) AS BIGINT)
                   AS var_reduction_ppm
          FROM mt),
        ar AS (
          SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                 CAST(SUM(x) AS BIGINT) AS sum_x,
                 CAST(SUM(y) AS BIGINT) AS sum_y
          FROM per GROUP BY arm),
        rows_ AS (
          SELECT ar.*, mf.n, mf.sx, mf.theta_ppm, mf.var_reduction_ppm,
                 CAST(CAST(sum_y AS HUGEINT) * 1000000 // n_users
                   AS BIGINT) AS mean_y_micro,
                 CAST(sum_y AS HUGEINT) * n * 1000000
                   - CAST(theta_ppm AS HUGEINT)
                   * (CAST(sum_x AS HUGEINT) * n
                      - CAST(n_users AS HUGEINT) * sx) AS adj_num
          FROM ar CROSS JOIN mf),
        rows2 AS (
          SELECT *,
                 CAST(CASE WHEN adj_num >= 0
                   THEN adj_num // (CAST(n_users AS HUGEINT) * n)
                   ELSE -((-adj_num) // (CAST(n_users AS HUGEINT) * n))
                   END AS BIGINT) AS mean_y_adj_micro
          FROM rows_),
        dl AS (
          SELECT MAX(CASE WHEN arm = 'treatment' THEN mean_y_micro END)
                   - MAX(CASE WHEN arm = 'control' THEN mean_y_micro END)
                   AS delta_raw_micro,
                 MAX(CASE WHEN arm = 'treatment'
                     THEN mean_y_adj_micro END)
                   - MAX(CASE WHEN arm = 'control'
                     THEN mean_y_adj_micro END) AS delta_adj_micro
          FROM rows2)
        SELECT arm, n_users, sum_x, sum_y, mean_y_micro,
               mean_y_adj_micro, n AS n_total, theta_ppm,
               var_reduction_ppm, delta_raw_micro, delta_adj_micro,
               CASE WHEN var_reduction_ppm >= 10000 THEN 'adjust'
                 ELSE 'use_raw' END AS verdict
        FROM rows2 CROSS JOIN dl
        ORDER BY arm""")),

    // ---- q313: bitemporal as-of snapshots (the restatement audit) ----
    // The warehouse family's missing SECOND time axis: q96/q269 track
    // TRANSACTION time (when we learned it), q150 joins on one
    // VALID-time axis; a bitemporal query needs both — "as we knew it
    // on date K, what was true FOR effective date E". Records are
    // derived corrections: each event restates the value of an
    // effective day up to 4 days BEFORE its arrival (eday = date(ts) −
    // event_id mod 5 — deterministic lateness), so early-January
    // effective days keep restating as knowledge advances. Three
    // knowledge snapshots (Jan 3 / 5 / 10 — inside the restatement
    // window, so week-1 totals are still moving at the first two
    // closes and FINAL by the third) × the first effective week: per (K, E) the LATEST visible record per (user, E) wins
    // (arrival ts DESC, event_id tie-break), aggregated to visible
    // record counts and cent totals, with the per-E restatement delta
    // between consecutive snapshots — the number a finance/compliance
    // review reads ("how much did week 1 restate between the Jan-3
    // and Jan-5 closes, and is it final by Jan 10").
    //
    // 100 TB posture: the knowledge grid is a 3-row broadcast (the
    // ts ≤ K inequality join is a bounded nested-loop over 3 rows —
    // the one legal nested loop here); latest-wins is a
    // (K, user, eday)-keyed window; rollups are keyed aggs; the
    // restatement delta runs on the 21-row report.
    "q313_bitemporal_asof" -> QueryDef(
      build = (spark, dir) => {
        val wv = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(spark, dir).select(col("user_id"),
          col("ts"), col("event_id"),
          expr("date_sub(to_date(ts), CAST(event_id % 5 AS INT))")
            .as("eday"),
          expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
          .filter(col("eday").between("2024-01-01", "2024-01-07"))
        import spark.implicits._
        val ks = Seq(("k1_jan03", "2024-01-03 00:00:00"),
          ("k2_jan05", "2024-01-05 00:00:00"),
          ("k3_jan10", "2024-01-10 00:00:00"))
          .toDF("k_label", "k_ts")
          .select(col("k_label"), col("k_ts").cast("timestamp").as("k_ts"))
        val vis = ev.join(broadcast(ks), col("ts") <= col("k_ts"))
        val latest = vis.withColumn("rn", row_number().over(
          wv.partitionBy(col("k_label"), col("user_id"), col("eday"))
            .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("rn") === 1)
        val agg = latest.groupBy(col("k_label"),
            date_format(col("eday"), "yyyy-MM-dd").as("eday"))
          .agg(count(lit(1)).as("n_visible"),
            sum(col("cents")).as("sum_cents"))
        agg.withColumn("restated_cents",
            col("sum_cents") - coalesce(lag(col("sum_cents"), 1).over(
              wv.partitionBy(col("eday")).orderBy(col("k_label"))),
              col("sum_cents")))
          .withColumn("newly_visible",
            col("n_visible") - coalesce(lag(col("n_visible"), 1).over(
              wv.partitionBy(col("eday")).orderBy(col("k_label"))),
              col("n_visible")))
          .select(col("k_label"), col("eday"), col("n_visible"),
            col("sum_cents"), col("restated_cents"),
            col("newly_visible"))
          .orderBy(col("k_label"), col("eday"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, ts, event_id,
                 CAST(ts AS DATE) - CAST(event_id % 5 AS INT) AS eday,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events
          WHERE CAST(ts AS DATE) - CAST(event_id % 5 AS INT)
            BETWEEN DATE '2024-01-01' AND DATE '2024-01-07'),
        ks AS (
          SELECT 'k1_jan03' AS k_label,
                 TIMESTAMP '2024-01-03 00:00:00' AS k_ts
          UNION ALL SELECT 'k2_jan05', TIMESTAMP '2024-01-05 00:00:00'
          UNION ALL SELECT 'k3_jan10', TIMESTAMP '2024-01-10 00:00:00'),
        vis AS (SELECT ev.*, ks.k_label FROM ev JOIN ks
                ON ev.ts <= ks.k_ts),
        latest AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY k_label, user_id,
              eday ORDER BY ts DESC, event_id DESC) AS rn
            FROM vis) WHERE rn = 1),
        agg AS (
          SELECT k_label, strftime(eday, '%Y-%m-%d') AS eday,
                 CAST(COUNT(*) AS BIGINT) AS n_visible,
                 CAST(SUM(cents) AS BIGINT) AS sum_cents
          FROM latest GROUP BY 1, 2)
        SELECT k_label, eday, n_visible, sum_cents,
               sum_cents - COALESCE(LAG(sum_cents) OVER w, sum_cents)
                 AS restated_cents,
               n_visible - COALESCE(LAG(n_visible) OVER w, n_visible)
                 AS newly_visible
        FROM agg
        WINDOW w AS (PARTITION BY eday ORDER BY k_label)
        ORDER BY k_label, eday"""))
  )
}

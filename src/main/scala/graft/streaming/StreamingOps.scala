package graft.streaming

import graft.core.GpsRecord
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators over the GPS telemetry stream —
  * capabilities the reference lacks entirely (SURVEY §2.5: its only notion
  * of event time is the string `timestamp` column, and its only windowing
  * is Firehose's 120 s buffer). All operate on a streaming OR batch
  * DataFrame in [[graft.core.GpsSchema]] shape and parse the wall-clock
  * string once into a proper event-time column.
  *
  * Designed for unbounded state at 100 TB: every aggregation is preceded by
  * a watermark so Spark can evict state; the custom-state operator bounds
  * per-key state to a constant-size case class.
  */
object StreamingOps {

  /** Parse the reference's 'yyyy-MM-dd HH:mm:ss' string into event time. */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_time", to_timestamp(col("timestamp"), "yyyy-MM-dd HH:mm:ss"))

  /** Tumbling-window per-direction speed profile with late-data eviction. */
  def tumblingSpeedProfile(df: DataFrame, window_ : String = "1 minute",
      watermark: String = "2 minutes"): DataFrame =
    withEventTime(df)
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("direction"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("speed_kmh")).as("avg_speed"),
        max(col("speed_kmh")).as("max_speed"),
        sum(when(col("collision_detected"), 1).otherwise(0)).as("n_collisions"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("direction"), col("n_events"), col("avg_speed"),
        col("max_speed"), col("n_collisions"))

  // ---- custom state: per-vehicle trip accumulation ----------------------

  final case class TripState(
      nFixes: Long, sumSpeed: Double, nCollisions: Long,
      firstTs: String, lastTs: String)

  final case class TripSummary(
      vehicle_id: String, n_fixes: Long, avg_speed: Double,
      n_collisions: Long, first_ts: String, last_ts: String)

  /** Arbitrary stateful processing via `flatMapGroupsWithState` — the
    * engine's extension point for per-key logic no built-in window
    * expresses. Emits a running trip summary per vehicle on every trigger;
    * state is O(1) per vehicle. `evictIdle` turns on ProcessingTimeTimeout
    * so vehicles that stop reporting get flushed and their state dropped —
    * required for unbounded-key streams at scale, but it keeps the query
    * re-triggering on a clock (so `processAllAvailable` never settles:
    * tests and bounded backfills run with it off). Works identically in
    * streaming (Update mode) and batch execution. */
  def tripSummaries(ds: Dataset[GpsRecord],
      evictIdle: Boolean = false): Dataset[TripSummary] = {
    import ds.sparkSession.implicits._
    val timeout =
      if (evictIdle) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_.vehicle_id)
      .flatMapGroupsWithState[TripState, TripSummary](
        OutputMode.Update(), timeout) {
        case (vid, rows, state: GroupState[TripState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(TripSummary(vid, s.nFixes,
              if (s.nFixes == 0) 0.0 else s.sumSpeed / s.nFixes,
              s.nCollisions, s.firstTs, s.lastTs))
          } else {
            val prev = state.getOption.getOrElse(TripState(0L, 0.0, 0L, "", ""))
            val next = rows.foldLeft(prev) { (acc, r) =>
              TripState(
                acc.nFixes + 1,
                acc.sumSpeed + r.speed_kmh,
                acc.nCollisions + (if (r.collision_detected) 1 else 0),
                if (acc.firstTs.isEmpty || r.timestamp < acc.firstTs) r.timestamp else acc.firstTs,
                if (r.timestamp > acc.lastTs) r.timestamp else acc.lastTs)
            }
            state.update(next)
            if (evictIdle) state.setTimeoutDuration("30 minutes")
            Iterator.single(TripSummary(vid, next.nFixes,
              if (next.nFixes == 0) 0.0 else next.sumSpeed / next.nFixes,
              next.nCollisions, next.firstTs, next.lastTs))
          }
      }
  }

  /** Stream-stream inner join with a time bound: collision events matched
    * to sudden-braking events of the same vehicle within `within` after
    * the collision. Both sides are watermarked and the join condition
    * bounds `braking_time` to a window after `collision_time`, so Spark
    * can prove when buffered state is safe to evict — without the bound a
    * stream-stream join buffers forever. Works on two live streams or two
    * batch frames identically. */
  def collisionBrakingJoin(collisions: DataFrame, braking: DataFrame,
      within: String = "5 minutes", watermark: String = "10 minutes"): DataFrame = {
    val c = withEventTime(collisions)
      .filter(col("collision_detected"))
      .withWatermark("event_time", watermark)
      .select(col("vehicle_id"),
        col("event_time").as("collision_time"),
        col("speed_kmh").as("collision_speed"))
    val b = withEventTime(braking)
      .filter(col("sudden_braking"))
      .withWatermark("event_time", watermark)
      .select(col("vehicle_id").as("b_vehicle_id"),
        col("event_time").as("braking_time"))
    c.join(b,
      col("vehicle_id") === col("b_vehicle_id") &&
        col("braking_time") >= col("collision_time") &&
        col("braking_time") <= col("collision_time") + expr(s"INTERVAL $within"),
      "inner")
      .select(col("vehicle_id"), col("collision_time"),
        col("collision_speed"), col("braking_time"))
  }

  /** Exactly-once-friendly dedup on a natural key within the watermark
    * horizon — the `dropDuplicates` upgrade SURVEY §1.4 proposes for the
    * reference's at-least-once duplicate rows. */
  def dedupWithinWatermark(df: DataFrame, watermark: String = "10 minutes"): DataFrame =
    withEventTime(df)
      .withWatermark("event_time", watermark)
      .dropDuplicates("vehicle_id", "timestamp")

  // ---- transformWithState: the Spark-4 arbitrary-state API --------------

  final case class Odometer(
      vehicle_id: String, n_fixes: Long, max_speed: Double, n_collisions: Long)

  /** Per-vehicle running odometer on Spark 4's `transformWithState` —
    * the successor API to flatMapGroupsWithState: typed per-key state
    * handles (ValueState/ListState/MapState) with native TTL, timers, and
    * schema evolution, on the RocksDB state store. Functionally this
    * mirrors [[tripSummaries]] so the two APIs are directly comparable in
    * the spec; state is one fixed-size row per vehicle. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (the processor API's store). */
  class OdometerProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, GpsRecord, Odometer] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[Odometer] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Odometer]("odometer",
        Encoders.product[Odometer], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[GpsRecord],
        timerValues: TimerValues): Iterator[Odometer] = {
      val prev = Option(state.get()).getOrElse(Odometer(key, 0L, 0.0, 0L))
      val next = rows.foldLeft(prev) { (acc, r) =>
        Odometer(key, acc.n_fixes + 1, math.max(acc.max_speed, r.speed_kmh),
          acc.n_collisions + (if (r.collision_detected) 1 else 0))
      }
      state.update(next)
      Iterator.single(next)
    }
  }

  def odometers(ds: Dataset[GpsRecord]): Dataset[Odometer] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.vehicle_id)
      .transformWithState(new OdometerProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  // ---- transformWithState with EVENT-TIME TIMERS -------------------------

  final case class TimedFix(vehicle_id: String, event_time: java.sql.Timestamp)
  final case class IdleSessionState(n_fixes: Long, last_ms: Long, timer_ms: Long)
  final case class ClosedSession(
      vehicle_id: String, n_fixes: Long, last_fix_ms: Long, closed_at_ms: Long)

  /** Idle-session close via event-time timers — the timer surface of the
    * Spark-4 StatefulProcessor API ([[OdometerProcessor]] covers typed
    * ValueState; this covers registerTimer/deleteTimer/handleExpiredTimer).
    * Each key keeps one pending timer at last_fix + gap; new activity
    * deletes and re-arms it; when the WATERMARK passes the timer, the
    * session is emitted from `handleExpiredTimer` and state is cleared —
    * i.e. output is produced by time passing, not by data arriving, which
    * no aggregation/window operator can express directly.
    *
    * 100 TB posture: state is one constant-size row + one timer per ACTIVE
    * key, and both are freed at expiry — idle keys cost nothing, so state
    * tracks the active-vehicle working set, not the fleet's history.
    */
  class IdleSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, TimedFix, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var state: ValueState[IdleSessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[IdleSessionState]("idle_session",
        Encoders.product[IdleSessionState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TimedFix],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      val prev = Option(state.get())
      prev.foreach(s => getHandle.deleteTimer(s.timer_ms)) // re-arm below
      var n = prev.map(_.n_fixes).getOrElse(0L)
      var last = prev.map(_.last_ms).getOrElse(0L)
      rows.foreach { r => n += 1; last = math.max(last, r.event_time.getTime) }
      val timerMs = last + gapMs
      getHandle.registerTimer(timerMs)
      state.update(IdleSessionState(n, last, timerMs))
      Iterator.empty // sessions close on inactivity, never on input
    }
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val s = state.get()
      state.clear()
      Iterator.single(ClosedSession(key, s.n_fixes, s.last_ms,
        expiredTimerInfo.getExpiryTimeInMs))
    }
  }

  /** Close a vehicle's session after `gapMs` of event-time inactivity,
    * driven by the watermark (10 s tolerance on the reference's string
    * timestamps). Emits one row per closed session, in Append mode. */
  def idleClosedSessions(ds: Dataset[GpsRecord],
      gapMs: Long = 60000L): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    withEventTime(ds.toDF())
      .withWatermark("event_time", "10 seconds")
      .select(col("vehicle_id"), col("event_time")).as[TimedFix]
      .groupByKey(_.vehicle_id)
      .transformWithState(new IdleSessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  // ---- transformWithState: ListState + MapState handles ------------------

  final case class TrajectoryStats(
      vehicle_id: String, n_recent: Long, n_directions: Long,
      top_direction: String, top_direction_n: Long)

  /** Per-vehicle trajectory stats on the remaining typed-state handles of
    * the StatefulProcessor API: a BOUNDED ListState ring of the newest
    * `recentCap` fix timestamps (appendValue + rewrite-on-overflow — the
    * recent-window buffer pattern) and a MapState of per-direction fix
    * counts (point updates, no read-modify-write of a whole row).
    * Emits one stats row per key per trigger; ties on direction count
    * break lexically so output is deterministic.
    *
    * 100 TB posture: list state is capped at `recentCap` entries and map
    * state at |compass directions| per key — both constant-size, so state
    * grows with the keyspace only, never with stream length.
    */
  class TrajectoryStatsProcessor(recentCap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, GpsRecord, TrajectoryStats] {
    import org.apache.spark.sql.streaming.{ListState, MapState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var recent: ListState[String] = _
    @transient private var dirCounts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      recent = getHandle.getListState[String]("recent_fixes",
        Encoders.STRING, TTLConfig.NONE)
      dirCounts = getHandle.getMapState[String, Long]("dir_counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[GpsRecord],
        timerValues: TimerValues): Iterator[TrajectoryStats] = {
      rows.foreach { r =>
        recent.appendValue(r.timestamp)
        val n = if (dirCounts.containsKey(r.direction))
          dirCounts.getValue(r.direction) else 0L
        dirCounts.updateValue(r.direction, n + 1)
      }
      val all = recent.get().toSeq
      if (all.length > recentCap) // keep only the newest recentCap entries
        recent.put(all.takeRight(recentCap).toArray)
      val dirs = dirCounts.iterator().map(p => (p._1, p._2)).toSeq
      val (topDir, topN) = dirs.minBy { case (d, n) => (-n, d) }
      Iterator.single(TrajectoryStats(key,
        math.min(all.length, recentCap).toLong, dirs.length.toLong,
        topDir, topN))
    }
  }

  def trajectoryStats(ds: Dataset[GpsRecord],
      recentCap: Int = 5): Dataset[TrajectoryStats] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.vehicle_id)
      .transformWithState(new TrajectoryStatsProcessor(recentCap),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}

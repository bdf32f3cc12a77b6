package graft.queries

import java.nio.file.{Files, Paths}

import graft.core.{DirIO, SessionConf, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The ORACLE-BACKED streaming-law gates (32 defined here; q272's
  * QueryDef is in Classifier). Each runs a REAL `readStream`
  * micro-batch pipeline (file source → event-time watermark → stateful
  * operator → sink, Trigger.AvailableNow) through one runner, [[gate]]
  * ([[eventsGate]] for the 25 fed by the events fixture), and exposes
  * its drained result to the DuckDB oracle;
  * `StreamingOpsSpec` checks the same operator laws on MemoryStreams.
  * q139's bridge is the watermark-trim law: in append mode a window is
  * emitted iff its END ≤ final watermark, and with AvailableNow the
  * final watermark is max(event_time) − delay — a pure function of the
  * data, which the oracle replays in SQL. Hash match ⇒ the streaming
  * path (source chunking, state store, watermark advancement, append
  * emission) produced exactly the windows the relational semantics
  * promise.
  *
  * Boundary note: emission compares millisecond-truncated times; the
  * gate data's max event time sits minutes away from any hour boundary,
  * so ≤-vs-< and ms-vs-µs ambiguities cannot flip a window (asserted
  * empirically at both gate SFs).
  */
object StreamingGate {

  /** One streaming gate's run. It owns everything the gates share:
    *
    *  - scratch: one tmpfs-preferred root per run holding the landing
    *    dir the file source watches (`srcDir`), the checkpoint (`ckpt`)
    *    and any extra dir a gate asks for (`dir`), all deleted on close.
    *    Every micro-batch writes an offset WAL entry, a commit-log entry
    *    and one state-store delta file per shuffle partition under ckpt —
    *    on a disk-backed /tmp that per-batch rename-commit latency is host
    *    disk weather, not engine cost (see DirIO.scratchDir);
    *  - staging: fixtures linked or written under `srcDir`, exactly how a
    *    notification-fed landing prefix looks in production;
    *  - a memory-sink name FIXED per gate, whose previous result is
    *    dropped on entry, so repeated Verify/Bench invocations in one
    *    process hold at most one result per gate in driver memory;
    *  - the query lifecycle: AvailableNow trigger, checkpoint, await and
    *    stop;
    *  - the gate's conf, applied ONLY around `start()`. A streaming query
    *    runs in a copy of its session cloned at `start()`
    *    (StreamExecution.sparkSessionForStream), so the stream keeps the
    *    gate conf while the parent session is restored before the first
    *    micro-batch — a batch query run mid-gate sees the caller's conf.
    *
    * The gate conf:
    *  - state partitions sized to the STAGED SOURCE BYTES, not the core
    *    count (round 16, VERDICT r15 #8; guide §2.1-2.2). Measured first:
    *    micro-batch progress attributed q140's 9.4 s wall almost entirely
    *    to per-store state commits — each HDFSBackedStateStore commit costs
    *    ~0.5 s of task time at ANY state size, and a stream-stream join
    *    opens 4 stores per partition, so 32 partitions paid ~128 fixed
    *    commits per batch for KB-scale state (9.4 s → 3.7 s at 2-8
    *    partitions, emitted rows identical). Policy: one state partition
    *    per 32 MB of staged source (floor 1), clamped to the session
    *    parallelism — scale-adaptive by construction: gate corpora
    *    (KB-MB) collapse to a few partitions, a production TB-scale
    *    source keeps every core busy. Stateful-query semantics are
    *    partition-count-invariant (the driver's own 8-vs-32-core runs
    *    already pin that), and the count is persisted per fresh
    *    checkpoint so restart gates stay self-consistent;
    *  - nanosAsLong, for NANOS-era events read by the stream;
    *  - checkpoint-file checksums OFF (round 16): Spark 4.1 writes and
    *    awaits a checksum sidecar for every state-store file — jstack
    *    caught every task thread parked in
    *    ChecksumCheckpointFileManager.awaitResult during q140's state
    *    commits, ~0.5 s of fixed latency per store commit on KB files.
    *    Corruption detection is a property a DURABLE checkpoint store
    *    needs (S3/HDFS bit-rot, partial uploads); a gate's checkpoint
    *    lives on scratch for seconds. Durable callers keep Spark's
    *    default (on);
    *  - the RocksDB state store, for the gates that ask for it. */
  private[queries] class Gate(spark: SparkSession, name: String,
      rocksDb: Boolean) {
    val sink: String = name + "_sink"
    spark.catalog.dropTempView(sink) // previous run's result, if any
    private val root = DirIO.scratchDir(name + "_")

    /** A fresh dir under the run's scratch, deleted with it. */
    def dir(sub: String): String =
      Files.createDirectories(root.resolve(sub)).toString

    val srcDir: String = dir("src")
    val ckpt: String = root.resolve("ckpt").toString

    /** Stage a fixture under the source dir. Single-file targets (the
      * driver testdata layout) link 1:1; DIRECTORY targets (Spark-written
      * fixtures — the ScaleFixtures sf1 rehearsal corpus) are flattened
      * by linking each part file under the staged stem, because the file
      * stream source does not recurse through a symlinked directory.
      * Deleting the run removes the links only, never their targets. */
    def stage(name: String, target: String): Unit = {
      val t = Paths.get(target)
      if (Files.isDirectory(t)) {
        val stem = name.stripSuffix(".parquet")
        DirIO.list(t) { st =>
          val parts = st.filter(
            p => p.toString.endsWith(".parquet")).sorted().iterator()
          var i = 0
          while (parts.hasNext) {
            Files.createSymbolicLink(
              Paths.get(srcDir, f"${stem}_p$i%04d.parquet"), parts.next())
            i += 1
          }
        }
      } else Files.createSymbolicLink(Paths.get(srcDir, name), t)
    }

    /** Stage each of `parts` as ONE parquet file under the source dir,
      * with mod-times one minute apart in order: the file source lists
      * by mod-time, so under maxFilesPerTrigger the file→batch mapping
      * is pinned. Returns the parts' schema, to stream them back with. */
    def stageFiles(parts: Seq[DataFrame]): StructType = {
      stageAs("parquet", parts)
      parts.head.schema
    }

    /** [[stageFiles]] of `df` split into 8 files by `key` % 8, file f
      * holding the rows with `key` % 8 = f. */
    def stageSplit(df: DataFrame, key: String): StructType =
      stageFiles((0 until 8).map(f => df.filter(col(key) % 8 === f)))

    /** [[stageFiles]] for single-string-column parts, one text line per
      * row: the JSON landing files the ingest pipeline reads. */
    def stageLines(parts: Seq[DataFrame]): Unit = stageAs("text", parts)

    private def stageAs(format: String, parts: Seq[DataFrame]): Unit =
      parts.zipWithIndex.foreach { case (df, i) =>
        val tmp = root.resolve("stage")
        df.coalesce(1).write.mode("overwrite").format(format)
          .save(tmp.toString)
        val part = DirIO.list(tmp)(_.filter(p =>
          p.getFileName.toString.startsWith("part-")).findFirst().get())
        val file = part.getFileName.toString
        val dest = Paths.get(srcDir,
          f"f$i%02d" + file.substring(file.indexOf('.')))
        Files.move(part, dest)
        DirIO.deleteRecursively(tmp)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1600000000000L
            + i * 60000L))
      }

    /** The file-source stream over the landing dir. */
    def source(schema: StructType, maxFilesPerTrigger: Int = 0): DataFrame = {
      val r = spark.readStream.schema(schema)
      (if (maxFilesPerTrigger > 0)
         r.option("maxFilesPerTrigger", maxFilesPerTrigger.toLong)
       else r).parquet(srcDir)
    }

    private def conf: Seq[(String, String)] = {
      val bytes = DirIO.walk(Paths.get(srcDir))(
        _.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum())
      val parts = math.min(spark.sparkContext.defaultParallelism.toLong,
        bytes / (32L << 20) + 1L)
      Seq("spark.sql.shuffle.partitions" -> parts.toString,
        Tables.NanosKey -> "true",
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") ++
        (if (rocksDb) Seq(SessionConf.RocksDbStateStore) else Nil)
    }

    /** Start `query` on `sess` under the gate conf. */
    def start(sess: SparkSession)(query: => StreamingQuery): StreamingQuery =
      SessionConf.withConf(sess, conf: _*)(query)

    /** Start `ds`'s stream: checkpoint and AvailableNow trigger are
      * preset, `sink` completes the writer (and may override either). */
    def stream[T](ds: Dataset[T])(
        sink: DataStreamWriter[T] => DataStreamWriter[T]): StreamingQuery =
      start(ds.sparkSession)(sink(ds.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())).start())

    def drain[T](ds: Dataset[T])(
        sink: DataStreamWriter[T] => DataStreamWriter[T]): Unit =
      await(stream(ds)(sink))

    /** Drain `ds` into the gate's memory sink; returns the sink table. */
    def memory[T](ds: Dataset[T], mode: String = "append"): DataFrame = {
      drain(ds)(_.format("memory").queryName(sink).outputMode(mode))
      spark.table(sink)
    }

    /** Drop a managed table the gate (re)creates. A previous JVM's
      * managed-table DIRECTORIES (the table and TableSwap's rewrite
      * staging) survive its in-memory catalog — clear those locations
      * too or saveAsTable refuses (LOCATION_ALREADY_EXISTS). */
    def resetTable(table: String): Unit = {
      Seq(table, table + graft.operators.TableSwap.TmpSuffix)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val wh = Paths.get(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"))
      if (Files.exists(wh))
        DirIO.list(wh)(
          _.filter(p => p.getFileName.toString.startsWith(table))
            .forEach(p => DirIO.deleteRecursively(p)))
    }

    def close(): Unit = if (Files.exists(root)) DirIO.deleteRecursively(root)
  }

  /** A gate fed by `dir`'s events fixture, whose timestamp era `era` the
    * runner resolved once from the fixture's footer. */
  private[queries] final class EventsGate(spark: SparkSession, name: String,
      rocksDb: Boolean, dir: String, val era: Tables.EventsEra)
      extends Gate(spark, name, rocksDb) {
    private val fixture = s"$dir/events.parquet"
    private var copies = 0

    /** Stage one more copy of the fixture under the source dir: the
      * first as `events.parquet`, a replay as `events_<n>.parquet`. Under
      * maxFilesPerTrigger = 1 each copy is its own micro-batch. */
    def stageCopy(): Unit = {
      stage(if (copies == 0) "events.parquet" else s"events_$copies.parquet",
        fixture)
      copies += 1
    }

    /** The file-source stream over the staged copies. */
    def events(maxFilesPerTrigger: Int = 0): DataFrame =
      source(era.schema, maxFilesPerTrigger)

    /** One side of a stream-stream join: the `tpe` events as
      * (`pfx`_user, `pfx`_id, `pfx`_time), watermarked `delay` behind. */
    def joinSide(tpe: String, pfx: String, delay: String,
        maxFilesPerTrigger: Int = 0): DataFrame =
      events(maxFilesPerTrigger)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"),
          era.eventTime.as(s"${pfx}_time"))
        .withWatermark(s"${pfx}_time", delay)

    /** The fixture as one batch read, never through the staged copies. */
    def eventsBatch: DataFrame = spark.read.schema(era.schema).parquet(fixture)
  }

  /** An event's value in integer cents. */
  private def cents: Column = round(col("value") * 100).cast(LongType)

  /** Read back `table` through `read`, checkpointed, then drop it. */
  private def readAndDrop(spark: SparkSession, table: String)(
      read: DataFrame => DataFrame): DataFrame = {
    val out = read(spark.table(table)).localCheckpoint(false)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    out
  }

  /** Wait for every query to drain; stop any still running. */
  private def await(qs: StreamingQuery*): Unit =
    try qs.foreach(_.awaitTermination())
    finally qs.foreach(q => if (q.isActive) q.stop())

  /** Run `body` as gate `name`. The sink table stays readable until the
    * NEXT run of the same gate; everything on disk is gone when this
    * returns. */
  private[queries] def gate[T](spark: SparkSession, name: String,
      rocksDb: Boolean = false)(body: Gate => T): T =
    run(new Gate(spark, name, rocksDb))(body)

  /** [[gate]] fed by `copies` staged copies of `dir`'s events fixture
    * (0 for a gate that stages its own files and only reads the era). */
  private[queries] def eventsGate[T](spark: SparkSession, name: String,
      dir: String, copies: Int = 1, rocksDb: Boolean = false)(
      body: EventsGate => T): T = {
    val era = Tables.eventsEra(spark, dir)
    run(new EventsGate(spark, name, rocksDb, dir, era)) { g =>
      (1 to copies).foreach(_ => g.stageCopy())
      body(g)
    }
  }

  private def run[G <: Gate, T](g: G)(body: G => T): T =
    try body(g) finally g.close()

  /** DuckDB mirror of [[EventsGate.joinSide]] for the join oracles: the
    * `tpe` events as CTE `cte` (user_id, `tpe`_id, `t`). */
  private def sqlSide(cte: String, tpe: String, t: String): String =
    s"""$cte AS (SELECT user_id, event_id AS ${tpe}_id,
                     CAST(ts AS TIMESTAMP) AS $t
              FROM events WHERE event_type = '$tpe')"""

  /** `b`'s event on `a`'s user at most `mins` minutes after `a`'s: the
    * interval condition of the stream-stream join gates, over
    * [[EventsGate.joinSide]] columns. */
  private def within(a: String, b: String, mins: Int): Column =
    col(s"${a}_user") === col(s"${b}_user") &&
      col(s"${b}_time") >= col(s"${a}_time") &&
      col(s"${b}_time") <= col(s"${a}_time") + expr(s"INTERVAL $mins MINUTES")

  /** A window's start as the `yyyy-MM-dd HH:mm:ss` label the oracles
    * print. */
  private def windowStart(label: String): Column =
    date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as(label)

  /** Hourly (n, exact value sum) per event type over the events stream,
    * watermarked `delay` behind: q139's and q192's stream, q235's first
    * stage. */
  private def hourlyProfile(g: EventsGate, delay: String): DataFrame =
    g.events()
      .select(g.era.eventTime.as("event_time"),
        col("event_type"), col("value"))
      .withWatermark("event_time", delay)
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(28, 2))).as("sdec"))

  /** q139's and q192's output rows over [[hourlyProfile]]'s emission. */
  private def profileRows(emitted: DataFrame): DataFrame =
    emitted.select(windowStart("hour_start"),
        col("event_type"), col("n"),
        col("sdec").cast(DoubleType).as("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Run the streamed hourly profile to completion and return the
    * emitted (watermark-trimmed) result, fully ordered. */
  def streamedHourlyProfile(spark: SparkSession, dir: String): DataFrame =
    profileRows(eventsGate(spark, "q139", dir) { g =>
      g.memory(hourlyProfile(g, "1 hour"))
    })

  /** q206: MULTIPLE STATEFUL OPERATORS in one streaming query — the
    * q140 interval join feeding a downstream hourly window aggregation
    * (Spark's chained-stateful support): purchases matched to a view
    * within 2 h, then per purchase-hour pair counts + exact gap sums.
    * Emission is doubly gated: the join emits a pair only when both
    * sides' watermarks allow it, and the agg emits a window only when
    * the JOIN'S OUTPUT watermark (the input watermark minus the join's
    * 2 h state-retention delay) passes the window end. The
    * measured-then-encoded law lives in the q206 QueryDef's oracle. */
  def streamedJoinAgg(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q206", dir) { g =>
      g.memory(g.joinSide("view", "v", "4 hours")
        .join(g.joinSide("purchase", "p", "4 hours"), within("v", "p", 120))
        .select(col("p_time"),
          (unix_micros(col("p_time")) - unix_micros(col("v_time")))
            .as("gap_us"))
        .groupBy(window(col("p_time"), "1 hour"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("gap_us_sum")))
    }.select(windowStart("hour_start"), col("n_pairs"), col("gap_us_sum"))
      .orderBy(col("hour_start"))

  /** q250: THREE-WAY stream-stream interval join — two chained join
    * states in one streaming query (the production funnel shape:
    * impressions ⋈ clicks ⋈ conversions). Join 1 matches a click to a
    * view within 4 h on the same user; its OUTPUT carries the click's
    * event-time column, whose watermark Spark propagates delayed by
    * join 1's state retention, and join 2 matches a purchase against
    * that propagated clock. The 18th streaming law (in q250's oracle):
    * the fully-drained inner chain equals the batch three-way interval
    * join EXACTLY — chained join states lose nothing and invent
    * nothing under AvailableNow drain. */
  def streamedTripleJoin(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q250", dir) { g =>
      val vc = g.joinSide("view", "v", "8 hours")
        .join(g.joinSide("click", "c", "8 hours"), within("v", "c", 240))
      g.memory(vc.join(g.joinSide("purchase", "p", "8 hours"),
          within("c", "p", 240))
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("c_id").as("click_id"), col("p_id").as("purchase_id")))
    }.orderBy(col("user_id"), col("view_id"), col("click_id"),
        col("purchase_id"))

  /** q256: dropDuplicatesWithinWatermark on BOTH sides chained INTO a
    * stream-stream interval join — exactly-once enrichment under
    * at-least-once delivery (the SQS/Kinesis redelivery reality): the
    * whole corpus arrives TWICE (two staged names, maxFilesPerTrigger
    * = 1), each side's dedup state absorbs the replay (at/above the
    * watermark: duplicate state hit; below: dropped as late — q211's
    * dichotomy), and the join therefore sees every event exactly once.
    * 19th streaming law (q256's oracle): the drained dedup→join chain
    * equals the batch interval join of the DISTINCT corpus. */
  def streamedDedupJoin(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q256", dir, copies = 2) { g =>
      g.memory(g.joinSide("view", "v", "8 hours", maxFilesPerTrigger = 1)
        .dropDuplicatesWithinWatermark("v_id")
        .join(g.joinSide("purchase", "p", "8 hours", maxFilesPerTrigger = 1)
          .dropDuplicatesWithinWatermark("p_id"), within("v", "p", 120))
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("p_id").as("purchase_id")))
    }.orderBy(col("user_id"), col("view_id"), col("purchase_id"))

  // ---- q259: arbitrary custom state (flatMapGroupsWithState) --------

  final case class SegEvent(user_id: Long, event_time: java.sql.Timestamp,
      tus: Long, cents: Long)
  final case class SegBuf(events: List[(Long, Long)])
  final case class SegOut(user_id: Long, seg_start_us: Long,
      seg_end_us: Long, n_events: Long, cents: Long)

  /** q259's activity-segment gap: a user's segment closes when no event
    * follows within 24 h. */
  private val SegGapUs = 86400000000L

  /** The shared q259/q268 oracle: batch gaps-and-islands segmentation
    * restricted to segments with end + gap ≤ the ms-truncated final
    * watermark — the 20th-law emission both arbitrary-state APIs must
    * produce. */
  private val SegOracle: String = """
        WITH e AS (SELECT user_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        m AS (SELECT ((MAX(tus) // 1000) - 172800000) * 1000 AS wm_us
              FROM e),
        marked AS (SELECT user_id, tus, cents,
                          CASE WHEN LAG(tus) OVER w IS NULL
                                 OR tus - LAG(tus) OVER w > 86400000000
                               THEN 1 ELSE 0 END AS brk
                   FROM e
                   WINDOW w AS (PARTITION BY user_id ORDER BY tus, cents)),
        seg AS (SELECT user_id, tus, cents,
                       SUM(brk) OVER (PARTITION BY user_id
                         ORDER BY tus, cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS sid
                FROM marked),
        per AS (SELECT user_id, MIN(tus) AS seg_start_us,
                       MAX(tus) AS seg_end_us,
                       CAST(COUNT(*) AS BIGINT) AS n_events,
                       CAST(SUM(cents) AS BIGINT) AS cents
                FROM seg GROUP BY user_id, sid)
        SELECT p.user_id, p.seg_start_us, p.seg_end_us, p.n_events,
               p.cents
        FROM per p CROSS JOIN m
        WHERE p.seg_end_us + 86400000000 <= m.wm_us
        ORDER BY p.user_id, p.seg_start_us"""

  /** The shared segmentation kernel — q259 (flatMapGroupsWithState) and
    * q268 (transformWithState) both run exactly this, so the two
    * arbitrary-state APIs cannot drift: sort the merged buffer, split on
    * gaps > [[SegGapUs]], close every segment whose end + gap the
    * watermark passed. Returns (closed, open). */
  private[queries] def splitSegments(merged: List[(Long, Long)],
      wmUs: Long): (List[List[(Long, Long)]], List[List[(Long, Long)]]) = {
    val segs = List.newBuilder[List[(Long, Long)]]
    var cur = List.newBuilder[(Long, Long)]
    var curN = 0
    var prevTs = 0L
    merged.foreach { ev =>
      if (curN > 0 && ev._1 - prevTs > SegGapUs) {
        segs += cur.result(); cur = List.newBuilder[(Long, Long)]; curN = 0
      }
      cur += ev; curN += 1; prevTs = ev._1
    }
    if (curN > 0) segs += cur.result()
    segs.result().partition(_.last._1 + SegGapUs <= wmUs)
  }

  /** q259's group function — the safe-close discipline for ARBITRARY
    * per-key state under event time:
    *
    *  - buffer (ts µs, cents) per user, re-sorted on every invocation
    *    (batch arrival order is not time order);
    *  - a segment may only EMIT when `seg_end + gap ≤ watermark` — the
    *    only rule that is immune to late data: any row the engine still
    *    admits has ts > watermark ≥ seg_end + gap, so it can only START
    *    a new segment, never extend an emitted one;
    *  - the event-time timeout is a pure WAKE-UP (`watermark + 1 ms`,
    *    re-armed every invocation): the emit rule above — not the
    *    timeout timestamp — decides what closes, so ms-truncation
    *    boundary semantics of the timeout can never flip a row;
    *  - state is dropped when no open segment remains.
    */
  private def segFn(uid: Long, rows: Iterator[SegEvent],
      state: GroupState[SegBuf]): Iterator[SegOut] = {
    val wmUs = state.getCurrentWatermarkMs * 1000L
    val buf = state.getOption.map(_.events).getOrElse(Nil)
    val merged = (buf ++ rows.map(r => (r.tus, r.cents))).sorted
    val (closed, open) = splitSegments(merged, wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SegBuf(open.flatten))
      state.setTimeoutTimestamp(state.getCurrentWatermarkMs + 1L)
    }
    closed.iterator.map { s =>
      SegOut(uid, s.head._1, s.last._1, s.size.toLong, s.map(_._2).sum)
    }
  }

  /** q259's custom-state operator: [[segFn]] under a 48 h watermark.
    * Drained against the oracle in q259; `StreamingOpsSpec` drives it on
    * a MemoryStream, trigger by trigger. */
  def customSegments(ds: org.apache.spark.sql.Dataset[SegEvent])
      : org.apache.spark.sql.Dataset[SegOut] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("event_time", "48 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SegBuf, SegOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout())(segFn)
  }

  /** q259: drained custom-state segmentation. Emits exactly the
    * segments whose close line the FINAL watermark passed; the law the
    * oracle replays is `seg_end + gap ≤ (⌊max_ts_ms⌋ − delay_ms)·1000`
    * (the engine tracks event time in ms — the truncation is part of
    * the law, mirrored in integer SQL). */
  def streamedCustomSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    eventsGate(spark, "q259", dir) { g =>
      g.memory(customSegments(segEvents(g).as[SegEvent]), "update")
    }.orderBy(col("user_id"), col("seg_start_us"))
  }

  /** The events stream as [[SegEvent]] columns, for q259 and q268. */
  private def segEvents(g: EventsGate): DataFrame =
    g.events()
      .select(col("user_id"), g.era.eventTime.as("event_time"),
        unix_micros(g.era.eventTime).as("tus"),
        cents.as("cents"))

  // ---- q318: streamed bottom-k distinct sketch --------------------

  final case class BkEvent(shard: Long, h: Long)
  final case class BkState(hs: List[Long])
  final case class BkOut(shard: Long, h: Long)

  private val BkK = 64

  /** The bottom-k merge: state ∪ batch, k smallest distinct kept. Pure
    * set algebra — idempotent and commutative, so the final state is
    * independent of arrival order and batch layout (no watermark
    * needed for determinism; NoTimeout). Emits the CURRENT k rows each
    * invocation (update mode); the drain reconciles with a distinct +
    * per-shard rank, which the last emission already satisfies. */
  private def bkFn(shard: Long, rows: Iterator[BkEvent],
      state: GroupState[BkState]): Iterator[BkOut] = {
    val prev = state.getOption.map(_.hs).getOrElse(Nil)
    val merged = (prev ++ rows.map(_.h)).distinct.sorted.take(BkK)
    state.update(BkState(merged))
    merged.iterator.map(h => BkOut(shard, h))
  }

  /** q318: drained per-shard bottom-64 sketch + estimator certificate
    * (est = (k−1)·2⁴⁸/(h_k+1) vs exact distinct, signed ppm error). */
  def streamedBottomK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (sunk, events) = eventsGate(spark, "q318", dir) { g =>
      val src = g.events()
        .select((col("user_id") % 8).as("shard"),
          expr("CAST(conv(substring(md5(concat('q318#'," +
            " CAST(user_id AS STRING), '#', event_type)), 1, 12)," +
            " 16, 10) AS BIGINT)")
            .as("h"))
        .as[BkEvent]
      (g.memory(src.groupByKey(_.shard)
        .flatMapGroupsWithState[BkState, BkOut](
          OutputMode.Update(), GroupStateTimeout.NoTimeout())(bkFn),
        "update"), g.eventsBatch)
    }
    val kth = sunk.select(col("shard"), col("h")).distinct()
      .selectExpr("shard", "h",
        "row_number() OVER (PARTITION BY shard ORDER BY h) AS rn")
      .filter(col("rn") === BkK)
      .select(col("shard"), col("h").as("kth_hash"))
    val truth = events
      .groupBy((col("user_id") % 8).as("shard"))
      .agg(countDistinct(col("user_id"), col("event_type"))
        .as("true_distinct"))
    kth.join(truth, Seq("shard"))
      .select(col("shard"), col("kth_hash"),
        expr("CAST(63 * 281474976710656 div (kth_hash + 1) AS BIGINT)")
          .as("est_distinct"),
        col("true_distinct"))
      .select(col("shard"), col("kth_hash"), col("est_distinct"),
        col("true_distinct"),
        expr("CASE WHEN est_distinct >= true_distinct" +
          " THEN (est_distinct - true_distinct) * 1000000" +
          " div true_distinct" +
          " ELSE -((true_distinct - est_distinct) * 1000000" +
          " div true_distinct) END").as("err_ppm"))
      .orderBy(col("shard"))
  }

  // ---- q323: streamed count-min heavy-hitter monitor ----------------

  final case class CmEvent(shard: Long, c1: Long, c2: Long, c3: Long,
      c4: Long)
  final case class CmState(cnt: List[Long])
  final case class CmOut(shard: Long, cell: Long, cnt: Long)

  private val CmD = 4
  private val CmW = 64

  /** The count-min fold: state is the d×w counter matrix (flattened,
    * 256 longs), update is COUNTER ADDITION — associative, commutative
    * — so like q318's set merge the drained sketch is arrival-order-
    * and batch-layout-free by algebra, and per-shard matrices merge
    * into the global sketch by plain addition (the 100 TB cross-shard/
    * cross-day merge). Emits the full current matrix each invocation
    * (update mode); counters are monotone, so the drain reconciles
    * with max per (shard, cell). */
  private def cmFn(shard: Long, rows: Iterator[CmEvent],
      state: GroupState[CmState]): Iterator[CmOut] = {
    val arr = state.getOption.map(_.cnt.toArray)
      .getOrElse(Array.fill(CmD * CmW)(0L))
    rows.foreach { e =>
      arr(e.c1.toInt) += 1
      arr(CmW + e.c2.toInt) += 1
      arr(2 * CmW + e.c3.toInt) += 1
      arr(3 * CmW + e.c4.toInt) += 1
    }
    state.update(CmState(arr.toList))
    arr.iterator.zipWithIndex.map { case (v, i) =>
      CmOut(shard, i.toLong, v)
    }
  }

  private def cmBucketSql(r: Int, akCol: String): String =
    s"((instr('0123456789abcdef', substring(md5(concat('q323#$r#', " +
      s"$akCol)), 1, 1)) - 1) * 16 + instr('0123456789abcdef', " +
      s"substring(md5(concat('q323#$r#', $akCol)), 2, 1)) - 1) % $CmW"

  /** q323: drained per-shard CMS matrices, merged by addition, probed
    * for heavy-hitter candidates (est ≥ N/50) against exact counts. */
  def streamedCountMin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (sunk, events) = eventsGate(spark, "q323", dir) { g =>
      val src = g.events()
        .filter(col("event_id").isNotNull)
        .select(pmod(col("event_id"), lit(4L)).cast("long").as("shard"),
          expr("concat('u', CAST(20000L div (event_id + 1) " +
            "AS STRING))").as("ak"))
        .select(col("shard"),
          expr(cmBucketSql(1, "ak")).cast("long").as("c1"),
          expr(cmBucketSql(2, "ak")).cast("long").as("c2"),
          expr(cmBucketSql(3, "ak")).cast("long").as("c3"),
          expr(cmBucketSql(4, "ak")).cast("long").as("c4"))
        .as[CmEvent]
      (g.memory(src.groupByKey(_.shard)
        .flatMapGroupsWithState[CmState, CmOut](
          OutputMode.Update(), GroupStateTimeout.NoTimeout())(cmFn),
        "update"), g.eventsBatch)
    }
    // Drain reconciliation: counters are monotone → final value per
    // (shard, cell) is the max emission; the global sketch is the SUM
    // of per-shard matrices (mergeability, exercised relationally).
    val merged = sunk
      .groupBy(col("shard"), col("cell")).agg(max(col("cnt")).as("cnt"))
      .groupBy(col("cell")).agg(sum(col("cnt")).as("c"))
    val exact = events
      .filter(col("event_id").isNotNull)
      .select(expr("concat('u', CAST(20000L div (event_id + 1) " +
        "AS STRING))").as("ak"))
      .groupBy(col("ak")).agg(count(lit(1)).as("f"))
    val nn = exact.agg(sum(col("f")).as("n"))
    val probes = exact
      .select(col("ak"), col("f"),
        explode(array((1 to CmD).map(r =>
          struct(lit(r).as("r"),
            expr(s"CAST((${r - 1} * $CmW + ${cmBucketSql(r, "ak")}) " +
              "AS BIGINT)").as("cell"))): _*)).as("rb"))
      .select(col("ak"), col("f"), col("rb.cell").as("cell"))
      .join(broadcast(merged), Seq("cell"))
      .groupBy(col("ak"), col("f")).agg(min(col("c")).as("est"))
    probes.crossJoin(broadcast(nn))
      .filter(col("est") >= expr("n div 50L"))
      .select(col("ak"), col("f"), col("est"),
        (col("est") - col("f")).as("over"),
        expr("n div 50L").as("thr"),
        expr("CAST(CASE WHEN f >= n div 50L THEN 1 ELSE 0 END " +
          "AS BIGINT)").as("is_true_hh"))
      .orderBy(col("ak"))
  }

  // ---- q329: streamed dead-letter (quarantine) conservation law ----

  /** q329: a corrupt-line stream split into main + DLQ inside the
    * micro-batch pipeline; the drained rollup certifies the split is a
    * PARTITION — nothing lost, nothing duplicated, main parsed
    * faithfully, DLQ raw lines kept byte-faithfully (length-sum
    * fingerprint). Lines are constructed with explicit concat (never
    * to_json) so BOTH arms' bytes are engine-reproducible. */
  def streamedDeadLetter(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q329", dir) { g =>
      val src = g.events()
        .filter(col("event_id").isNotNull)
        .select(col("event_id"),
          coalesce(col("event_type"), lit("")).as("etype"),
          expr("CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)")
            .as("cents"))
        .select(col("event_id"),
          expr("concat('{\"event_id\":', CAST(event_id AS STRING), " +
            "',\"etype\":\"', etype, '\",\"cents\":', " +
            "CAST(cents AS STRING), '}')").as("full"))
        // corruption planted at the HEAD (opening brace dropped): the
        // whole object is unparseable, so PERMISSIVE partial-results
        // salvage (spark.sql.json.enablePartialResults) cannot rescue
        // any field — the row must route to the DLQ
        .select(expr("CASE WHEN event_id % 13 = 0 " +
          "THEN substring(full, 2) ELSE full END").as("line"))
      val parsed = src
        .select(col("line"),
          from_json(col("line"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "event_id BIGINT, etype STRING, cents BIGINT")).as("j"))
        .select(
          when(col("j.event_id").isNotNull, col("j.etype"))
            .otherwise(lit("zz_dlq")).as("etype"),
          coalesce(col("j.cents"), lit(0L)).as("cents"),
          coalesce(col("j.event_id"), lit(0L)).as("eid"),
          length(col("line")).cast("long").as("raw_len"))
      g.memory(parsed)
    }.groupBy(col("etype"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        sum(col("eid")).as("sum_eid"),
        sum(col("raw_len")).as("sum_raw_len"))
      .orderBy(col("etype"))

  // ---- q268: the SAME custom state on transformWithState + timers ---

  final case class TwsSegState(events: List[(Long, Long)], timer_ms: Long)

  /** q268's StatefulProcessor: the q259 close discipline ported to the
    * Spark-4 arbitrary-state API — buffer in typed ValueState on
    * RocksDB, the wake-up as a REAL registered event-time timer
    * (deleted and re-armed every invocation; `handleExpiredTimer` is
    * the path no aggregation operator can express — output produced by
    * time passing, not data arriving). Emission is governed solely by
    * the shared [[splitSegments]] rule, so the timer's own boundary
    * semantics can never flip a row. */
  class SegTwsProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, SegEvent, SegOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var state: ValueState[TwsSegState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TwsSegState]("seg_buf",
        Encoders.product[TwsSegState], TTLConfig.NONE)
    private def advance(key: Long, newRows: List[(Long, Long)],
        wmMs: Long): Iterator[SegOut] = {
      val prev = Option(state.get())
      prev.filter(_.timer_ms > 0)
        .foreach(s => getHandle.deleteTimer(s.timer_ms))
      val merged = (prev.map(_.events).getOrElse(Nil) ++ newRows).sorted
      val (closed, open) = splitSegments(merged, wmMs * 1000L)
      if (open.isEmpty) state.clear()
      else {
        val t = math.max(wmMs, 0L) + 1L
        getHandle.registerTimer(t)
        state.update(TwsSegState(open.flatten, t))
      }
      closed.iterator.map { s =>
        SegOut(key, s.head._1, s.last._1, s.size.toLong, s.map(_._2).sum)
      }
    }
    override def handleInputRows(key: Long, rows: Iterator[SegEvent],
        timerValues: TimerValues): Iterator[SegOut] =
      advance(key, rows.map(r => (r.tus, r.cents)).toList,
        timerValues.getCurrentWatermarkInMs())
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SegOut] =
      advance(key, Nil, timerValues.getCurrentWatermarkInMs())
  }

  /** q268: the q259 drain on the Spark-4 API — identical law, identical
    * oracle, different engine path (RocksDB typed state + real timers). */
  def streamedTwsSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    eventsGate(spark, "q268", dir, rocksDb = true) { g =>
      g.memory(segEvents(g)
        .withWatermark("event_time", "48 hours")
        .as[SegEvent]
        .groupByKey(_.user_id)
        .transformWithState(new SegTwsProcessor,
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append()))
    }.orderBy(col("user_id"), col("seg_start_us"))
  }

  /** q211: dropDuplicatesWithinWatermark chained INTO a window
    * aggregation (the dedup-then-count shape every exactly-once metrics
    * pipeline wants), fed a corpus that arrives TWICE: the landing dir
    * stages two names for the same events file, maxFilesPerTrigger = 1,
    * so batch 2 replays every row. Batch-2 rows at or above the
    * watermark hit live dedup state (all dups — dropped); rows below it
    * are dropped as late before dedup. Either way the duplicate
    * delivery contributes NOTHING, and the agg emits the deduped hourly
    * counts for windows the final watermark passed. */
  def streamedDedupAgg(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q211", dir, copies = 2) { g =>
      g.memory(g.events(maxFilesPerTrigger = 1)
        .select(g.era.eventTime.as("event_time"),
          col("event_id"), col("event_type"))
        .withWatermark("event_time", "4 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")))
    }.select(windowStart("hour_start"), col("event_type"), col("n"))
      .orderBy(col("hour_start"), col("event_type"))

  /** q235: an hourly windowed aggregation feeding a COARSER 4-hour
    * re-aggregation in the same streaming query — the rollup-cascade
    * shape (hourly metrics cascading into dailies) as TWO chained
    * window aggs. The upstream agg finalizes an hour when the
    * watermark passes its end; the downstream agg sees those finalized
    * rows under the PROPAGATED output watermark and finalizes a 4-hour
    * window only when every contained hour could have arrived. The
    * measured-then-encoded emission boundary lives in q235's oracle. */
  def streamedAggCascade(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q235", dir) { g =>
      g.memory(hourlyProfile(g, "2 hours")
        .groupBy(window(col("window"), "4 hours"), col("event_type"))
        .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_hours"),
          sum(col("sdec")).as("sdec")))
    }.select(windowStart("win4_start"), col("event_type"),
        col("n_events"), col("n_hours"),
        col("sdec").cast(DoubleType).as("sum_value"))
      .orderBy(col("win4_start"), col("event_type"))

  /** q219: a UNION of two file-source streams over the same landing
    * dir, where side B shifts every event time back 6 h in-stream, so
    * the two sources' event-time maxima differ by exactly 6 h. Each
    * branch carries its own 4 h watermark; under Spark's default
    * min-policy the GLOBAL watermark is the LAGGING branch's, so
    * append-mode emission is bounded by min(maxA, maxB) − 4 h =
    * max(ts) − 10 h — while the counts inside every emitted window
    * include BOTH branches' rows. The slowest source gates emission
    * for everyone; the oracle replays that in SQL. */
  def streamedUnionWatermark(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q219", dir) { g =>
      def src(): DataFrame = g.events()
        .select(g.era.eventTime.as("event_time"), col("event_type"))
      val a = src().withWatermark("event_time", "4 hours")
      val b = src()
        .select((col("event_time") - expr("INTERVAL 6 HOURS"))
          .as("event_time"), col("event_type"))
        .withWatermark("event_time", "4 hours")
      g.memory(a.unionAll(b)
        .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n")))
    }.select(windowStart("hour_start"), col("event_type"), col("n"))
      .orderBy(col("hour_start"), col("event_type"))

  /** q231: the dimension-refresh contract. TWO sequential AvailableNow
    * runs share ONE checkpoint and ONE durable file sink; between them
    * the static dimension is REWRITTEN (v1 → v2) and the corpus is
    * re-staged under a second name. Run 1 enriches every event through
    * the v1 labels; run 2 — whose source progress the checkpoint
    * preserves, so it reads ONLY the newly staged file — builds a fresh
    * static plan and enriches the replayed rows through v2. The sink
    * then holds exactly one v1-labelled and one v2-labelled copy of the
    * corpus: a dimension update becomes visible at the next restart
    * without reprocessing or corrupting earlier output. */
  def streamedDimRefresh(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q231", dir) { g =>
      val dimDir = g.dir("dim")
      val outDir = g.dir("sink")
      val types = Tables.eventsRaw(spark, dir).select(col("event_type"))
        .distinct()
      def writeDim(ver: String): Unit = types
        .select(col("event_type"),
          concat(lit(ver + "_"), col("event_type")).as("label"))
        .coalesce(1).write.mode("overwrite").parquet(dimDir)
      def runOnce(): Unit = g.drain(g.events()
          .select(col("event_type"), col("value"))
          .join(spark.read.parquet(dimDir), Seq("event_type")))(
        _.format("parquet").option("path", outDir).outputMode("append"))
      writeDim("v1"); runOnce()
      writeDim("v2")
      g.stageCopy()
      runOnce()
      spark.read.parquet(outDir)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(cents).as("cents_total"))
        .orderBy(col("label"))
        .localCheckpoint()
    }

  /** q337: the pipeline-upgrade contract (32nd law). TWO sequential
    * AvailableNow runs share ONE checkpoint and ONE durable parquet
    * file sink, but between them the QUERY SHAPE changes: run 1's
    * projection emits (event_id, event_type, cents); run 2 — the
    * upgraded pipeline — additionally derives `band = cents % 7`. The
    * checkpoint confines run 2 to the newly staged corpus copy (no
    * reprocessing), the sink's commit log accrues files of BOTH
    * schemas, and the merged-schema read shows exactly one complete
    * v1-era copy (band NULL) and one complete v2-era copy — a column
    * added to a live pipeline becomes visible at the next restart
    * without rewriting history, the plain-parquet dual of an Iceberg
    * ADD COLUMN. Projection changes between restarts are one of the
    * recovery-compatible changes Structured Streaming documents; this
    * gate turns that promise into a hash-checked law. */
  def streamedSchemaEvolution(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q337", dir) { g =>
      val outDir = g.dir("sink")
      def runOnce(upgraded: Boolean): Unit = {
        val base = g.events()
          .select(col("event_id"), col("event_type"),
            cents.as("cents"))
        val shaped =
          if (upgraded) base.withColumn("band", col("cents") % 7)
          else base
        g.drain(shaped)(
          _.format("parquet").option("path", outDir).outputMode("append"))
      }
      runOnce(upgraded = false)
      // the upgrade window: new corpus arrives AND the jar changes
      g.stageCopy()
      runOnce(upgraded = true)
      // exactly-once read through the sink's commit log, schemas merged
      spark.read.option("mergeSchema", "true").parquet(outDir)
        .withColumn("schema_era",
          when(col("band").isNull, "v1").otherwise("v2"))
        .groupBy(col("schema_era"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sum_cents"),
          sum(col("event_id")).as("sum_eid"),
          coalesce(sum(col("band")), lit(-1L)).as("sum_band"))
        .orderBy(col("schema_era"), col("event_type"))
        .localCheckpoint()
    }

  /** q192: q139's pipeline against the PRODUCTION sink — a parquet
    * FILE sink with its `_spark_metadata` commit log — instead of the
    * memory sink, then read back through that log. The memory sink
    * commits rows driver-side; the file sink commits by atomically
    * recording finished files in the metadata log, and an
    * exactly-once read MUST go through the log (stray/partial task
    * files are invisible to it). Same watermark-trim law and oracle
    * as q139, so the gate proves sink choice does not change emitted
    * rows — the durable-commit leg of the streaming contract (the
    * reference's Iceberg append, in the format this environment can
    * execute). Result is eagerly localCheckpoint-ed so the temp sink
    * dir can be deleted before returning. */
  def streamedFileSink(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q192", dir) { g =>
      val outDir = g.dir("sink")
      g.drain(hourlyProfile(g, "1 hour"))(
        _.format("parquet").option("path", outDir).outputMode("append"))
      profileRows(spark.read.parquet(outDir)).localCheckpoint()
    }

  /** Run the streamed view→purchase interval join to completion and
    * return the emitted matches, fully ordered. Two independent
    * file-source streams over the same staged landing dir, each
    * watermarked, joined on user + a 2-hour event-time interval. */
  def streamedIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q140", dir) { g =>
      g.memory(g.joinSide("view", "v", "4 hours")
        .join(g.joinSide("purchase", "p", "4 hours"), within("v", "p", 120))
        .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
          col("p_id").as("purchase_id"),
          (unix_micros(col("p_time")) - unix_micros(col("v_time")))
            .as("gap_us")))
    }.orderBy(col("user_id"), col("view_id"), col("purchase_id"))

  /** q187: LEFT OUTER stream-stream interval join. Outer (null-matched)
    * rows can only emit once the watermark PROVES no future purchase can
    * match — state eviction is the emission trigger, which in a finite
    * drain means the last real view rows would sit in state forever. The
    * harness therefore stages a far-future SENTINEL view (event_id −1,
    * max(ts) + 10 days) as a SECOND file with `maxFilesPerTrigger = 1`:
    * batch 1 carries the corpus (inner matches emit), batch 2's sentinel
    * advances the watermark past every real view's join window, and the
    * engine's no-data flush evicts + emits every remaining unmatched
    * view. The law (measured at both SFs, then encoded): the drained
    * emission, sentinel row excluded, equals the BATCH left interval
    * join exactly.
    *
    * q201 runs the SAME harness with `joinType = "full_outer"`: BOTH
    * sides emit null-matched evictions (views with no purchase in
    * window AND purchases no view window covers), so the drain law is
    * the union of q187's and its mirror — the full-outer drain equals
    * the BATCH full interval join exactly. The sentinel recipe already
    * advances both side clocks (each side's watermark is post-filter),
    * so purchase-side eviction needs no new machinery. */
  def streamedOuterJoin(spark: SparkSession, dir: String,
      joinType: String = "left_outer", name: String = "q187"): DataFrame =
    // v_user is null on purchase-side evictions (full_outer only)
    sentinelJoin(spark, dir, name, joinType)(
      _.select(coalesce(col("v_user"), col("p_user")).as("user_id"),
        col("v_id").as("view_id"), col("p_id").as("purchase_id")))
      .orderBy(col("user_id"), col("view_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)

  /** q237: streamed LEFT SEMI interval join — the existence-check join
    * (which views converted at all?) as a watermarked stream-stream
    * join. Semi semantics are the interesting law: a view with THREE
    * in-window purchases must emit exactly ONCE (the join deduplicates
    * matches by construction), and unmatched views are silently
    * discarded at eviction (no null-padded row — that is q187's left
    * OUTER contract). Same sentinel-flush scaffold as q187/q201; the
    * sentinel pair matches itself and is dropped post-sink. Drained
    * emission equals the batch EXISTS query exactly. */
  def streamedSemiJoin(spark: SparkSession, dir: String): DataFrame =
    sentinelJoin(spark, dir, "q237", "left_semi")(
      _.select(col("v_user").as("user_id"), col("v_id").as("view_id")))
      .orderBy(col("user_id"), col("view_id"))

  /** The sentinel-flush drain shared by q187/q201/q237: view ⋈ purchase
    * within 2 h on the same user, `joinType`, projected by `select`,
    * with the sentinel pair dropped from the emission. */
  private def sentinelJoin(spark: SparkSession, dir: String, name: String,
      joinType: String)(select: DataFrame => DataFrame): DataFrame = {
    // PRECONDITION (sentinel-flush): the staged corpus must be ONE
    // parquet file so every real event lands in micro-batch 1 under
    // maxFilesPerTrigger = 1. A multi-file corpus would deliver later
    // files AFTER the sentinel batch advanced the watermark, and their
    // rows would be dropped as late — fail fast instead of silently
    // shrinking the drain if the fixture ever splits.
    require(Files.isRegularFile(Paths.get(dir, "events.parquet")),
      s"$dir/events.parquet must be a single parquet file for the " +
        "sentinel-flush drain (coalesce the fixture to one file)")
    eventsGate(spark, name, dir) { g =>
      // sentinels: one view + one purchase (user −1, matching each other
      // so the pair is droppable post-sink) 10 days past the corpus max,
      // appended as a SECOND file in the landing dir (later mtime ⇒
      // second micro-batch under maxFilesPerTrigger = 1). BOTH sides
      // need one: each side's watermark is computed after its
      // event_type filter, so a view-only sentinel would advance only
      // the view clock and the global (min) watermark would stall.
      val maxUs = Tables.events(spark, dir)
        .agg(max(unix_micros(col("ts")))).head.getLong(0)
      val sentinelUs = maxUs + 10L * 24 * 3600 * 1000000L
      val tsExpr = g.era.schema("ts").dataType match {
        case LongType => lit(sentinelUs * 1000L) // nanos-as-long era
        case dt       => timestamp_micros(lit(sentinelUs)).cast(dt)
      }
      spark.range(1).select(explode(array(lit("view"), lit("purchase")))
          .as("event_type"))
        .select(lit(-1L).as("event_id"), tsExpr.as("ts"),
          lit(-1L).as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("append").parquet(g.srcDir)
      g.memory(select(
        g.joinSide("view", "v", "4 hours", maxFilesPerTrigger = 1).join(
          g.joinSide("purchase", "p", "4 hours", maxFilesPerTrigger = 1),
          within("v", "p", 120), joinType)))
    }
      // sentinels are the user −1 pair (they match each other, so they
      // never surface as null-matched rows on either side)
      .filter(col("user_id") =!= -1L)
  }

  /** Typed rows for the q148 custom-state processor. */
  final case class EventIn(user_id: Long, event_id: Long, ts_us: Long,
    cents: Long)
  final case class RunningOut(user_id: Long, event_id: Long,
    running_n: Long, running_cents: Long)

  /** Per-user running (count, spend) via Spark 4's StatefulProcessor —
    * ONE fixed-size ValueState row per user; each batch's rows are
    * sorted (event-time, id) locally before folding, so emissions are
    * deterministic under the single-drain contract (one staged file ⇒
    * one micro-batch ⇒ the per-key iterator holds the user's whole
    * history). Value is integer CENTS, so the running sum is exact. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventIn, RunningOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.OutputMode
    @transient private var state: ValueState[RunningOut] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RunningOut]("running",
        Encoders.product[RunningOut], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        timerValues: TimerValues): Iterator[RunningOut] = {
      val prev = Option(state.get())
        .getOrElse(RunningOut(key, 0L, 0L, 0L))
      var n = prev.running_n; var c = prev.running_cents
      val out = rows.toSeq.sortBy(r => (r.ts_us, r.event_id)).map { r =>
        n += 1; c += r.cents
        RunningOut(key, r.event_id, n, c)
      }
      if (out.nonEmpty) state.update(out.last)
      out.iterator
    }
  }

  /** Run the streamed running-totals processor to completion. */
  def streamedRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    eventsGate(spark, "q148", dir, rocksDb = true) { g =>
      g.memory(g.events()
        .select(col("user_id"), col("event_id"),
          g.era.tsMicros.as("ts_us"),
          cents.as("cents"))
        .as[EventIn]
        .groupByKey(_.user_id)
        .transformWithState(new RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update()),
        "update")
    }.orderBy(col("user_id"), col("running_n"))
  }

  /** Run the duplicate-delivery dedup pipeline: the staged landing dir
    * holds the SAME events file TWICE (an S3-notification replay — the
    * reference's SQS source is at-least-once), streamed through
    * `dropDuplicates(event_id)`; the emitted set must equal the
    * single-copy table. Returns the post-dedup per-type aggregate. */
  def streamedReplayDedup(spark: SparkSession, dir: String): DataFrame =
    replayRollup(eventsGate(spark, "q149", dir, copies = 2) { g =>
      g.memory(g.events().dropDuplicates("event_id"))
    })

  /** The q149/q184 rollup of a deduped replay: per type, rows, distinct
    * ids and cents; n = n_distinct iff the replay collapsed. */
  private def replayRollup(deduped: DataFrame): DataFrame =
    deduped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("event_id")).as("n_distinct"),
        sum(cents).as("cents_total"))
      .orderBy(col("event_type"))

  /** [[replayRollup]] of the single-copy events: q149's and q184's
    * oracle (both drains collapse the replay to it). */
  private val ReplayRollupOracle: String = """
        SELECT event_type, COUNT(*) AS n,
               CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total
        FROM events
        GROUP BY event_type ORDER BY event_type"""

  /** Typed rows for the q176 streaming LSH candidate processor. */
  final case class BucketDoc(band: Int, h: Long, doc_id: Long)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** Per-(band, h) bucket membership as ListState: each arriving doc is
    * paired against every doc already IN the bucket (earlier
    * micro-batches via state, earlier rows of the same batch via the
    * local fold), then appended. Pair emission is therefore exactly
    * "band collision", discovered the moment the second member arrives —
    * the streaming form of the batch band self-join, and the emitted SET
    * is independent of how the corpus is split into micro-batches.
    * Duplicate discoveries across bands collapse post-sink, mirroring
    * the batch dropDuplicates.
    *
    * 100 TB posture: state per bucket is doc IDS ONLY (8 bytes/doc/band
    * in RocksDB) — signatures and shingle sets never enter state; exact
    * verification joins the corpus AFTER the drain, exactly like the
    * batch path (in production: foreachBatch join against the corpus
    * table). */
  class NearDupCandidateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, Long), BucketDoc, CandPair] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.Encoders
    @transient private var seen: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getListState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BucketDoc],
        timerValues: TimerValues): Iterator[CandPair] = {
      val arrived = rows.map(_.doc_id).toArray.distinct.sorted
      val members = scala.collection.mutable.ArrayBuffer[Long]()
      seen.get().foreach(members += _)
      val out = scala.collection.mutable.ArrayBuffer[CandPair]()
      arrived.foreach { d =>
        members.foreach { p =>
          if (p != d) out += CandPair(math.min(p, d), math.max(p, d))
        }
        members += d
        seen.appendValue(d)
      }
      out.iterator
    }
  }

  /** Run the streamed fuzzy (MinHash-LSH) near-dup pipeline to
    * completion: `docs` (id, text) is staged as THREE parquet batch
    * files (doc_id mod 3, ascending mtimes) consumed one per micro-batch
    * (maxFilesPerTrigger = 1, AvailableNow), each doc's band hashes
    * computed in-stream with the SAME kernels as batch q46
    * ([[graft.operators.MinHashLSH.bandStructs]]), candidates discovered
    * across batches by [[NearDupCandidateProcessor]] state, and the
    * drained candidate set exact-verified with
    * [[graft.operators.MinHashLSH.verifyCandidates]]. Because candidate
    * discovery is collision-complete regardless of the batch split, the
    * result equals batch `nearDupPairs` — which is what lets q46's
    * exact-SQL oracle gate the STREAMING engine (state store, RocksDB,
    * multi-batch drain) end to end. */
  def streamedNearDupPairs(spark: SparkSession, docs: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    import graft.functions.TextFunctions.{minhashSignature, shingles, tokens}
    val (numHashes, bands) = (64, 32)
    val staged = docs.select(col("doc_id").cast(LongType).as("doc_id"),
      col("text").cast(StringType).as("text"))
    val pairs = gate(spark, "q176", rocksDb = true) { g =>
      // stage the 3-way batch split (plain columnar files, like a
      // notification-fed landing prefix receiving the corpus in chunks);
      // ascending mtimes pin the batch order (the RESULT is order-
      // independent; this keeps the drain sequence deterministic)
      g.stageFiles((0 until 3).map(k =>
        staged.filter(pmod(col("doc_id"), lit(3)) === k)))
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val buckets = g.source(schema, maxFilesPerTrigger = 1)
        .select(col("doc_id"), shingles(tokens(col("text")), 3).as("sh"))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", minhashSignature(col("sh"), numHashes))
        .select(col("doc_id"),
          explode(graft.operators.MinHashLSH.bandStructs(
            col("sig"), numHashes, bands)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.h").as("h"), col("doc_id"))
        .as[BucketDoc]
      g.memory(buckets
        .groupByKey(r => (r.band, r.h))
        .transformWithState(new NearDupCandidateProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append()))
    }
    graft.operators.MinHashLSH.verifyCandidates(
      pairs.dropDuplicates("doc_a", "doc_b"),
      graft.operators.MinHashLSH.shingled(staged, "doc_id", "text", 3),
      threshold)
  }

  /** Run the streamed stream-static enrichment to completion: events
    * stream inner-joined to the broadcast customer dim on user_id =
    * c_custkey (stateless — the static side is re-planned per batch),
    * aggregated after drain. */
  def streamedStaticEnrich(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q168", dir) { g =>
      val dim = broadcast(spark.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")))
      g.memory(g.events()
        .select(col("user_id"), col("event_type"),
          cents.as("cents"))
        .join(dim, col("user_id") === col("c_custkey")))
    }.groupBy(col("c_mktsegment").as("mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents_total"))
      .orderBy(col("mktsegment"), col("event_type"))

  /** Run the streamed broadcast-model scoring pipeline to completion:
    * documents arrive through a file-source micro-batch stream and every
    * row is scored STATELESSLY in-row by the trained 257-weight model
    * embedded as a plan literal ([[graft.operators.HashedLogReg
    * .inRowScore]]) — model fitted offline, shipped into the stream, no
    * state store and no shuffle inside the streaming query. The drained
    * per-doc (y, z) rows roll up into the confusion/margin card. */
  def streamedModelScoring(spark: SparkSession, dir: String,
      w: Array[Long], stopTerms: Seq[String],
      threshPerMille: Long): DataFrame =
    gate(spark, "q272") { g =>
      g.stage("documents.parquet", s"$dir/documents.parquet")
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val (zc, yc) = graft.operators.HashedLogReg.inRowScore(
        "toks", w, stopTerms, threshPerMille)
      g.memory(g.source(schema)
        .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
        .select(col("doc_id"), yc.as("y"), zc.as("z")))
    }.groupBy(col("y"),
        when(col("z") >= 0L, 1L).otherwise(0L).as("pred"))
      .agg(count(lit(1)).as("n_docs"),
        // margin checksum accumulates in DECIMAL(38,0) (the oracle's
        // HUGEINT SUM mirrored) — Σz outgrows a long at corpus scale
        sum(col("z").cast(DecimalType(38, 0))).cast(LongType).as("sum_z"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
      .orderBy(col("y"), col("pred"))

  /** q355: the REAL ingest pipeline ([[graft.streaming.MicroBatchPipeline]])
    * drained over a staged 12-file JSON corpus with planted corruption,
    * quarantine + idempotent commit + maxFilesPerTrigger = 3, rolled up
    * per micro-batch. Mod-times pin file→batch assignment (q275's
    * discipline), no output cell reads the wall-clock enrichment
    * columns, and every one is a pure function of events arithmetic. */
  def ingestQuarantineLaw(spark: SparkSession, dir: String): DataFrame = {
    val mainT = "q355_main_table"
    val dlqT = "q355_dlq_table"
    gate(spark, "q355") { g =>
      Seq(mainT, dlqT).foreach(g.resetTable)
      val lines = Tables.eventsRaw(spark, dir)
        .filter(col("event_id").isNotNull)
        .select(col("event_id").cast(LongType).as("eid"))
        .withColumn("full", expr(
          "concat('{\"battery_level\":', CAST(eid % 100 AS STRING), " +
            "',\"collision_detected\":false,\"direction\":\"N\"," +
            "\"fuel_level\":', CAST(eid % 50 AS STRING), " +
            "',\"latitude\":', CAST(eid % 90 AS STRING), " +
            "',\"longitude\":', CAST(eid % 180 AS STRING), " +
            "',\"seat_belt_status\":\"on\",\"speed_kmh\":', " +
            "CAST(eid % 120 AS STRING), " +
            "',\"sudden_braking\":false," +
            "\"timestamp\":\"2024-01-01 00:00:00\"," +
            "\"vehicle_id\":\"v', CAST(eid AS STRING), '\"}')"))
        // head-of-line corruption: the whole object is unparseable, so
        // PERMISSIVE partial-results salvage cannot rescue a field
        .withColumn("line", expr(
          "CASE WHEN eid % 13 = 0 THEN substring(full, 2) ELSE full END"))
      // pinned batch order: batches are exactly {f00..f02}, {f03..f05},
      // {f06..f08}, {f09..f11}
      g.stageLines((0 until 12).map(f =>
        lines.filter(col("eid") % 12 === f).orderBy(col("eid"))
          .select(col("line"))))
      val cfg = graft.streaming.MicroBatchPipeline.Config(
        inputDir = g.srcDir,
        checkpointDir = g.ckpt,
        table = mainT,
        maxFilesPerTrigger = 3,
        processingInterval = None,
        idempotentCommit = true,
        quarantineTable = Some(dlqT))
      await(g.start(spark)(
        graft.streaming.MicroBatchPipeline.start(spark, cfg)))
    }
    val m = spark.table(mainT).groupBy(col("batch_id"))
      .agg(countDistinct(col("input_file")).as("n_files"),
        count(lit(1)).as("n_main"),
        sum(col("speed_kmh")).cast(LongType).as("sum_speed"))
    val d = spark.table(dlqT).groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_dlq"),
        sum(length(col("raw_line")).cast(LongType)).as("dlq_bytes"))
    m.join(d, Seq("batch_id"), "full_outer")
      .na.fill(0L, Seq("n_files", "n_main", "sum_speed", "n_dlq",
        "dlq_bytes"))
      .select(col("batch_id").cast(LongType).as("batch_id"),
        col("n_files"), col("n_main"), col("n_dlq"),
        (col("n_main") + col("n_dlq")).as("rows_per_trigger"),
        col("sum_speed"), col("dlq_bytes"))
      .orderBy(col("batch_id"))
  }

  /** Run the UPDATE-mode emission-history gate to completion: the event
    * corpus is split into 8 deterministic files (event_id % 8) with
    * strictly increasing modification times, streamed ONE FILE PER
    * MICRO-BATCH (`maxFilesPerTrigger` 1 — the file source orders by
    * mod-time, which the split pins), through an unwindowed per-type
    * count/sum aggregation in update mode. Update mode emits a key's
    * CURRENT aggregate in every batch that touches it, so the drained
    * sink holds each type's full PREFIX HISTORY — a pure function of
    * the data once the batch order is pinned, which is exactly what the
    * oracle replays (cumulative counts over event_id % 8 ≤ k, rows only
    * where file k touches the type). */
  def streamedUpdateHistory(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "q275") { g =>
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("event_type"), col("event_id"),
          cents.as("cents"))
      val schema = g.stageSplit(ev, "event_id")
      g.memory(g.source(schema, maxFilesPerTrigger = 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
            .as("cents_total")),
        "update")
    }.select(col("event_type"), col("n"), col("cents_total"))
      .orderBy(col("event_type"), col("n"))

  /** Run the streamed CDC latest-wins materialization to completion:
    * per-user change events arrive in 8 micro-batches split by
    * event_id % 8 — DELIBERATELY NOT time order, so stale changes land
    * after newer ones — and every batch merges into a keyed state
    * table through [[graft.operators.Upsert.mergeLatest]] (replace
    * only if the incoming (ts, event_id) version is newer). The final
    * table must equal the batch latest-row-per-user query no matter
    * how the batches interleaved. ts travels as the microsecond
    * `yyyy-MM-dd HH:mm:ss.SSSSSS` string (lexicographically
    * chronological — the q96 parity format), so version comparison is
    * engine-identical. */
  def streamedCdcLatest(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Upsert
    val table = "q280_cdc_state"
    eventsGate(spark, "q280", dir, copies = 0) { g =>
      g.resetTable(table)
      val ev = g.eventsBatch
        .filter(col("user_id") < 200)
        .select(col("user_id"), col("event_type"), col("event_id"),
          cents.as("cents"),
          date_format(g.era.eventTime, "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("ts_str"))
      val schema = g.stageSplit(ev, "event_id")
      g.drain(g.source(schema, maxFilesPerTrigger = 1))(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          val latest = Upsert.latestPerKey(batch, Seq("user_id"),
            Seq("ts_str", "event_id"))
          if (!spark.catalog.tableExists(table))
            latest.write.format("parquet").saveAsTable(table)
          else Upsert.mergeLatest(spark, table, latest,
            Seq("user_id"), Seq("ts_str", "event_id"))
        })
    }
    readAndDrop(spark, table)(
      _.select(col("user_id"), col("event_type"), col("event_id"),
        col("cents"), col("ts_str"))
        .orderBy(col("user_id")))
  }

  /** Run the streamed per-user session build to completion and return
    * the emitted (watermark-closed) sessions, fully ordered. */
  def streamedSessions(spark: SparkSession, dir: String): DataFrame =
    eventsGate(spark, "q141", dir) { g =>
      g.memory(g.events()
        .select(g.era.eventTime.as("event_time"),
          col("user_id"))
        .withWatermark("event_time", "1 hour")
        .groupBy(session_window(col("event_time"), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events")))
    }.select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** The q139/q192 oracle: batch hourly windows kept by the
    * watermark-trim law (window_end ≤ max(ts) − 1 h). */
  private val HourlyProfileOracle: String = s"""
        WITH e AS (
          SELECT CAST(ts AS TIMESTAMP) AS tsu, event_type, value
          FROM events),
        m AS (SELECT max(tsu) AS mx FROM e),
        w AS (
          SELECT date_trunc('hour', tsu) AS ws, event_type,
                 COUNT(*) AS n,
                 ${Det.sqlSum("value", 2)} AS sum_value
          FROM e GROUP BY 1, 2)
        SELECT strftime(w.ws, '%Y-%m-%d %H:%M:%S') AS hour_start,
               w.event_type, w.n, w.sum_value
        FROM w CROSS JOIN m
        WHERE w.ws + INTERVAL 1 HOUR <= m.mx - INTERVAL 1 HOUR
        ORDER BY hour_start, event_type"""

  /** The q275/q285 oracles' view of [[Gate.stageSplit]]: `e` (each event's
    * file f = event_id % 8 and its cents) and `g` (per type and file, the
    * row count `nf` and cents `cf`). */
  private val SplitCentsCtes: String = """WITH e AS (SELECT event_type, event_id % 8 AS f,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        g AS (SELECT event_type, f, CAST(COUNT(*) AS BIGINT) AS nf,
                     CAST(SUM(cents) AS BIGINT) AS cf
              FROM e GROUP BY 1, 2)"""

  val defs: Seq[(String, QueryDef)] = Seq(

    // ---- q139: streamed watermarked hourly profile, oracle-backed ----
    // q31's hourly profile recomputed by the streaming engine itself;
    // the oracle rebuilds the same windows in batch SQL and applies the
    // watermark-trim law (window_end ≤ max(ts) − 1 h). See the object
    // scaladoc for why the trim is a pure function of the data.
    //
    // 100 TB posture: this IS the production shape — a file-notification
    // source feeding a watermarked shuffle-partitioned window agg with
    // incremental state; the memory sink stands in for the Iceberg
    // table sink (TableSink), which the streaming specs exercise.
    //
    // Headline since round 6: the bench's only streaming row, so the
    // full stream-pipeline cost (checkpoint + state store + source
    // listing + watermark machinery, not just the agg) is tracked
    // round-over-round like every batch headliner.
    "q139_streamed_hourly_profile" -> QueryDef(
      headline = true,
      build = (spark, dir) => streamedHourlyProfile(spark, dir),
      oracle = Some(HourlyProfileOracle)),

    // ---- q140: streamed stream-stream interval join, oracle-backed ----
    // view→purchase attribution (purchase within 2 h of a view by the
    // same user) computed by TWO watermarked streams joined on
    // user + an event-time interval — the stream-stream join the
    // streaming specs exercise, now facing the batch oracle. For an
    // INNER interval join, append mode emits every match exactly once
    // (state eviction only discards rows no FUTURE input can match), so
    // the drained emission equals the batch range join with no trim —
    // the join-completeness dual of q139's watermark-trim law.
    "q140_streamed_interval_join" -> QueryDef(
      build = (spark, dir) => streamedIntervalJoin(spark, dir),
      oracle = Some("""
        WITH v AS (
          SELECT user_id, event_id AS vid, CAST(ts AS TIMESTAMP) AS vt
          FROM events WHERE event_type = 'view'),
        p AS (
          SELECT user_id, event_id AS pid, CAST(ts AS TIMESTAMP) AS pt
          FROM events WHERE event_type = 'purchase')
        SELECT v.user_id AS user_id, v.vid AS view_id, p.pid AS purchase_id,
               CAST(epoch_us(p.pt - v.vt) AS BIGINT) AS gap_us
        FROM v JOIN p
          ON v.user_id = p.user_id
         AND p.pt >= v.vt AND p.pt <= v.vt + INTERVAL 120 MINUTE
        ORDER BY v.user_id, view_id, purchase_id""")),

    // ---- q141: streamed native session windows, oracle-backed ----
    // Per-user 30-min-gap sessions built by the streaming engine's
    // session_window (merge-on-arrival state), drained via AvailableNow.
    // The session trim law (measured, then encoded): a session is
    // emitted ⟺ its END (last event + gap) ≤ final watermark =
    // max(event_time) − delay — a session above that line could still
    // be EXTENDED by in-delay data, so the engine correctly withholds
    // it. The oracle rebuilds sessions relationally (q82's gaps-and-
    // islands, on µs-truncated times) and applies the same law.
    // Completes the streaming triad: q139 windows, q140 joins, q141
    // custom session state.
    "q141_streamed_sessions" -> QueryDef(
      build = (spark, dir) => streamedSessions(spark, dir),
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
          FROM events),
        m AS (SELECT max(tsu) AS mx FROM e),
        marked AS (
          SELECT user_id, event_id, tsu,
                 CASE WHEN LAG(tsu) OVER w IS NULL
                        OR date_diff('microsecond', LAG(tsu) OVER w, tsu)
                           > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        sess AS (
          SELECT user_id, tsu,
                 SUM(new_sess) OVER (PARTITION BY user_id
                   ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
          FROM marked),
        per_sess AS (
          SELECT user_id,
                 epoch_us(MIN(tsu)) AS start_us,
                 epoch_us(MAX(tsu)) + 1800000000 AS end_us,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sess GROUP BY user_id, sess_id)
        SELECT p.user_id, p.start_us, p.end_us, p.n_events
        FROM per_sess p CROSS JOIN m
        WHERE p.end_us <= epoch_us(m.mx) - 3600000000
        ORDER BY p.user_id, p.start_us""")),

    // ---- q148: streamed custom-state running totals, oracle-backed ----
    // The CUSTOM StatefulProcessor path (Spark 4 transformWithState:
    // typed ValueState on RocksDB) as a gate query: per-user running
    // event count and exact integer-cents spend, emitted per event.
    // Update-mode emission with TimeMode.None has no watermark trim —
    // under the single-drain contract the emitted set ≡ the batch
    // cumulative window, row for row, which the oracle replays. The
    // fourth streaming law: state-fold completeness.
    "q148_streamed_running_totals" -> QueryDef(
      build = (spark, dir) => streamedRunningTotals(spark, dir),
      oracle = Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events)
        SELECT user_id, event_id,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS running_n,
               CAST(SUM(cents) OVER (PARTITION BY user_id
                 ORDER BY tsu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS running_cents
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        ORDER BY user_id, running_n""")),

    // ---- q149: streamed at-least-once → exactly-once dedup ----
    // The reference's delivery contract made a gate: its SQS source is
    // at-least-once (SURVEY §2 O2), so the pipeline must tolerate
    // replayed file notifications. The staged landing dir holds the
    // SAME events file twice; `dropDuplicates(event_id)` state must
    // collapse the replay so the emitted set equals the SINGLE-copy
    // table — the oracle aggregates the raw events once, and n ≡
    // n_distinct in-row certifies no duplicate survived. The fifth
    // streaming law: duplicate-delivery idempotence.
    "q149_streamed_replay_dedup" -> QueryDef(
      build = (spark, dir) => streamedReplayDedup(spark, dir),
      oracle = Some(ReplayRollupOracle))
  ) :+ (

    // ---- q168: streamed stream-static broadcast enrichment ----
    // The remaining streaming join class after q140's stream-stream
    // interval join: a STREAM joined to a STATIC reference table (the
    // production "enrich events against a dimension" pattern — the
    // static side re-reads per micro-batch, no state store involved).
    // The dim is the customer table joined on user_id = c_custkey
    // (inner, stateless ⇒ append emits each match exactly once), rolled
    // up per (mktsegment, event_type) with integer cents. The sixth
    // streaming law: stream-static completeness — the drained emission
    // equals the batch join bit-for-bit, which is exactly what the
    // oracle computes.
    //
    // 100 TB posture: the static side carries an explicit broadcast()
    // hint, so the event stream never shuffles for the join — per-batch
    // cost is map-side probe + the segment-keyed agg.
    "q168_streamed_static_enrich" -> QueryDef(
      build = (spark, dir) => streamedStaticEnrich(spark, dir),
      oracle = Some("""
        SELECT c.c_mktsegment AS mktsegment, e.event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2 ORDER BY mktsegment, event_type"""))
  ) :+ (

    // ---- q176: streamed fuzzy (MinHash-LSH) near-dup detection ----
    // q149 gates EXACT streaming dedup (replayed event ids); this gates
    // the FUZZY form the LLM-dedup family needs online: near-duplicate
    // documents flagged across micro-batches through
    // transformWithState — per-(band, hash) bucket membership in
    // RocksDB ListState, candidates emitted the moment the second
    // member of a colliding pair arrives, exact Jaccard verification
    // after the drain (the batch-q46 kernels, shared code). The law:
    // candidate discovery is collision-complete regardless of the
    // micro-batch split, so the drained result EQUALS batch q46 — and
    // the oracle is q46's exact-SQL pair set verbatim (threshold 0.4;
    // at 32 bands × 2 rows band recall at 0.4 is ~0.996 and every
    // emitted pair is exactly verified, so LSH output ≡ the exact set
    // on this corpus, as q46's own green gate already certifies).
    "q176_streamed_neardup" -> QueryDef(
      build = (spark, dir) => streamedNearDupPairs(spark,
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"))),
      oracle = Some(Det.sqlJaccardPairs("0.4", ""))) ) :+ (

    // ---- q184: streamed dedup with BOUNDED state (within-watermark) ----
    // q149's duplicate-delivery idempotence law, re-proven on the API
    // production actually runs: `dropDuplicatesWithinWatermark`. Plain
    // dropDuplicates keeps EVERY key ever seen — state grows without
    // bound over an unbounded stream, the one thing you cannot ship at
    // 100 TB/day. The within-watermark form expires a key's state once
    // the watermark passes its event time + delay, making state
    // O(keys per window). The law that makes the drain a pure function
    // of the data: replayed twins carry IDENTICAL event times, so with
    // delay ≥ span/2 (45 d ≥ the fixture's 30 d span; watermark after
    // the worst-case first batch is max(ts) − delay ≤ ts + delay for
    // every ts) no original's state can expire before its twin arrives
    // ⇒ the drained emission ≡ the single-copy distinct, exactly what
    // the oracle aggregates. Eighth streaming law: bounded-state dedup
    // completeness under the delay-covers-span condition.
    "q184_streamed_watermark_dedup" -> QueryDef(
      build = (spark, dir) => streamedWatermarkDedup(spark, dir),
      oracle = Some(ReplayRollupOracle))) :+ (

    // ---- q187: streamed LEFT OUTER interval join, oracle-backed ----
    // Completes the streaming-join family (q140 inner, q168
    // stream-static): views that found NO purchase within 2 h emit with
    // a NULL purchase_id — but only when the watermark proves no future
    // match exists, so emission is state EVICTION, the hairiest
    // semantics in Structured Streaming. The sentinel-flush harness
    // (see streamedOuterJoin) advances both side clocks past every real
    // join window; the measured-then-encoded law: the drained emission,
    // sentinel excluded, equals the batch LEFT interval join exactly —
    // ninth streaming law: outer-join eviction completeness under a
    // clock that covers the corpus.
    "q187_streamed_outer_join" -> QueryDef(
      build = (spark, dir) => streamedOuterJoin(spark, dir),
      oracle = Some(s"""
        WITH ${sqlSide("v", "view", "vt")},
        ${sqlSide("p", "purchase", "pt")}
        SELECT v.user_id, v.view_id, p.purchase_id
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND p.pt >= v.vt AND p.pt <= v.vt + INTERVAL 120 MINUTES
        ORDER BY v.user_id, v.view_id, p.purchase_id ASC NULLS FIRST"""))) :+ (

    // ---- q192: streamed windows through the PRODUCTION file sink ----
    // q139's law re-proven against the parquet FILE sink and its
    // `_spark_metadata` commit log (the durable exactly-once commit
    // path — what the reference's Iceberg append is in this
    // environment's executable format), read back THROUGH the log.
    // Same watermark-trim oracle as q139: sink choice must not change
    // the emitted rows. Tenth streaming law: sink-independence of
    // emission.
    "q192_streamed_file_sink" -> QueryDef(
      build = (spark, dir) => streamedFileSink(spark, dir),
      oracle = Some(HourlyProfileOracle))) :+ (

    // ---- q211: chained stateful operators (dedup -> window agg) ----
    // The dedup-then-count shape every exactly-once metrics pipeline
    // wants, with the corpus DELIVERED TWICE (two staged names for the
    // same file, maxFilesPerTrigger = 1). The measured-then-encoded
    // law: the duplicate delivery contributes NOTHING (at-or-above the
    // watermark its rows hit live dedup state; below it they are
    // dropped as late before dedup), and — unlike q206's join —
    // dropDuplicatesWithinWatermark adds NO output-watermark delay, so
    // the agg emits exactly the windows with end <= max(ts) − 4 h with
    // single-delivery counts. Thirteenth streaming law: replay
    // immunity composed through chained stateful operators.
    "q211_streamed_dedup_agg" -> QueryDef(
      build = (spark, dir) => streamedDedupAgg(spark, dir),
      oracle = Some("""
        WITH e AS (SELECT event_id, event_type,
                          CAST(ts AS TIMESTAMP) AS et
                   FROM events),
        m AS (SELECT max(et) - INTERVAL 4 HOURS AS wm FROM e)
        SELECT strftime(date_trunc('hour', et), '%Y-%m-%d %H:%M:%S')
                 AS hour_start,
               event_type, COUNT(*) AS n
        FROM e CROSS JOIN m
        WHERE date_trunc('hour', et) + INTERVAL 1 HOUR <= m.wm
        GROUP BY 1, 2 ORDER BY hour_start, event_type"""))) :+ (

    // ---- q235: chained window aggs (hourly -> 4-hour rollup) ----
    // The rollup-cascade shape (hourly metrics cascading into coarser
    // rollups) as TWO chained window aggregations in one streaming
    // query — completing the chained-stateful family: join->agg
    // (q206), dedup->agg (q211), agg->agg (this). The measured law
    // (sf0.01: max ts 23:57, wm 21:57 — the [16:00,20:00) window
    // emitted, [20:00,24:00) withheld): the upstream agg finalizes an
    // hour when the watermark passes its end and propagates its output
    // watermark unchanged, so the cascade emits exactly the 4-hour
    // windows with end <= max(ts) − 2 h, each carrying the full-data
    // counts, hours-with-events count, and the exact decimal value sum
    // of its contained hours. Sixteenth streaming law: rollup-cascade
    // completeness under watermark propagation through chained window
    // aggregations.
    "q235_streamed_agg_cascade" -> QueryDef(
      build = (spark, dir) => streamedAggCascade(spark, dir),
      oracle = Some(s"""
        WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS et, event_type, value
                   FROM events),
        m AS (SELECT max(et) AS mx FROM e),
        h AS (SELECT date_trunc('hour', et) AS hs, event_type,
                     CAST(COUNT(*) AS BIGINT) AS n,
                     SUM(CAST(value AS DECIMAL(18,2))) AS sdec
              FROM e GROUP BY 1, 2),
        w4 AS (SELECT to_timestamp((CAST(epoch(hs) AS BIGINT) // 14400)
                        * 14400) AS ws, event_type,
                      CAST(SUM(n) AS BIGINT) AS n_events,
                      COUNT(*) AS n_hours,
                      CAST(SUM(sdec) AS DOUBLE) AS sum_value
               FROM h GROUP BY 1, 2)
        SELECT strftime(w4.ws, '%Y-%m-%d %H:%M:%S') AS win4_start,
               w4.event_type, w4.n_events, w4.n_hours, w4.sum_value
        FROM w4 CROSS JOIN m
        WHERE w4.ws + INTERVAL 4 HOURS <= m.mx - INTERVAL 2 HOURS
        ORDER BY win4_start, event_type"""))) :+ (

    // ---- q237: streamed LEFT SEMI interval join ----
    // The existence-check member of the streaming-join family (q140
    // inner, q187 left outer, q201 full outer, q206 join->agg): which
    // views converted within 2 h at all. The law semi adds over inner:
    // a view with MULTIPLE in-window purchases emits exactly ONCE
    // (match dedup is the operator's contract, not a downstream
    // distinct), and unmatched views vanish silently at eviction. The
    // drained emission equals the batch EXISTS query row-for-row —
    // seventeenth streaming law: semi-join match dedup + silent
    // eviction under the sentinel-advanced clock.
    "q237_streamed_semi_join" -> QueryDef(
      build = (spark, dir) => streamedSemiJoin(spark, dir),
      oracle = Some("""
        WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS vt
                   FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt
              FROM events WHERE event_type = 'purchase')
        SELECT v.user_id, v.event_id AS view_id
        FROM v
        WHERE EXISTS (SELECT 1 FROM p
                      WHERE p.user_id = v.user_id
                        AND p.pt >= v.vt
                        AND p.pt <= v.vt + INTERVAL 120 MINUTES)
        ORDER BY v.user_id, view_id"""))) :+ (

    // ---- q219: two-source union under the min-watermark policy ----
    // The multi-source coordination law: a union of two streams whose
    // event-time maxima differ by 6 h (side B is shifted in-stream)
    // emits only windows the LAGGING side's watermark has passed —
    // global watermark = min over sources of (max_event − delay) =
    // max(ts) − 10 h — while emitted counts include BOTH sides' rows.
    // Fourteenth streaming law: the slowest source gates emission for
    // the whole union (the back-pressure fact every multi-topic
    // ingest pipeline lives with).
    "q219_streamed_union_watermark" -> QueryDef(
      build = (spark, dir) => streamedUnionWatermark(spark, dir),
      oracle = Some("""
        WITH e0 AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS et
                    FROM events),
        u AS (SELECT event_type, et FROM e0
              UNION ALL
              SELECT event_type, et - INTERVAL 6 HOURS FROM e0),
        m AS (SELECT max(et) - INTERVAL 10 HOURS AS wm FROM e0)
        SELECT strftime(date_trunc('hour', et), '%Y-%m-%d %H:%M:%S')
                 AS hour_start,
               event_type, COUNT(*) AS n
        FROM u CROSS JOIN m
        WHERE date_trunc('hour', et) + INTERVAL 1 HOUR <= m.wm
        GROUP BY 1, 2 ORDER BY hour_start, event_type"""))) :+ (

    // ---- q231: dimension refresh across checkpointed restarts ----
    // The production dimension-update contract: two AvailableNow runs
    // over one checkpoint + one durable file sink, with the static
    // enrichment dimension rewritten (v1 → v2) and the corpus
    // re-staged between them. The checkpoint confines run 2 to the new
    // file; the rebuilt static plan picks up v2; the sink ends with
    // exactly one v1- and one v2-labelled copy of the corpus — the
    // refresh is visible at the restart, with no reprocessing of (or
    // damage to) run 1's committed output. Fifteenth streaming law:
    // restart-scoped static-side refresh under exactly-once file
    // commits.
    "q231_streamed_dim_refresh" -> QueryDef(
      build = (spark, dir) => streamedDimRefresh(spark, dir),
      oracle = Some("""
        WITH t AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CAST(round(value * 100) AS BIGINT))
                            AS BIGINT) AS cents
                   FROM events GROUP BY 1)
        SELECT 'v1_' || event_type AS label, n, cents AS cents_total
        FROM t
        UNION ALL
        SELECT 'v2_' || event_type, n, cents FROM t
        ORDER BY label"""))) :+ (

    // ---- q206: chained stateful operators (join -> window agg) ----
    // TWO stateful operators in ONE streaming query — the q140 interval
    // join feeding an hourly window aggregation. The emission law,
    // measured at sf0.1 (444 vs 448 batch rows — exactly the 4
    // pair-bearing trailing hours withheld) then encoded: the agg's
    // effective watermark is the JOIN'S OUTPUT watermark = global input
    // watermark (min of both sides' max-event − 4 h delay) MINUS the
    // join's 2 h state-retention delay, so the drain emits exactly the
    // windows whose end <= min(max_view, max_purchase) − 6 h, with
    // counts and exact integer gap sums equal to the batch join+agg.
    // Twelfth streaming law: watermark propagation through chained
    // stateful operators.
    "q206_streamed_join_agg" -> QueryDef(
      build = (spark, dir) => streamedJoinAgg(spark, dir),
      oracle = Some("""
        WITH v AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS vt
                   FROM events WHERE event_type = 'view'),
        p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pt
              FROM events WHERE event_type = 'purchase'),
        m AS (SELECT least((SELECT max(vt) FROM v),
                           (SELECT max(pt) FROM p))
                - INTERVAL 6 HOURS AS wout),
        j AS (SELECT p.pt, epoch_us(p.pt) - epoch_us(v.vt) AS gap_us
              FROM v JOIN p
                ON p.user_id = v.user_id
               AND p.pt >= v.vt AND p.pt <= v.vt + INTERVAL 120 MINUTES)
        SELECT strftime(date_trunc('hour', pt), '%Y-%m-%d %H:%M:%S')
                 AS hour_start,
               COUNT(*) AS n_pairs,
               CAST(SUM(gap_us) AS BIGINT) AS gap_us_sum
        FROM j CROSS JOIN m
        WHERE date_trunc('hour', pt) + INTERVAL 1 HOUR <= m.wout
        GROUP BY 1 ORDER BY hour_start"""))) :+ (

    // ---- q201: streamed FULL OUTER interval join, oracle-backed ----
    // The last member of the streaming-join family (q140 inner, q168
    // stream-static, q187 left outer): BOTH sides emit null-matched
    // evictions — views that found no purchase within 2 h AND purchases
    // that no view's window covers. Each direction's emission trigger
    // is state eviction on ITS side's watermark; the q187 sentinel
    // already advances both side clocks (each side's watermark is
    // computed after its event_type filter), so the same flush recipe
    // drains both eviction streams. The measured-then-encoded law: the
    // drained emission, sentinel pair excluded, equals the batch FULL
    // interval join exactly — eleventh streaming law: two-sided
    // outer-join eviction completeness under a clock that covers the
    // corpus.
    "q201_streamed_full_outer_join" -> QueryDef(
      build = (spark, dir) =>
        streamedOuterJoin(spark, dir, "full_outer", "q201"),
      oracle = Some(s"""
        WITH ${sqlSide("v", "view", "vt")},
        ${sqlSide("p", "purchase", "pt")}
        SELECT COALESCE(v.user_id, p.user_id) AS user_id,
               v.view_id, p.purchase_id
        FROM v FULL JOIN p
          ON p.user_id = v.user_id
         AND p.pt >= v.vt AND p.pt <= v.vt + INTERVAL 120 MINUTES
        ORDER BY user_id, view_id ASC NULLS FIRST,
                 purchase_id ASC NULLS FIRST"""))) :+ (

    // ---- q250: streamed THREE-WAY interval join, oracle-backed ----
    // Two chained stream-stream join states in one query (the funnel
    // shape: view ⋈ click ⋈ purchase, each within 4 h on the same
    // user). Join 2 consumes join 1's output under the PROPAGATED
    // watermark (input watermark minus join 1's state retention) —
    // the chained-stateful analogue of q206, with the second stateful
    // op another JOIN instead of an agg. Eighteenth streaming law:
    // the fully-drained inner chain equals the batch three-way
    // interval join exactly.
    "q250_streamed_triple_join" -> QueryDef(
      build = (spark, dir) => streamedTripleJoin(spark, dir),
      oracle = Some(s"""
        WITH ${sqlSide("v", "view", "vt")},
        ${sqlSide("c", "click", "ct")},
        ${sqlSide("p", "purchase", "pt")}
        SELECT v.user_id, v.view_id, c.click_id, p.purchase_id
        FROM v JOIN c
          ON c.user_id = v.user_id
         AND c.ct >= v.vt AND c.ct <= v.vt + INTERVAL 240 MINUTES
        JOIN p
          ON p.user_id = v.user_id
         AND p.pt >= c.ct AND p.pt <= c.ct + INTERVAL 240 MINUTES
        ORDER BY v.user_id, v.view_id, c.click_id, p.purchase_id"""))) :+ (

    // ---- q256: dedup → stream-stream join under double delivery ----
    // Exactly-once enrichment under at-least-once delivery: the corpus
    // arrives twice, BOTH join inputs pass through
    // dropDuplicatesWithinWatermark, and the join state therefore sees
    // every event once. Nineteenth streaming law: the drained chain
    // equals the batch interval join of the distinct corpus — the
    // duplicate delivery contributes NOTHING (no doubled pairs, no
    // quadrupled pairs from dup×dup).
    "q256_streamed_dedup_join" -> QueryDef(
      build = (spark, dir) => streamedDedupJoin(spark, dir),
      oracle = Some(s"""
        WITH ${sqlSide("v", "view", "vt")},
        ${sqlSide("p", "purchase", "pt")}
        SELECT v.user_id, v.view_id, p.purchase_id
        FROM v JOIN p
          ON p.user_id = v.user_id
         AND p.pt >= v.vt AND p.pt <= v.vt + INTERVAL 120 MINUTES
        ORDER BY v.user_id, v.view_id, p.purchase_id"""))) :+ (

    // ---- q259: custom per-key state (flatMapGroupsWithState) ----
    // The ARBITRARY-state extension point, oracle-backed: this gate
    // runs flatMapGroupsWithState as a real drained pipeline. Per-user
    // activity segmentation with a 24 h gap, hand-rolled in a group function
    // (buffer → re-sort → gap-split → watermark-safe close), the shape
    // every session-ish custom operator takes when session_window's
    // fixed semantics don't fit. Twentieth streaming law: the drained
    // emission equals the batch gaps-and-islands segmentation
    // restricted to segments with seg_end + gap ≤ final watermark —
    // segments above that line could still be extended by in-delay
    // data, so withholding them is correctness (q141's trim law,
    // carried by USER code this time; the emit rule in segFn is
    // late-data-immune by construction).
    "q259_streamed_custom_segments" -> QueryDef(
      build = (spark, dir) => streamedCustomSegments(spark, dir),
      oracle = Some(SegOracle))) :+ (

    // ---- q268: the same law on transformWithState + event-time timers --
    // The Spark-4 arbitrary-state API (typed ValueState on RocksDB,
    // registerTimer/deleteTimer/handleExpiredTimer) as a drained
    // oracle-backed gate — q148 gated its TimeMode.None path; this
    // gates the TIMER path, where output is produced by the watermark
    // passing, not by data arriving. The processor runs the SAME
    // splitSegments kernel and close discipline as q259's
    // flatMapGroupsWithState, and the oracle is the SAME SQL — a
    // cross-API equivalence certificate: two engine paths (HDFS-backed
    // fMGWS state vs RocksDB typed state + real timers) must land on
    // the identical 20th-law emission, row for row. Twenty-first
    // streaming law: arbitrary-state API equivalence under the
    // watermark-safe close rule.
    "q268_streamed_tws_segments" -> QueryDef(
      build = (spark, dir) => streamedTwsSegments(spark, dir),
      oracle = Some(SegOracle))) :+ (

    // ---- q275: UPDATE-mode emission history (23rd streaming law) ----
    // Every prior streaming law gates APPEND mode (emit once, when
    // final). Update mode is the other production output contract — a
    // live dashboard reads a key's CURRENT aggregate after every batch
    // that touches it — and its correctness statement is about the
    // EMISSION HISTORY, not just the final row. This gate pins the
    // whole history: the corpus splits into 8 files by event_id % 8
    // with strictly increasing mod-times, the file source streams ONE
    // file per micro-batch (mod-time order — pinned), and the drained
    // update-mode sink must hold, for every type, exactly the chain of
    // prefix aggregates over files 0..k at each k the type appears in.
    // The oracle replays that as a cumulative window over the per-file
    // rollup. A batch that skipped emission, re-emitted an untouched
    // key, or emitted a non-prefix value cannot hash-match.
    //
    // 100 TB posture: unwindowed update-mode state is one row per key
    // (|event types|); per batch the source reads one file and the agg
    // shuffles |types| deltas — the dashboard pattern at any scale.
    "q275_streamed_update_history" -> QueryDef(
      build = (spark, dir) => streamedUpdateHistory(spark, dir),
      oracle = Some(s"""
        $SplitCentsCtes,
        p AS (SELECT event_type,
                     CAST(SUM(nf) OVER w AS BIGINT) AS n,
                     CAST(SUM(cf) OVER w AS BIGINT) AS cents_total
              FROM g WINDOW w AS (PARTITION BY event_type ORDER BY f
                ROWS UNBOUNDED PRECEDING))
        SELECT event_type, n, cents_total
        FROM p ORDER BY event_type, n"""))) :+ (

    // ---- q280: streamed CDC latest-wins merge (24th streaming law) ----
    // The warehouse CDC sink contract, gated end to end: change events
    // stream in 8 micro-batches split by event_id % 8 — deliberately
    // NOT time order, so stale changes arrive after newer ones — and
    // each batch merges into the keyed state table via
    // `Upsert.mergeLatest` (replace only if (ts, event_id) is newer;
    // plain replace-on-match would regress keys under exactly this
    // delivery pattern, which is the bug this gate exists to catch).
    // The law: the final materialized table ≡ the batch
    // latest-row-per-user query, REGARDLESS of batch interleaving.
    // Version order runs on the microsecond timestamp STRING (the q96
    // parity format — lexicographically chronological), so both
    // engines compare versions identically.
    //
    // 100 TB posture: per batch one key-partitioned window over
    // state ∪ updates (what Iceberg/Delta MERGE does underneath);
    // state is one row per entity; the user_id < 200 slice bounds the
    // gate's output, the plan is key-count-invariant.
    "q280_streamed_cdc_latest" -> QueryDef(
      build = (spark, dir) => streamedCdcLatest(spark, dir),
      oracle = Some("""
        WITH e AS (SELECT user_id, event_type, event_id,
                          CAST(round(value * 100) AS BIGINT) AS cents,
                          strftime(CAST(ts AS TIMESTAMP),
                            '%Y-%m-%d %H:%M:%S.%f') AS ts_str
                   FROM events WHERE user_id < 200),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY ts_str DESC, event_id DESC) AS rn FROM e)
        SELECT user_id, event_type, event_id, cents, ts_str
        FROM r WHERE rn = 1 ORDER BY user_id"""))) :+ (

    // ---- q285: COMPLETE-mode leaderboard history (25th streaming law) --
    // The third and last output mode gets its law. Append emits once
    // when final (laws 1–22), update emits current-on-touch (q275) —
    // complete re-emits the ENTIRE state table every batch, touched or
    // not, which is what live leaderboards and BI snapshots consume.
    // Same 8-file split and pinned batch order as q275; the drained
    // foreachBatch history must hold, for every batch k, EVERY type
    // present in files 0..k at its prefix aggregate — an untouched key
    // that failed to re-emit, a re-emitted stale value, or a skipped
    // batch all hash-mismatch. The oracle replays the history as
    // (batches × cumulative per-type rollup at the latest file ≤ k),
    // ranked per batch by (cents desc, type) into the standings a
    // leaderboard renders.
    //
    // 100 TB posture: complete mode is only viable when state is model-
    // sized — one row per type here, the leaderboard pattern; the per-
    // batch emission cost is |keys|, not |events|, and the gate's law
    // is exactly the contract that makes that trade sound.
    "q285_streamed_complete_history" -> QueryDef(
      build = (spark, dir) => streamedCompleteHistory(spark, dir),
      oracle = Some(s"""
        $SplitCentsCtes,
        c AS (SELECT event_type, f,
                     CAST(SUM(nf) OVER w AS BIGINT) AS n,
                     CAST(SUM(cf) OVER w AS BIGINT) AS cents_total
              FROM g WINDOW w AS (PARTITION BY event_type ORDER BY f
                ROWS UNBOUNDED PRECEDING)),
        b AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS batch_id),
        st AS (SELECT b.batch_id, c.event_type, c.n, c.cents_total,
                      ROW_NUMBER() OVER (PARTITION BY b.batch_id,
                        c.event_type ORDER BY c.f DESC) AS rf
               FROM b JOIN c ON c.f <= b.batch_id),
        cur AS (SELECT batch_id, event_type, n, cents_total
                FROM st WHERE rf = 1),
        rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY batch_id
                 ORDER BY cents_total DESC, event_type) AS BIGINT)
                 AS lb_rank
               FROM cur)
        SELECT batch_id, lb_rank, event_type, n, cents_total
        FROM rk ORDER BY batch_id, lb_rank"""))) :+ (

    // ---- q290: streamed weighted sampling (26th streaming law) ----
    // The ingest-time form of q264's Efraimidis–Spirakis sample: the
    // population arrives in 8 micro-batches and the k-row sample state
    // folds each batch in as top-k of (state ∪ batch) by the E–S key.
    // The law is MERGEABILITY — the key is a fixed total order per
    // item, so the drained state equals the one-shot batch top-k no
    // matter how the stream chopped the corpus (reservoir semantics
    // without an ordered scan; the streaming dual q57/q264 lacked).
    // The oracle recomputes the batch top-k from scratch in DuckDB —
    // the identical coin/ln arithmetic q264 already proved portable.
    //
    // 100 TB posture: per batch, work = |batch| in-row key computations
    // + a k-row sort-merge; state is k rows forever — the sampling
    // contract that makes a continuously-ingesting corpus sampler
    // bounded-state by construction.
    "q290_streamed_weighted_sample" -> QueryDef(
      build = (spark, dir) => streamedWeightedSample(spark, dir),
      oracle = Some("""
        WITH o AS (SELECT o_orderkey AS id,
                          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w
                   FROM orders),
        keyed AS (SELECT id, w,
                         round(ln((('0x' || substr(md5('q290#' ||
                           CAST(id AS VARCHAR)), 1, 12))::BIGINT + 1)
                           / 281474976710656.0), 9) / CAST(w AS DOUBLE)
                           AS e
                  FROM o)
        SELECT id, w
        FROM (SELECT * FROM keyed ORDER BY e DESC, id LIMIT 200)
        ORDER BY id"""))) :+ (

    // ---- q301: streamed drift monitor (27th streaming law) ----
    // The production data-quality monitor, gated: every micro-batch is
    // KS-tested (q286's exact integer machinery — cross-multiplied
    // cumulative counts on the reference grid, the squared-critical-
    // value integer decision at α = 0.05) against the static release
    // reference distribution. The law: a batch's (statistic, decision)
    // emission is a pure function of its PARTITION CONTENT — arrival
    // order and the other batches' contents cannot touch it — which
    // the oracle replays as 8 independent per-group KS computations.
    // Reference = the full corpus (release-reference monitoring; it
    // contains each batch by construction, which only biases the test
    // TOWARD 'consistent' — a drifted verdict is therefore conservative
    // evidence).
    //
    // 100 TB posture: the reference CDF is a value-domain-sized
    // broadcast built once; per batch the monitor pays one keyed count
    // + one grid window — the always-on monitoring shape whose cost is
    // independent of corpus size.
    "q301_streamed_drift_monitor" -> QueryDef(
      build = (spark, dir) => streamedDriftMonitor(spark, dir),
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents,
                 event_id % 8 AS f
          FROM events),
        ref AS MATERIALIZED (
          SELECT cents, CAST(COUNT(*) AS BIGINT) AS rc
          FROM e GROUP BY 1),
        rcum AS MATERIALIZED (
          SELECT cents, CAST(SUM(rc) OVER (ORDER BY cents
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rcum
          FROM ref),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ref FROM e),
        bc AS (SELECT f, cents, CAST(COUNT(*) AS BIGINT) AS bc
               FROM e GROUP BY 1, 2),
        nb AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_b
               FROM e GROUP BY 1),
        grid AS (SELECT nb.f, nb.n_b, rcum.cents, rcum.rcum,
                        COALESCE(bc.bc, 0) AS bc
                 FROM nb CROSS JOIN rcum
                 LEFT JOIN bc ON bc.f = nb.f AND bc.cents = rcum.cents),
        cum AS (SELECT f, n_b, cents, rcum,
                       CAST(SUM(bc) OVER (PARTITION BY f ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS bcum
                FROM grid),
        dk AS (SELECT f, MAX(n_b) AS n_b,
                      MAX(ABS(CAST(bcum AS HUGEINT) * nr.n_ref
                        - CAST(rcum AS HUGEINT) * n_b)) AS dmax,
                      MAX(nr.n_ref) AS n_ref
               FROM cum CROSS JOIN nr GROUP BY 1),
        ks AS (SELECT CAST(f AS BIGINT) AS batch_id,
                      n_b AS n_batch,
                      CAST(dmax * 1000000
                        // (CAST(n_b AS HUGEINT) * n_ref) AS BIGINT)
                        AS ks_ppm,
                      n_ref
               FROM dk)
        SELECT batch_id, n_batch, ks_ppm,
               CAST(CASE WHEN CAST(ks_ppm AS HUGEINT) * ks_ppm
                 * n_batch * n_ref
                 >= CAST(1843700 AS HUGEINT) * 1000000
                   * (n_batch + n_ref)
                 THEN 1 ELSE 0 END AS BIGINT) AS reject_05,
               n_ref,
               CASE WHEN CAST(ks_ppm AS HUGEINT) * ks_ppm
                 * n_batch * n_ref
                 >= CAST(1843700 AS HUGEINT) * 1000000
                   * (n_batch + n_ref)
                 THEN 'drifted' ELSE 'consistent' END AS verdict
        FROM ks ORDER BY batch_id"""))) :+ (

    // ---- q318: streamed bottom-k distinct sketch (28th streaming law) ----
    // The STREAMING form of the corpus' cardinality-sketch family
    // (q221 portable HLL, q257 bottom-k quantiles, q263 register-merge
    // overlap — all batch): a per-shard bottom-k sketch maintained as
    // custom state, k = 64 smallest 48-bit md5 hashes of the (user, event_type)
    // activity key.
    // The state function is a pure SET operation (merge + truncate), so
    // the final sketch is arrival-order-free and batch-layout-free BY
    // ALGEBRA — the property every other streaming law had to buy with
    // watermark discipline, a bottom-k sketch gets from idempotent,
    // commutative merge (what makes it the per-shard accumulator of
    // choice on an unbounded ingest at 100 TB: k rows of state forever,
    // mergeable across shards and across days). Update-mode emission
    // re-publishes the current k rows each batch; the drain's final
    // reconciliation (distinct → per-shard k smallest) is a no-op on
    // the last emission by construction — and the gate emits the
    // ESTIMATOR CERTIFICATE beside the sketch: est = (k−1)·2⁴⁸/(h_k+1)
    // vs the exact per-shard distinct, signed error in ppm (the q221
    // convention), everything in exact integers.
    //
    // 100 TB posture: per batch, work = |batch| in-row hashes + a
    // k-row merge per shard; state is k longs per shard forever. The
    // truth arm (exact distinct) is the one corpus-scale agg, present
    // only because the gate is a certificate.
    "q318_streamed_bottomk_distinct" -> QueryDef(
      build = (spark, dir) => streamedBottomK(spark, dir),
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT user_id % 8 AS shard,
                 ('0x' || substr(md5('q318#' ||
                   CAST(user_id AS VARCHAR) || '#' || event_type),
                   1, 12))::BIGINT AS h,
                 user_id, event_type
          FROM events),
        dh AS (SELECT DISTINCT shard, h FROM e),
        rk AS (SELECT shard, h, ROW_NUMBER() OVER
                 (PARTITION BY shard ORDER BY h) AS rn
               FROM dh),
        kth AS (SELECT shard, CAST(h AS BIGINT) AS kth_hash
                FROM rk WHERE rn = 64),
        tru AS (SELECT shard,
                       CAST(COUNT(DISTINCT (user_id, event_type))
                         AS BIGINT) AS true_distinct
                FROM e GROUP BY 1),
        est AS (SELECT k.shard, k.kth_hash,
                       CAST(63 * 281474976710656 // (k.kth_hash + 1)
                         AS BIGINT) AS est_distinct,
                       t.true_distinct
                FROM kth k JOIN tru t USING (shard))
        SELECT shard, kth_hash, est_distinct, true_distinct,
               CASE WHEN est_distinct >= true_distinct
                 THEN (est_distinct - true_distinct) * 1000000
                   // true_distinct
                 ELSE -((true_distinct - est_distinct) * 1000000
                   // true_distinct) END AS err_ppm
        FROM est ORDER BY shard"""))) :+ (

    // ---- q323: streamed count-min heavy-hitter monitor (29th law) ----
    // The FREQUENCY-sketch streaming law beside q318's cardinality
    // sketch: per-shard d=4 × w=64 count-min matrices maintained as
    // flatMapGroupsWithState custom state. Where q318's fold is set
    // algebra, this fold is COUNTER ADDITION — associative and
    // commutative — so the drained sketch is arrival-order- and
    // batch-layout-free by algebra, per-shard matrices merge into the
    // global sketch by plain addition (the cross-shard/cross-day merge
    // that makes CMS the frequency accumulator of choice on an
    // unbounded ingest: d·w longs of state per shard FOREVER), and
    // counters are monotone so the drain reconciles with max per
    // (shard, cell). The monitored key is the reciprocal-skewed
    // activity key 'u'||(20000 div (event_id+1)) (the q273 Zipf-domain
    // convention, scaled so TRUE hitters exist at every SF); the gate emits
    // the heavy-hitter DECISIONS the monitor exists for: every key
    // with est ≥ N/50, its exact count, one-sided overshoot
    // (est ≥ f structurally — recall 1 by construction, the false
    // positives quantified via is_true_hh). Differs from batch q273
    // (error-decade rollup on a synthetic domain) in both statistic
    // (decision set) and substrate (live micro-batch state).
    //
    // 100 TB posture: per batch, |batch| in-row hashes + d increments
    // per event; state is 256 longs per shard regardless of N; the
    // exact arm is the one corpus-scale agg, present only because the
    // gate is a certificate. Measured: sf0.01 emits 8 candidates, all
    // true (overshoot 4–11 on counts 222–3334); sf0.1 emits 3, all
    // true (overshoot ≤ 11 on counts to 80k) — recall 1 as the sketch
    // guarantees, precision 1 at these loads.
    "q323_streamed_cms_monitor" -> QueryDef(
      build = (spark, dir) => streamedCountMin(spark, dir),
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT 'u' || CAST(20000 // (event_id + 1) AS VARCHAR) AS ak
          FROM events WHERE event_id IS NOT NULL),
        rr AS (SELECT CAST(unnest(range(1, 5)) AS BIGINT) AS r),
        rb AS (SELECT ak, r,
                      (r - 1) * 64 +
                      ((instr('0123456789abcdef',
                          substring(md5('q323#' || CAST(r AS VARCHAR)
                            || '#' || ak), 1, 1)) - 1) * 16
                       + instr('0123456789abcdef',
                           substring(md5('q323#' || CAST(r AS VARCHAR)
                             || '#' || ak), 2, 1)) - 1) % 64 AS cell
               FROM e CROSS JOIN rr),
        cells AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS c
                  FROM rb GROUP BY 1),
        exact AS (SELECT ak, CAST(COUNT(*) AS BIGINT) AS f
                  FROM e GROUP BY 1),
        nn AS (SELECT CAST(SUM(f) AS BIGINT) AS n FROM exact),
        probes AS (SELECT x.ak, x.f, r.r,
                          (r.r - 1) * 64 +
                          ((instr('0123456789abcdef',
                              substring(md5('q323#' || CAST(r.r AS
                                VARCHAR) || '#' || x.ak), 1, 1)) - 1)
                             * 16
                           + instr('0123456789abcdef',
                               substring(md5('q323#' || CAST(r.r AS
                                 VARCHAR) || '#' || x.ak), 2, 1)) - 1)
                            % 64 AS cell
                   FROM exact x CROSS JOIN rr r),
        est AS (SELECT p.ak, p.f, CAST(MIN(c.c) AS BIGINT) AS est
                FROM probes p JOIN cells c ON c.cell = p.cell
                GROUP BY 1, 2)
        SELECT e.ak, e.f, e.est, e.est - e.f AS over,
               nn.n // 50 AS thr,
               CAST(CASE WHEN e.f >= nn.n // 50 THEN 1 ELSE 0 END
                 AS BIGINT) AS is_true_hh
        FROM est e CROSS JOIN nn
        WHERE e.est >= nn.n // 50
        ORDER BY e.ak"""))) :+ (

    // ---- q329: streamed dead-letter conservation law (30th law) ----
    // The streaming form of the ingest quarantine contract (batch:
    // `JsonBatchReader.AccountedOptions` + the PipelineSpec quarantine
    // case — spec-gated only, until now): a stream of JSON lines with
    // PLANTED corruption (every 13th line loses its opening brace, so
    // the whole object is unparseable and Spark's partial-results
    // salvage cannot rescue a field) is split in-flight into main
    // (parsed) and DLQ (raw line) arms. The drained rollup certifies
    // the split is a PARTITION of the input — per-type counts, cents
    // and id sums on the main arm (parse fidelity), count and raw
    // byte-length sum on the DLQ arm (the quarantined lines kept
    // byte-faithfully) — nothing lost, nothing duplicated, nothing
    // silently nulled into the main table (the reference's §1.3
    // failure mode, now oracle-certified under streaming delivery).
    // Lines are built with explicit concat (never to_json), so both
    // arms' bytes are engine-reproducible and DuckDB can recompute
    // every fingerprint from the events table alone.
    //
    // 100 TB posture: stateless map — no state, no watermark, no
    // shuffle in-flight; the drain rollup is one keyed agg. The DLQ
    // arm is the part that matters at scale: corrupt lines cost one
    // routed row, never a failed job.
    "q329_streamed_dead_letter" -> QueryDef(
      build = (spark, dir) => streamedDeadLetter(spark, dir),
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT event_id, COALESCE(event_type, '') AS etype,
                 CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)
                   AS cents,
                 length('{"event_id":' || CAST(event_id AS VARCHAR)
                   || ',"etype":"' || COALESCE(event_type, '')
                   || '","cents":'
                   || CAST(CAST(ROUND(COALESCE(value, 0) * 100)
                        AS BIGINT) AS VARCHAR)
                   || '}') AS full_len
          FROM events WHERE event_id IS NOT NULL),
        main AS (SELECT etype, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(cents) AS BIGINT) AS sum_cents,
                        CAST(SUM(event_id) AS BIGINT) AS sum_eid,
                        CAST(SUM(full_len) AS BIGINT) AS sum_raw_len
                 FROM e WHERE event_id % 13 != 0 GROUP BY 1),
        dlq AS (SELECT 'zz_dlq' AS etype,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(0 AS BIGINT) AS sum_cents,
                       CAST(0 AS BIGINT) AS sum_eid,
                       CAST(SUM(full_len - 1) AS BIGINT) AS sum_raw_len
                FROM e WHERE event_id % 13 = 0)
        SELECT * FROM main
        UNION ALL
        SELECT * FROM dlq
        ORDER BY etype"""))) :+ (

    // ---- q336: concurrent writers sharing one table (31st law) ----
    // The 30 prior laws all gate ONE pipeline; the operational contract
    // still unproven was two INDEPENDENT writers sharing a sink table —
    // the multi-source warehouse shape (regional ingest jobs, a
    // backfill running beside live ingest). Writers A and B are
    // separate AvailableNow pipelines in SEPARATE Spark sessions
    // (newSession() — isolated SQLConf, shared catalog: the sink flips
    // partitionOverwriteMode around each write, so two writers sharing
    // one session would race that conf; per-writer sessions are the
    // correct deployment and this gate encodes it), draining disjoint
    // event halves into the SAME IdempotentParquetSink table under
    // disjoint batch-id spaces (A stamps 0..3, B stamps 100..103 —
    // dynamic-partition overwrites on disjoint batch_id partitions
    // stage independently, the plain-parquet dual of Iceberg's
    // concurrent snapshot appends). Then writer B is REPLAYED WHOLE
    // from a fresh checkpoint — the crash-lost-checkpoint scenario —
    // and the table must come out bit-identical: replay_delta (row
    // count after − before) is the in-data certificate, and the
    // per-batch rollup hash catches any row that moved, duplicated, or
    // vanished. The oracle recomputes every batch's content from the
    // events table arithmetic alone.
    //
    // 100 TB posture: per batch one dynamic-partition overwrite of that
    // batch's rows — no cross-writer coordination, no table-wide
    // rewrite; writers scale independently exactly because the batch-id
    // space partitions the table.
    "q336_concurrent_writers" -> QueryDef(
      build = (spark, dir) => streamedConcurrentWriters(spark, dir),
      oracle = Some("""
        WITH e AS (SELECT event_id, event_type,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents,
                          CASE WHEN event_id % 2 = 0
                               THEN (event_id // 2) % 4
                               ELSE 100 + (event_id // 2) % 4
                          END AS batch_id
                   FROM events)
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CASE WHEN batch_id >= 100 THEN 'b' ELSE 'a' END AS writer,
               COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(event_id) AS BIGINT) AS sum_eid,
               CAST(0 AS BIGINT) AS replay_delta
        FROM e GROUP BY batch_id ORDER BY batch_id"""))) :+ (

    // ---- q337: schema evolution across a checkpoint restart (32nd law) ----
    // q231 proved a STATIC-SIDE change (dimension v1→v2) becomes
    // visible at restart; q336 proved two writers share a table; the
    // contract still ungated was the PIPELINE ITSELF changing shape
    // between restarts — the most common upgrade there is (add a
    // derived column, redeploy, keep the checkpoint). Run 1 writes
    // (event_id, event_type, cents); the upgraded run 2 adds
    // band = cents % 7 and resumes from the SAME checkpoint over the
    // SAME durable file sink: the checkpoint confines it to the newly
    // staged corpus copy, the sink's commit log accrues both schemas,
    // and the mergeSchema read must show one COMPLETE v1-era corpus
    // copy (band NULL ⇒ sum_band = -1 sentinel) and one COMPLETE
    // v2-era copy with exact band sums — upgrade without reprocessing
    // or history rewrite (the plain-parquet dual of Iceberg ADD
    // COLUMN). The oracle recomputes both eras from events arithmetic
    // alone; a lost offset (era double-read), a leaked old-shape row
    // in run 2, or a merge that drops either schema all break the hash.
    //
    // 100 TB posture: nothing scales with history — run 2 touches only
    // new files; the schema merge is a footer-level operation per file,
    // never a data rewrite.
    "q337_streamed_schema_evolution" -> QueryDef(
      build = (spark, dir) => streamedSchemaEvolution(spark, dir),
      oracle = Some("""
        WITH e AS (SELECT event_id, event_type,
                          CAST(ROUND(value * 100) AS BIGINT) AS cents
                   FROM events)
        SELECT 'v1' AS schema_era, event_type, COUNT(*) AS n,
               CAST(SUM(cents) AS BIGINT) AS sum_cents,
               CAST(SUM(event_id) AS BIGINT) AS sum_eid,
               CAST(-1 AS BIGINT) AS sum_band
        FROM e GROUP BY event_type
        UNION ALL
        SELECT 'v2', event_type, COUNT(*),
               CAST(SUM(cents) AS BIGINT),
               CAST(SUM(event_id) AS BIGINT),
               CAST(SUM(cents % 7) AS BIGINT)
        FROM e GROUP BY event_type
        ORDER BY schema_era, event_type"""))) :+ (

    // ---- q355: ingest-throughput knobs under quarantine (33rd law) ----
    // VERDICT r13 #7: the bench's ingest row (155k rows/s sf0.1) rides
    // BENCH_r*.json but the knobs that produce it — maxFilesPerTrigger
    // batching and the quarantine split — had no oracle gate. This law
    // drains a STAGED 12-FILE JSON corpus (lines built with explicit
    // concat from events arithmetic; every 13th line loses its opening
    // brace) through the REAL MicroBatchPipeline with
    // maxFilesPerTrigger = 3, quarantine ON, idempotent commit ON and
    // an injected clock, then rolls the two tables up PER BATCH: files
    // per trigger, main/DLQ row counts, rows-per-trigger, a parse-
    // fidelity sum (speed) and the DLQ byte fingerprint. File→batch
    // assignment is pinned by staged mod-times (the q275 discipline),
    // so the oracle replays every cell from events arithmetic alone:
    // batch = (event_id % 12) div 3. A broken trigger bound, a dropped
    // or double-read file, a quarantine leak, or a batch-id misstamp
    // all break the hash.
    //
    // 100 TB posture: this IS the production ingest path (bounded file
    // batches, incremental listing, partition-overwrite replay safety);
    // the gate pins its semantics so throughput tuning can't silently
    // change delivery.
    "q355_ingest_quarantine_law" -> QueryDef(
      build = (spark, dir) => ingestQuarantineLaw(spark, dir),
      oracle = Some("""
        WITH e AS MATERIALIZED (
          SELECT CAST(event_id AS BIGINT) AS eid,
                 length('{"battery_level":'
                   || CAST(CAST(event_id AS BIGINT) % 100 AS VARCHAR)
                   || ',"collision_detected":false,"direction":"N","fuel_level":'
                   || CAST(CAST(event_id AS BIGINT) % 50 AS VARCHAR)
                   || ',"latitude":'
                   || CAST(CAST(event_id AS BIGINT) % 90 AS VARCHAR)
                   || ',"longitude":'
                   || CAST(CAST(event_id AS BIGINT) % 180 AS VARCHAR)
                   || ',"seat_belt_status":"on","speed_kmh":'
                   || CAST(CAST(event_id AS BIGINT) % 120 AS VARCHAR)
                   || ',"sudden_braking":false,"timestamp":"2024-01-01 00:00:00","vehicle_id":"v'
                   || CAST(CAST(event_id AS BIGINT) AS VARCHAR)
                   || '"}') AS full_len
          FROM events WHERE event_id IS NOT NULL),
        r AS (SELECT eid, (eid % 12) // 3 AS batch_id, eid % 12 AS fidx,
                     CASE WHEN eid % 13 = 0 THEN 1 ELSE 0 END AS bad,
                     full_len
              FROM e)
        SELECT CAST(batch_id AS BIGINT) AS batch_id,
               CAST(COUNT(DISTINCT CASE WHEN bad = 0 THEN fidx END)
                 AS BIGINT) AS n_files,
               CAST(SUM(1 - bad) AS BIGINT) AS n_main,
               CAST(SUM(bad) AS BIGINT) AS n_dlq,
               CAST(COUNT(*) AS BIGINT) AS rows_per_trigger,
               CAST(SUM(CASE WHEN bad = 0 THEN eid % 120 ELSE 0 END)
                 AS BIGINT) AS sum_speed,
               CAST(SUM(CASE WHEN bad = 1 THEN full_len - 1 ELSE 0 END)
                 AS BIGINT) AS dlq_bytes
        FROM r GROUP BY 1 ORDER BY 1""")))

  /** Run the COMPLETE-mode leaderboard gate to completion: the q275
    * 8-file split (event_id % 8, pinned mod-times, one file per
    * micro-batch) through an unwindowed per-type count/sum aggregation
    * in COMPLETE mode, with a foreachBatch sink appending every emitted
    * row tagged with its batch id. Complete mode re-emits the FULL
    * state table every batch — including keys the batch never touched —
    * so the drained history must hold, for every batch k, EVERY type
    * present in files 0..k at its prefix aggregate over those files,
    * whether or not file k touched it. The exact complement of q275's
    * update-mode law (where an untouched key must NOT re-emit). The
    * leaderboard rank is assigned relationally from the emitted values
    * (cents desc, type — total order), so the output is the per-batch
    * top-to-bottom standings history a live leaderboard would render. */
  def streamedCompleteHistory(spark: SparkSession, dir: String): DataFrame = {
    val table = "q285_complete_history"
    gate(spark, "q285") { g =>
      g.resetTable(table)
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("event_type"), col("event_id"),
          cents.as("cents"))
      val schema = g.stageSplit(ev, "event_id")
      g.drain(g.source(schema, maxFilesPerTrigger = 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
            .as("cents_total")))(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          val tagged = batch.withColumn("batch_id", lit(id))
          if (!spark.catalog.tableExists(table))
            tagged.write.format("parquet").saveAsTable(table)
          else tagged.write.format("parquet").mode("append")
            .saveAsTable(table)
        }.outputMode("complete"))
    }
    val wrk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch_id"))
      .orderBy(col("cents_total").desc, col("event_type"))
    readAndDrop(spark, table)(
      _.withColumn("lb_rank", row_number().over(wrk).cast(LongType))
        .select(col("batch_id"), col("lb_rank"), col("event_type"),
          col("n"), col("cents_total"))
        .orderBy(col("batch_id"), col("lb_rank")))
  }

  /** Run the streamed weighted-sampling gate to completion: the orders
    * table arrives in 8 micro-batches (o_orderkey % 8, pinned mod-time
    * order, one file per trigger); each batch computes its rows'
    * Efraimidis–Spirakis keys IN-ROW (the q264 coin: ln of the md5
    * 48-bit uniform, rounded once, over the weight) and folds them into
    * a k-row state table kept as top-k of (state ∪ batch) by
    * (key desc, id). The law: because the E–S key order is a fixed
    * total order per item, top-k is MERGEABLE — the drained state must
    * equal the one-shot batch top-k over the whole corpus REGARDLESS of
    * how the stream chopped it. That is the distributed/streaming
    * sampling contract (reservoir semantics without an ordered scan). */
  def streamedWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 200
    // the k-row sample state lives on the driver between batches — the
    // BPE-merge-table precedent: state is MODEL-sized (k rows) by the
    // operator's own contract, which is exactly what makes the stream
    // bounded-state; at scale the same fold runs as a per-batch
    // TakeOrdered over |batch|+k rows
    val state = new java.util.concurrent.atomic.AtomicReference[
      Array[org.apache.spark.sql.Row]](Array.empty)
    gate(spark, "q290") { g =>
      val o = Tables.orders(spark, dir).select(
        col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("w"))
      val schema = g.stageSplit(o, "id")
      g.drain(g.source(schema, maxFilesPerTrigger = 1)
        // the E–S key, in-row and stateless (the q264 arithmetic):
        // u = (md5-48bit + 1)/2^48, e = round(ln u, 9)/w — largest-k
        .withColumn("u",
          (conv(substring(md5(concat(lit("q290#"),
            col("id").cast("string"))), 1, 12), 16, 10).cast("long") + 1)
            .cast("double") / lit(281474976710656.0))
        .withColumn("e", round(log(col("u")), 9) / col("w").cast("double"))
        .select(col("id"), col("w"), col("e")))(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          val sch = batch.schema
          val prev = spark.createDataFrame(
            java.util.Arrays.asList(state.get(): _*), sch)
          val top = batch.unionAll(prev)
            .orderBy(col("e").desc, col("id")).limit(k)
          state.set(top.collect())
          ()
        }.outputMode("update"))
    }
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("w", LongType),
      StructField("e", org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
      java.util.Arrays.asList(state.get(): _*), sch)
      .select(col("id"), col("w"))
      .orderBy(col("id"))
      .localCheckpoint(false)
  }

  /** Run the streamed drift-monitor gate to completion: events arrive
    * in 8 micro-batches (event_id % 8, pinned order) and EVERY batch is
    * tested against the static full-corpus value distribution with the
    * exact integer two-sample KS machinery (q286's arithmetic: D as
    * cross-multiplied cumulative counts on the reference value grid —
    * batch values are a subset of the reference grid, so the grid
    * carries every step point of both CDFs — and the α = 0.05 decision
    * via the squared-critical-value integer form). The law: each
    * batch's drained (statistic, decision) row is a pure function of
    * the batch's PARTITION CONTENT — independent of arrival order or
    * what other batches contained — which the oracle replays as 8
    * independent per-group KS computations. This is the production
    * data-quality monitor shape: broadcast reference, per-batch keyed
    * aggregation, bounded emission. */
  def streamedDriftMonitor(spark: SparkSession, dir: String): DataFrame =
    gate(spark, "q301") { g =>
      val results = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Long, Long, Long)]()
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("event_id"),
          cents.as("cents"))
      // static reference: the full-corpus cumulative distribution on
      // its own value grid (broadcast-sized: |distinct cents| rows)
      val wv = org.apache.spark.sql.expressions.Window.orderBy(col("cents"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val ref = ev.groupBy(col("cents")).agg(count(lit(1)).as("rc"))
        .withColumn("rcum", sum(col("rc")).over(wv))
        .select(col("cents"), col("rcum"))
        .localCheckpoint(false)
      val nRef = ev.count()
      val schema = g.stageSplit(ev, "event_id")
      g.drain(g.source(schema, maxFilesPerTrigger = 1))(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          val bc = batch.groupBy(col("cents")).agg(count(lit(1)).as("bc"))
          val nB = batch.count()
          val grid = ref.join(bc, Seq("cents"), "left")
            .withColumn("bc", coalesce(col("bc"), lit(0L)))
            .withColumn("bcum", sum(col("bc")).over(wv))
          val dmax = grid.agg(max(expr(
            s"abs(CAST(bcum AS DECIMAL(38,0)) * $nRef" +
              s" - CAST(rcum AS DECIMAL(38,0)) * $nB)")).as("d"))
            .head.getDecimal(0).toBigInteger
          val ks = (dmax.multiply(java.math.BigInteger.valueOf(1000000L))
            .divide(java.math.BigInteger.valueOf(nB)
              .multiply(java.math.BigInteger.valueOf(nRef)))).longValue()
          val reject =
            if (BigInt(ks) * ks * nB * nRef >=
              BigInt(1843700L) * 1000000L * (nB + nRef)) 1L else 0L
          results.add((id, nB, ks, reject))
          ()
        }.outputMode("update"))
      import scala.jdk.CollectionConverters._
      import spark.implicits._
      results.asScala.toSeq.sortBy(_._1)
        .toDF("batch_id", "n_batch", "ks_ppm", "reject_05")
        .withColumn("n_ref", lit(nRef))
        .withColumn("verdict",
          when(col("reject_05") === 1L, "drifted").otherwise("consistent"))
        .orderBy(col("batch_id"))
        .localCheckpoint(false)
    }

  /** q184: the q149 replay harness with watermarked, bounded-state
    * dedup. See the QueryDef comment for the delay-covers-span law. */
  def streamedWatermarkDedup(spark: SparkSession, dir: String): DataFrame =
    replayRollup(eventsGate(spark, "q184", dir, copies = 2) { g =>
      g.memory(g.events()
        .select(col("event_id"), g.era.eventTime.as("event_time"),
          col("event_type"), col("value"))
        .withWatermark("event_time", "45 days")
        .dropDuplicatesWithinWatermark("event_id"))
    })

  /** q336: run the two-writer shared-table scenario to completion.
    * Writers A and B are independent AvailableNow pipelines in SEPARATE
    * Spark sessions, each draining its own 4-file source (event halves
    * by event_id parity, files by (event_id div 2) % 4, mod-times
    * pinned so file→batch mapping is deterministic) into ONE
    * [[graft.streaming.IdempotentParquetSink]] table under disjoint
    * batch-id spaces. The table is bootstrapped (schema + batch_id
    * partition spec) BEFORE either writer starts — concurrent
    * create-if-missing is the one step that genuinely races, and
    * production does it as DDL for the same reason. After both drain,
    * writer B replays WHOLE from a fresh checkpoint; the sink's
    * idempotent partition overwrite must leave the table unchanged. */
  def streamedConcurrentWriters(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IdempotentParquetSink
    val table = "q336_shared_table"
    gate(spark, "q336a") { a => gate(spark, "q336b") { b =>
      a.resetTable(table)
      val ev = Tables.eventsRaw(spark, dir)
        .select(col("event_id"), col("event_type"),
          cents.as("cents"))
      Seq(a, b).zipWithIndex.foreach { case (g, parity) =>
        g.stageFiles((0 until 4).map(f => ev.filter(
          col("event_id") % 2 === parity &&
            expr("(event_id div 2) % 4") === f)))
      }
      // Bootstrap: a zero-row write creates the table with the sink's
      // batch_id-first partition spec, so neither writer hits the
      // create-if-missing race.
      IdempotentParquetSink.write(ev.limit(0), table, batchId = -1L)
      def writer(g: Gate, ckpt: String, offset: Long): StreamingQuery =
        g.stream(spark.newSession().readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(g.srcDir))(
          _.foreachBatch { (batch: DataFrame, id: Long) =>
            IdempotentParquetSink.write(batch, table, offset + id)
          }.option("checkpointLocation", ckpt))
      await(writer(a, a.ckpt, 0L), writer(b, b.ckpt, 100L))
      // The readers below run in the MAIN session while the writers
      // wrote through their own sessions: the relation cache
      // (SessionCatalog.tableRelationCache) is per-session, so refresh
      // before every read or the main session serves a stale file
      // listing of partitions the replay has since rewritten.
      spark.catalog.refreshTable(table)
      val c1 = spark.table(table).count()
      // Replay writer B wholesale from a FRESH checkpoint (crash that
      // lost the checkpoint but not the table): every B batch re-runs
      // and must overwrite its own partition with identical rows.
      await(writer(b, b.dir("ckpt_replay"), 100L))
      spark.catalog.refreshTable(table)
      val c2 = spark.table(table).count()
      readAndDrop(spark, table)(
        _.groupBy(col(IdempotentParquetSink.BatchCol).cast(LongType)
            .as("batch_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sum_cents"),
            sum(col("event_id")).as("sum_eid"))
          .select(col("batch_id"),
            when(col("batch_id") >= 100L, lit("b")).otherwise(lit("a"))
              .as("writer"),
            col("n"), col("sum_cents"), col("sum_eid"),
            lit(c2 - c1).as("replay_delta"))
          .orderBy(col("batch_id")))
    }}
  }
}

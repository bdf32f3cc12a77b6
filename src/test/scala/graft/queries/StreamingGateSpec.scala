package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streamed gate query vs its batch dual: the append-mode emission
  * must equal the batch window aggregation restricted by the
  * watermark-trim law (window_end ≤ max(event_time) − delay), and the
  * trimmed windows must be exactly the trailing ones.
  */
class StreamingGateSpec extends SparkSpec {

  test("q139: streamed emission ≡ watermark-trimmed batch windows") {
    val streamed = graft.SparkEntry.queries("q139_streamed_hourly_profile")(
      spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))

    val ev = graft.core.Tables.events(spark, sf)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val batch = ev
      .groupBy(date_trunc("hour", col("ts")).as("ws"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .cast("double").as("sum_value"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))

    val hourUs = 3600L * 1000000
    val kept = batch.filter { case (ws, _, _, _) =>
      ws.getTime * 1000 + hourUs <= maxUs - hourUs }
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    val model = kept.map { case (ws, t, n, s) => (fmt.format(ws), t, n, s) }
      .sortBy(r => (r._1, r._2)).toSeq

    assert(streamed.toSeq == model)
    // the trim is non-vacuous and strictly trailing: something was
    // trimmed, and every trimmed window starts after every kept one
    val trimmed = batch.length - kept.length
    assert(trimmed > 0, "watermark must hold back the trailing windows")
    val lastKept = kept.map(_._1.getTime).max
    batch.filter { case (ws, _, _, _) =>
      ws.getTime * 1000 + hourUs > maxUs - hourUs }
      .foreach { case (ws, _, _, _) =>
        assert(ws.getTime >= lastKept, "trimmed windows are the tail") }
  }

  test("q140: streamed interval join ≡ the batch range join, untrimmed") {
    val streamed = graft.SparkEntry.queries("q140_streamed_interval_join")(
      spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val views = ev.filter(_._3 == "view")
    val purchases = ev.filter(_._3 == "purchase")
    val twoH = 120L * 60 * 1000000
    val model = (for {
      (vu, vid, _, vt) <- views
      (pu, pid, _, pt) <- purchases
      if vu == pu && pt >= vt && pt <= vt + twoH
    } yield (vu, vid, pid, pt - vt)).sortBy(t => (t._1, t._2, t._3)).toSeq

    // inner stream-stream joins emit every match: NO trim, unlike q139
    assert(streamed.toSeq == model)
    assert(model.nonEmpty, "the gate data must contain attributable pairs")
  }

  test("q141: streamed sessions ≡ batch session_window under the trim law") {
    val streamed = graft.SparkEntry.queries("q141_streamed_sessions")(
      spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val ev = graft.core.Tables.events(spark, sf)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val batch = ev
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("e"), col("n"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val hourUs = 3600L * 1000000
    val model = batch.filter(_._3 <= maxUs - hourUs)
      .sortBy(t => (t._1, t._2)).toSeq
    assert(streamed.toSeq == model)
    // the trim withholds exactly the still-extendable tail sessions
    val withheld = batch.length - model.size
    assert(withheld > 0, "some trailing session must be inside the delay")
    batch.filter(_._3 > maxUs - hourUs).foreach { s =>
      assert(s._3 > maxUs - hourUs, "withheld sessions end inside the delay")
    }
  }

  test("q148: custom-state running totals ≡ the batch cumulative window") {
    val streamed = graft.SparkEntry.queries("q148_streamed_running_totals")(
      spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val ev = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val model = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      var n = 0L; var c = 0L
      rows.sortBy(r => (r._3, r._2)).map { r =>
        n += 1; c += r._4; (u, r._2, n, c)
      }
    }.sortBy(t => (t._1, t._3))
    assert(streamed.toSeq == model)
    // state-fold completeness: one emission per input event, none lost
    assert(streamed.length == ev.length)
  }

  test("q149: a replayed delivery collapses to exactly-once") {
    val got = graft.SparkEntry.queries("q149_streamed_replay_dedup")(
      spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val model = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues { rows =>
        (rows.size.toLong, rows.map(_._2).distinct.size.toLong,
          rows.map(_._3).sum)
      }.toMap
    assert(got == model)
    // the in-row certificate: every surviving row is unique
    got.values.foreach { case (n, nd, _) => assert(n == nd) }
  }

  test("q280: the drained merge leaves no q280_cdc_state table in the catalog") {
    // every batch after the first merges through a table swap; the swap
    // keeps only the live table, which the gate drops once it has read it
    val rows = graft.SparkEntry.queries("q280_streamed_cdc_latest")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("q280_cdc_state"))
    assert(left.isEmpty, s"tables left behind: ${left.mkString(", ")}")
  }

  test("runner: gate conf reaches only the stream; a batch mid-gate sees the parent's") {
    val keys = Seq("spark.sql.shuffle.partitions", graft.core.Tables.NanosKey,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    def view(s: SparkSession): Seq[Option[String]] =
      keys.map(s.conf.getOption)
    val gateConf = Seq(Some("1"), Some("true"), Some("false"))
    val before = spark.conf.getAll
    val parent = view(spark)
    assert(parent.zip(gateConf).forall { case (p, g) => p != g },
      "every scoped key must differ from the parent's for the check to bite")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Seq[Option[String]], Seq[Option[String]])]()
    StreamingGate.eventsGate(spark, "conf_isolation", sf) { g =>
      g.drain(g.events())(
        _.foreachBatch { (batch: DataFrame, _: Long) =>
          seen.add((view(spark), view(batch.sparkSession)))
          ()
        })
    }
    assert(!seen.isEmpty, "the drain must run at least one micro-batch")
    seen.forEach { case (p, b) =>
      assert(p == parent, "the parent session's conf mid-gate")
      assert(b == gateConf, "the stream's cloned session's conf")
    }
    assert(spark.conf.getAll == before)
  }

  test("runner: two staged copies drain as two micro-batches of the whole fixture") {
    // the replay staging q149, q184, q211 and q256 rely on: one copy per
    // micro-batch under maxFilesPerTrigger = 1, no copy split or merged
    val rows = graft.core.Tables.events(spark, sf).count()
    val before = spark.conf.getAll
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    StreamingGate.eventsGate(spark, "replay_staging", sf, copies = 2) { g =>
      g.drain(g.events(maxFilesPerTrigger = 1))(
        _.foreachBatch { (batch: DataFrame, id: Long) =>
          batches.add((id, batch.count()))
          ()
        })
    }
    val got = batches.toArray(Array.empty[(Long, Long)]).sortBy(_._1).toSeq
    assert(got.map(_._2) == Seq(rows, rows), s"micro-batches (id, rows): $got")
    assert(spark.conf.getAll == before)
  }
}

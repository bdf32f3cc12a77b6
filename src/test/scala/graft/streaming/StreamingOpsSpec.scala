package graft.streaming

import graft.SparkSpec
import graft.core.GpsRecord
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Typed row for the full-outer interval-join case (top-level: local
  * case classes can't derive a product Encoder). */
final case class JoinEv(user: Long, id: Long, t: java.sql.Timestamp)

/** Typed row for the q272 streamed-scoring case. */
final case class DocRow(doc_id: Long, text: String)

/** Structured Streaming operator semantics on MemoryStreams, trigger by
  * trigger: the laws the `StreamingGate` gates drain against the oracle. */
class StreamingOpsSpec extends SparkSpec {

  private def rec(vid: String, ts: String, speed: Double,
      dir: String = "N", collision: Boolean = false) =
    GpsRecord(vid, 10.0, 20.0, speed, dir, Some(50.0), 80.0,
      "Fastened", collision, sudden_braking = false, ts)

  test("chained window aggs: the coarse rollup emits only fully-passed windows") {
    // the q235 shape on a MemoryStream: 1-minute agg feeding a 4-minute
    // rollup in append mode — the rollup window emits only once the
    // propagated watermark passes its END, carrying its minutes' counts
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[JoinEv]
    val cascade = mem.toDF()
      .withColumn("et", col("t"))
      .withWatermark("et", "2 minutes")
      .groupBy(window(col("et"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window"), "4 minutes"))
      .agg(sum(col("n")).as("n_events"), count(lit(1)).as("n_mins"))
      .select(date_format(col("window.start"), "HH:mm").as("w4"),
        col("n_events"), col("n_mins"))
    val q = cascade.writeStream.format("memory").queryName("agg_cascade")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      JoinEv(1, 1, ts("2025-06-15 10:00:10")),
      JoinEv(1, 2, ts("2025-06-15 10:01:20")),
      JoinEv(1, 3, ts("2025-06-15 10:02:30")),
      JoinEv(1, 4, ts("2025-06-15 10:03:40")),
      JoinEv(1, 5, ts("2025-06-15 10:10:00"))) // clock: wm -> 10:08
    q.processAllAvailable()
    mem.addData(JoinEv(1, 6, ts("2025-06-15 10:20:00"))) // clock: wm -> 10:18
    q.processAllAvailable()
    q.stop()
    val out = spark.table("agg_cascade").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // [10:00,10:04): all four minutes counted, emitted once wm >= 10:04
    assert(out("10:00") == ((4L, 4L)))
    // [10:08,10:12) (the 10:10 clock) emitted once wm reached 10:18
    assert(out("10:08") == ((1L, 1L)))
    // [10:20,10:24) ends past the final watermark -> withheld
    assert(!out.contains("10:20"), "unfinalized rollup window emitted")
  }

  test("full-outer interval join emits BOTH sides' evictions once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[JoinEv]
    val purchases = MemoryStream[JoinEv]
    val v = views.toDF().select(col("user").as("v_user"),
      col("id").as("v_id"), col("t").as("v_time"))
      .withWatermark("v_time", "0 seconds")
    val p = purchases.toDF().select(col("user").as("p_user"),
      col("id").as("p_id"), col("t").as("p_time"))
      .withWatermark("p_time", "0 seconds")
    val q = v.join(p, col("v_user") === col("p_user") &&
        col("p_time") >= col("v_time") &&
        col("p_time") <= col("v_time") + expr("INTERVAL 10 MINUTES"),
        "full_outer")
      .select(coalesce(col("v_user"), col("p_user")).as("user"),
        col("v_id"), col("p_id"))
      .writeStream.format("memory").queryName("fo_join")
      .outputMode(OutputMode.Append()).start()
    // batch 1: one matched pair (u1), one matchless view (u2), one
    // matchless purchase (u3)
    views.addData(JoinEv(1, 10, ts("2025-06-15 10:00:00")),
      JoinEv(2, 20, ts("2025-06-15 10:00:00")))
    purchases.addData(JoinEv(1, 11, ts("2025-06-15 10:05:00")),
      JoinEv(3, 31, ts("2025-06-15 10:07:00")))
    q.processAllAvailable()
    // batch 2: far-future rows on BOTH sides push both watermarks past
    // every batch-1 join window -> the engine must evict and emit the
    // null-matched rows from EACH side (the q201 sentinel-flush shape)
    views.addData(JoinEv(99, 990, ts("2025-06-15 12:00:00")))
    purchases.addData(JoinEv(99, 991, ts("2025-06-15 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fo_join")
      .filter(col("user") < 99) // the clock-advancing pair stays in state
      .collect().map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]))).toSet
    assert(rows == Set(
      (1L, Some(10L), Some(11L)),  // matched within the 10-min window
      (2L, Some(20L), None),       // view-side eviction
      (3L, None, Some(31L))))      // purchase-side eviction
  }

  test("stream-static join enriches a live stream with a dimension table") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Static side: per-vehicle registration dimension (batch DataFrame).
    val dim = Seq(("v1", "fleet-A"), ("v2", "fleet-B")).toDF("vehicle_id", "fleet")
    val mem = MemoryStream[GpsRecord]
    val q = mem.toDF().join(dim, Seq("vehicle_id"), "left")
      .writeStream.format("memory").queryName("enriched_stream")
      .outputMode(OutputMode.Append()).start()
    mem.addData(rec("v1", "2025-06-15 10:00:00", 30),
      rec("v3", "2025-06-15 10:00:01", 40)) // unregistered vehicle
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enriched_stream").collect()
      .map(r => r.getAs[String]("vehicle_id") -> r.getAs[String]("fleet")).toMap
    assert(out == Map("v1" -> "fleet-A", "v3" -> null))
  }

  test("a union's watermark is the MIN of its sources — the lagging side gates emission") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val memA = MemoryStream[GpsRecord]
    val memB = MemoryStream[GpsRecord]
    def side(df: org.apache.spark.sql.DataFrame) = df
      .select(to_timestamp(col("timestamp")).as("et"))
      .withWatermark("et", "2 minutes")
    val q = side(memA.toDF()).unionAll(side(memB.toDF()))
      .groupBy(window(col("et"), "1 minute"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "HH:mm").as("w"), col("n"))
      .writeStream.format("memory").queryName("union_wm")
      .outputMode(OutputMode.Append()).start()
    // A leads (own watermark 10:18); B lags (own watermark 10:03).
    memA.addData(rec("v1", "2025-06-15 10:00:10", 40),
      rec("v1", "2025-06-15 10:20:00", 40))
    memB.addData(rec("v2", "2025-06-15 10:00:20", 30),
      rec("v2", "2025-06-15 10:05:00", 30))
    q.processAllAvailable()
    // Global watermark = min(10:18, 10:03): only the 10:00 window is
    // closed — and it holds BOTH sources' rows.
    val after1 = spark.table("union_wm").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after1 == Map("10:00" -> 2L))
    // B catches up => min watermark 10:18; the 10:05 window closes too,
    // while 10:20 (rows on both sides) stays open.
    memB.addData(rec("v2", "2025-06-15 10:20:30", 30))
    q.processAllAvailable()
    q.stop()
    val after2 = spark.table("union_wm").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(after2 == Map("10:00" -> 2L, "10:05" -> 1L))
  }

  test("custom segments close only when the watermark passes end + gap (q259 law)") {
    // the q259 emit discipline on a controlled MemoryStream clock:
    // user 1's first segment (two events 2 h apart) must stay in state
    // until the watermark (driven by user 2's clock events) passes
    // seg_end + 24 h, then emit exactly once; the open tail never emits.
    import spark.implicits._
    import graft.queries.StreamingGate.{SegEvent, customSegments}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(uid: Long, s: String, cents: Long) = {
      val t = java.sql.Timestamp.valueOf(s)
      SegEvent(uid, t, t.getTime * 1000L, cents)
    }
    val mem = MemoryStream[SegEvent]
    val q = customSegments(mem.toDS())
      .writeStream.format("memory").queryName("q259_spec")
      .outputMode(OutputMode.Update()).start()

    // batch 1: u1 segment A + u1's far-future event (segment B opener);
    // u2 clock at +5d -> watermark after b1 = +3d (48 h delay)
    mem.addData(
      ev(1, "2025-06-01 10:00:00", 100),
      ev(1, "2025-06-01 12:00:00", 200),
      ev(1, "2025-06-07 10:00:00", 300),
      ev(2, "2025-06-05 12:00:00", 1))
    q.processAllAvailable()
    // batch 2: only a u2 clock tick; u1 is invoked via its re-armed
    // event-time timeout and closes segment A (end 06-01 12:00 + 24 h
    // = 06-02 12:00 <= wm). Segment B (06-07 10:00) stays open: even
    // the post-batch-2 flush watermark (06-09 12:00 - 48 h = 06-07
    // 12:00) has not passed its close line 06-08 10:00.
    mem.addData(ev(2, "2025-06-09 12:00:00", 1))
    q.processAllAvailable()
    val afterB2 = spark.table("q259_spec").where(col("user_id") === 1).collect()
    assert(afterB2.length == 1, s"expected exactly segment A, got ${afterB2.length}")
    assert(afterB2.head.getAs[Long]("n_events") == 2L)
    assert(afterB2.head.getAs[Long]("cents") == 300L)
    // batch 3: clock far ahead -> u1's segment B (single event) closes too
    mem.addData(ev(2, "2025-06-30 12:00:00", 1))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("q259_spec").where(col("user_id") === 1)
      .orderBy(col("seg_start_us")).collect()
    assert(all.length == 2, s"expected segments A and B, got ${all.length}")
    assert(all(1).getAs[Long]("n_events") == 1L)
    assert(all(1).getAs[Long]("cents") == 300L)
    // no duplicate emission of segment A across triggers
    assert(all(0).getAs[Long]("cents") == 300L && all(0).getAs[Long]("n_events") == 2L)
  }

  test("streamed fuzzy near-dup equals batch LSH and crosses micro-batches") {
    import spark.implicits._
    // doc_id mod 3 is the gate's batch split: (0, 1) land in DIFFERENT
    // micro-batches (the cross-batch discovery the state exists for),
    // (3, 6) in the SAME one; 12/13/14 are disjoint-vocab singletons.
    val shared = (0 until 30).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (0L, shared + " tail0 tail00"),
      (1L, shared + " tail1 tail11 tail111"),
      (3L, shared + " same3 same33"),
      (6L, shared + " same6 same66 same666"),
      (12L, (0 until 25).map(w => s"a$w").mkString(" ")),
      (13L, (0 until 25).map(w => s"b$w").mkString(" ")),
      (14L, (0 until 25).map(w => s"c$w").mkString(" "))
    ).toDF("doc_id", "text")

    val streamed = graft.queries.StreamingGate
      .streamedNearDupPairs(spark, docs).collect().toSeq
    val batch = graft.operators.MinHashLSH
      .nearDupPairs(docs, "doc_id", "text").collect().toSeq
    assert(batch.nonEmpty, "planted near-dups not found by the batch path")
    assert(streamed == batch,
      "streamed pair set differs from the batch LSH dual")
    val ids = streamed.map(r => (r.getLong(0), r.getLong(1)))
    assert(ids.contains((0L, 1L)), "cross-micro-batch pair missed")
    assert(ids.contains((3L, 6L)), "same-micro-batch pair missed")
    assert(!ids.exists { case (a, b) => a >= 12 || b >= 12 })
  }

  test("chained three-way interval join emits exactly the in-window triples") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-06-15 10:$m%02d:00")
    val vs = MemoryStream[JoinEv]; val cs = MemoryStream[JoinEv]
    val ps = MemoryStream[JoinEv]
    def side(m: MemoryStream[JoinEv], pfx: String) =
      m.toDF().select(col("user").as(s"${pfx}_user"),
          col("id").as(s"${pfx}_id"), col("t").as(s"${pfx}_t"))
        .withWatermark(s"${pfx}_t", "30 minutes")
    val q = side(vs, "v").join(side(cs, "c"),
        col("v_user") === col("c_user") && col("c_t") >= col("v_t") &&
          col("c_t") <= col("v_t") + org.apache.spark.sql.functions.expr(
            "INTERVAL 5 MINUTES"))
      .join(side(ps, "p"),
        col("c_user") === col("p_user") && col("p_t") >= col("c_t") &&
          col("p_t") <= col("c_t") + org.apache.spark.sql.functions.expr(
            "INTERVAL 5 MINUTES"))
      .select(col("v_user"), col("v_id"), col("c_id"), col("p_id"))
      .writeStream.format("memory").queryName("triple_join")
      .outputMode(OutputMode.Append()).start()
    vs.addData(JoinEv(1, 10, ts(0)), JoinEv(2, 20, ts(0)))
    cs.addData(
      JoinEv(1, 11, ts(3)),  // in view-window -> chains
      JoinEv(1, 12, ts(9)),  // outside view-window -> dead
      JoinEv(2, 21, ts(2)))  // user 2, in window -> chains
    ps.addData(
      JoinEv(1, 13, ts(6)),  // within 5 min of click 11 -> triple
      JoinEv(2, 22, ts(20))) // outside click-window -> no triple
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("triple_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(rows.toSeq === Seq((1L, 10L, 11L, 13L)))
  }

  test("update-mode emission history is the chain of prefix aggregates (q275 law)") {
    // Two explicit micro-batches through an unwindowed update-mode
    // count: a key touched in both batches must emit BOTH prefix
    // values; a key touched once emits once — the q275 law in miniature.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val q = mem.toDF().select(col("text").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("q275_spec")
      .outputMode(OutputMode.Update()).start()
    mem.addData(DocRow(1, "a"), DocRow(2, "a"), DocRow(3, "b"))
    q.processAllAvailable()
    mem.addData(DocRow(4, "a"), DocRow(5, "c"))
    q.processAllAvailable()
    q.stop()
    val hist = spark.table("q275_spec").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    // a: 2 then 3 (touched twice); b: 1 (batch 1 only); c: 1 (batch 2
    // only) — and crucially NO re-emission of b in batch 2
    assert(hist == Seq(("a", 2L), ("a", 3L), ("b", 1L), ("c", 1L)),
      s"update emission history wrong: $hist")
  }

  test("complete-mode re-emits untouched keys every batch (q285 law)") {
    // Two explicit micro-batches through an unwindowed complete-mode
    // count: batch 2 does NOT touch "b", yet the batch-2 emission must
    // still carry ("b", 1) — the exact complement of the q275 update
    // law, and the contract a live leaderboard relies on.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[DocRow]
    val hist = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val q = mem.toDF().select(col("text").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        hist.synchronized {
          hist ++= batch.collect().map(r =>
            (id, r.getString(0), r.getLong(1)))
        }
        ()
      }
      .outputMode(OutputMode.Complete()).start()
    mem.addData(DocRow(1, "a"), DocRow(2, "a"), DocRow(3, "b"))
    q.processAllAvailable()
    mem.addData(DocRow(4, "a"), DocRow(5, "c"))
    q.processAllAvailable()
    q.stop()
    val got = hist.sorted.toSeq
    assert(got == Seq((0L, "a", 2L), (0L, "b", 1L),
      (1L, "a", 3L), (1L, "b", 1L), (1L, "c", 1L)),
      s"complete emission history wrong: $got")
  }

  test("streamed top-k sample fold is chop-invariant (q290 law)") {
    // The mergeability at the heart of q290: folding a population into
    // a k-row top-k state batch by batch yields the SAME sample no
    // matter how the stream chops or orders the batches, and equals
    // the one-shot batch top-k.
    val items = (1L to 40L).map(i => (i, (i * 7919) % 101))
    def key(i: Long, w: Long): Double =
      math.rint(math.log((i * 2654435761L % 1000 + 1) / 1000.0) * 1e9) /
        1e9 / w
    val keyed = items.map { case (i, w) => (i, w, key(i, w)) }
    val batchTop = keyed.sortBy { case (i, _, e) => (-e, i) }.take(5)
    def fold(chunks: Seq[Seq[(Long, Long, Double)]]) =
      chunks.foldLeft(Seq.empty[(Long, Long, Double)]) { (st, ch) =>
        (st ++ ch).sortBy { case (i, _, e) => (-e, i) }.take(5)
      }
    val byMod = (0 until 4).map(r => keyed.filter(_._1 % 4 == r))
    val bySplit = keyed.grouped(7).toSeq.reverse
    assert(fold(byMod) == batchTop, "mod-chopped fold diverged")
    assert(fold(bySplit) == batchTop, "reverse-chunk fold diverged")
  }

  test("streamed bottom-k fold is chop- and order-invariant, k-bounded (q318 law)") {
    // q318's set algebra: folding hashes into a bottom-k state batch by
    // batch yields the SAME sketch for any chop/order of the stream and
    // equals the one-shot k smallest distinct — and the state never
    // holds more than k values (the bounded-state claim itself).
    val k = 8
    val hashes = (1L to 60L).map(i => (i * 2654435761L) % 997L)
    val oneShot = hashes.distinct.sorted.take(k)
    def fold(chunks: Seq[Seq[Long]]): Seq[Long] =
      chunks.foldLeft(List.empty[Long]) { (st, ch) =>
        val next = (st ++ ch).distinct.sorted.take(k)
        assert(next.size <= k, "state exceeded its k bound")
        next
      }
    val byMod = (0 until 5).map(r => hashes.filter(_ % 5 == r))
    val bySplit = hashes.grouped(11).toSeq.reverse
    val withDupes = Seq(hashes, hashes.take(20)) // replayed prefix
    assert(fold(byMod) == oneShot, "mod-chopped fold diverged")
    assert(fold(bySplit) == oneShot, "reverse-chunk fold diverged")
    assert(fold(withDupes) == oneShot, "idempotence under replay failed")
  }

  test("streamed count-min fold is chop- and order-invariant, state-bounded (q323 law)") {
    // q323's counter algebra: folding events into a d×w counter matrix
    // batch by batch yields the SAME matrix for any chop/order of the
    // stream and equals the one-shot count — addition is associative
    // and commutative — and per-shard matrices SUM to the global one
    // (the cross-shard merge). State never exceeds d·w cells.
    val d = 4; val w = 16
    val events = (1L to 120L).map(i => (i * 2654435761L) % 37L)
    def buckets(e: Long): Seq[Int] =
      (0 until d).map(r => (((e + 1) * (r + 3) * 40503L) % w).toInt)
    def fold(chunks: Seq[Seq[Long]]): Seq[Long] =
      chunks.foldLeft(Array.fill(d * w)(0L)) { (st, ch) =>
        ch.foreach(e => buckets(e).zipWithIndex.foreach {
          case (b, r) => st(r * w + b) += 1 })
        assert(st.length == d * w, "state exceeded its d*w bound")
        st
      }.toSeq
    val oneShot = fold(Seq(events))
    assert(fold((0 until 5).map(r => events.filter(_ % 5 == r)))
      == oneShot, "mod-chopped fold diverged")
    assert(fold(events.grouped(11).toSeq.reverse) == oneShot,
      "reverse-chunk fold diverged")
    // shard merge: per-shard matrices sum to the global matrix
    val byShard = (0 until 3).map(s =>
      fold(Seq(events.filter(_ % 3 == s))))
    val summed = byShard.transpose.map(_.sum)
    assert(summed == oneShot, "per-shard matrix sum diverged from global")
  }

  test("dead-letter routing is salvage-proof on head corruption (q329 law)") {
    // q329 plants corruption at the HEAD (opening brace dropped) so the
    // whole object is unparseable — PERMISSIVE partial-results salvage
    // must not rescue a field and leak a corrupt row into the main arm.
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, etype STRING, cents BIGINT")
    val lines = (1L to 26L).map { i =>
      val full = s"""{"event_id":$i,"etype":"t${i % 3}","cents":${i * 7}}"""
      if (i % 13 == 0) full.substring(1) else full
    }
    val routed = lines.toDF("line")
      .select(col("line"), from_json(col("line"), schema).as("j"))
      .select(when(col("j.event_id").isNotNull, lit("main"))
        .otherwise(lit("dlq")).as("arm"))
      .groupBy("arm").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routed("main") == 24L, "a parseable line missed the main arm")
    assert(routed("dlq") == 2L,
      "a head-corrupted line was salvaged into the main arm")
  }

  test("streamed in-row model scorer ≡ batch bucketized scorer (q272 law)") {
    // The stream-static MODEL completeness law on a MemoryStream: the
    // stateless per-row scorer (Σ_tokens w[bucket] + bias, literal
    // model) must equal HashedLogReg's batch path (per-(doc, bucket)
    // counts joined to the weight table) doc-for-doc — a DIFFERENT
    // factoring of the same sum, so associativity bugs, bias-row slips,
    // or bucket-hash drift all fail here.
    import graft.operators.HashedLogReg
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq(
      DocRow(1L, "the a quick brown fox"),
      DocRow(2L, "the the the a a lambda"),
      DocRow(3L, "entropy gradient shuffle partition map"),
      DocRow(4L, "a the a the a the"))
    val w = Array.tabulate(HashedLogReg.Buckets + 1)(
      j => ((j % 11) - 5).toLong * 1000L)
    val (zc, yc) = HashedLogReg.inRowScore("toks", w, Seq("the", "a"), 66L)
    val mem = MemoryStream[DocRow]
    mem.addData(docs: _*)
    val q = mem.toDF()
      .select(col("doc_id"), split(trim(col("text")), " ").as("toks"))
      .select(col("doc_id"), yc.as("y"), zc.as("z"))
      .writeStream.format("memory").queryName("q272_spec")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("q272_spec").orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val x = HashedLogReg.withLabelAndBias(
      HashedLogReg.tokenFeatures(docs.toDF("doc_id", "text"), "text",
        Seq("the", "a")), 66L)
    val batch = HashedLogReg.score(x, w).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch,
      s"streamed scorer diverged from the batch path:\n$streamed\n$batch")
    assert(streamed.map(_._2).toSet == Set(0L, 1L),
      "fixture exercises both label classes")
  }

  test("two sessions write one sink table concurrently; replay is a no-op (q336 law)") {
    // The q336 contract at unit scale: writers in SEPARATE sessions
    // (per-writer SQLConf — the sink flips partitionOverwriteMode around
    // each write, so one shared session would race it) appending
    // disjoint batch-id spaces to ONE IdempotentParquetSink table must
    // commute, and replaying a batch must leave the table bit-identical.
    import spark.implicits._
    val table = "q336_spec_shared"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // bootstrap schema + partition spec before the writers race
    IdempotentParquetSink.write(
      Seq.empty[Long].toDF("id"), table, batchId = -1L)
    val sa = spark.newSession()
    val sb = spark.newSession()
    def rows(s: org.apache.spark.sql.SparkSession, from: Long) =
      s.range(from, from + 5).toDF("id")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ta = new Thread(() =>
      try (0L to 1L).foreach(b =>
        IdempotentParquetSink.write(rows(sa, b * 5), table, b))
      catch { case e: Throwable => errs.add(e) })
    val tb = new Thread(() =>
      try (0L to 1L).foreach(b =>
        IdempotentParquetSink.write(rows(sb, 1000 + b * 5), table, 100 + b))
      catch { case e: Throwable => errs.add(e) })
    ta.start(); tb.start(); ta.join(); tb.join()
    assert(errs.isEmpty, s"concurrent writer threw: ${errs.peek()}")
    spark.catalog.refreshTable(table)
    def snapshot() = spark.table(table)
      .select(col("id"), col("batch_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val expected = ((0L to 4L).map(i => (i, 0L)) ++
      (5L to 9L).map(i => (i, 1L)) ++
      (1000L to 1004L).map(i => (i, 100L)) ++
      (1005L to 1009L).map(i => (i, 101L))).sorted
    assert(snapshot() == expected,
      "concurrent disjoint-batch writes did not commute to the union")
    // replay writer B's first batch — identical rows, same batch id
    IdempotentParquetSink.write(rows(sb, 1000), table, 100)
    spark.catalog.refreshTable(table)
    assert(snapshot() == expected, "replaying a batch changed the table")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a restarted pipeline may add a column; history keeps both schemas (q337 law)") {
    // The q337 contract at unit scale: run 1 writes the v1 shape to a
    // durable parquet file sink; run 2 resumes from the SAME checkpoint
    // with an ADDED derived column and only the newly arrived file; the
    // mergeSchema read shows one complete copy per era, v1 rows null in
    // the new column.
    import org.apache.spark.sql.streaming.Trigger
    val src = java.nio.file.Paths.get(tmpDir("q337_spec_src"))
    val ckpt = tmpDir("q337_spec_ckpt")
    val out = tmpDir("q337_spec_out")
    def land(name: String): Unit = {
      val stage = src.resolve(s"stage_$name")
      spark.range(10).select(col("id"), (col("id") * 3).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).filter(
        p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, src.resolve(s"$name.parquet"))
      java.nio.file.Files.walk(stage)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    def runOnce(upgraded: Boolean): Unit = {
      val base = spark.readStream.schema(schema).parquet(src.toString)
      val shaped = if (upgraded) base.withColumn("band", col("v") % 7)
        else base
      val q = shaped.writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    land("a"); runOnce(upgraded = false)
    land("b"); runOnce(upgraded = true)
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(out)
    assert(merged.columns.sorted.toSeq == Seq("band", "id", "v"))
    val v1 = merged.filter(col("band").isNull)
    val v2 = merged.filter(col("band").isNotNull)
    assert(v1.count() == 10 && v2.count() == 10,
      "each era must hold exactly one complete corpus copy")
    assert(v2.filter(col("band") =!= col("v") % 7).count() == 0,
      "upgraded rows must carry the derived column")
  }
}

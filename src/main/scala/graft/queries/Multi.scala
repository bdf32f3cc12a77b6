package graft.queries

import graft.operators.Multimodal

/** Multimodal binary-column pipeline corpus entry. The asset count scales
  * with the SF dir so bench reflects real partition-local decode cost.
  * Round 10: the q60 corpus is parquet-STAGED once
  * ([[Multimodal.stagedAssets]]) so the headline times scan + decode +
  * featurize — the shape a production media scan pays — with fixture
  * synthesis (the encode half) off the benched path; the per-arm
  * encode/decode split is in BASELINE.md "Media encode vs decode split".
  *
  * Oracle pattern (see [[VerifyInputs]]): the codec + histogram feature
  * are engine-specific, so Verify materializes the per-asset scalar rows
  * (`_q60_input`: asset_id, kind, n_bytes, l2sq) and DuckDB re-aggregates
  * the profile over identical inputs — the relational downstream is
  * value-checked, the codec itself stays spec-tested (MultimodalSpec
  * golden values).
  */
object Multi {

  /** Asset count for a SF dir — shared by the query and VerifyInputs so
    * the materialized rows always match the gate query's corpus. */
  def assetCount(dir: String): Long = graft.core.SfDir.scaled(dir, 500L)

  /** q234's per-image perceptual hashes: the image corpus plus an
    * exact-2× upscaled copy of every 8th image (dHash-invariant — the
    * planted recalls). Shared by the gate and VerifyInputs. */
  def phashRows(spark: org.apache.spark.sql.SparkSession,
      n: Long): org.apache.spark.sql.DataFrame =
    Multimodal.imageHashes(Multimodal.withUpscaledCopies(
      Multimodal.syntheticAssets(spark, n), everyNth = 24L,
      offset = 10000000L))

  /** q230's per-image resize-audit rows: source geometry (src_w, src_h)
    * and the 32×32 nearest-neighbor resize's re-encoded bytes, decoded
    * pixel count and pixel sum. Shared by the gate and VerifyInputs. */
  def resizeAuditRows(spark: org.apache.spark.sql.SparkSession,
      n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    def imgs = Multimodal.syntheticAssets(spark, n)
      .filter(_.meta.kind == "image")
    val dims = imgs.map(a => (a.asset_id, a.meta.width, a.meta.height))
      .toDF("asset_id", "src_w", "src_h")
    val outr = Multimodal.resize(imgs, 32, 32).map { a =>
      val g = Multimodal.ImageCodec.decode(a.payload).gray
      var s = 0L; var i = 0
      while (i < g.length) { s += (g(i) & 0xff); i += 1 }
      (a.asset_id, a.payload.length, g.length, s)
    }.toDF("asset_id", "out_bytes", "n_px", "px_sum")
    dims.join(outr, Seq("asset_id"))
  }

  val defs: Seq[(String, QueryDef)] = Seq(
    "q60_multimodal_profile" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.featureProfile(spark, assetCount(dir)),
      oracle = Some(s"""
        WITH f AS (SELECT kind, n_bytes, l2sq
                   FROM ${VerifyInputs.staged("_q60_input")})
        SELECT kind, COUNT(*) AS n_assets,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               ROUND(CAST(SUM(CAST(l2sq AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_feature_l2sq
        FROM f GROUP BY kind ORDER BY kind"""),
      headline = true),

    // ---- q208: audio DSP profile over REAL decoded PCM ----
    // The speech-corpus screening pass, now that the WAV codec is real
    // (round 8): per duration class (chunk count), the zero-crossing
    // rate in ppm of adjacent-sample pairs (the voicing/noise
    // discriminator), mean per-sample energy, and peak amplitude — all
    // INTEGER arithmetic over decoded 16-bit samples, so the per-asset
    // rows are bit-deterministic. Oracle pattern as q60: Verify
    // materializes the per-asset stats (`_q208_input`) and DuckDB
    // re-aggregates the profile over identical rows; the decode + DSP
    // kernel itself is spec-pinned (MultimodalSpec planted-WAV
    // checksums).
    //
    // 100 TB posture: decode + stats are one partition-local iterator
    // pass per asset (payloads never shuffle); the profile agg is
    // |duration classes| rows.
    "q208_audio_profile" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.audioProfile(spark, assetCount(dir)),
      oracle = Some(s"""
        WITH f AS (SELECT n_chunks, n_samples, zero_crossings, sum_sq,
                          max_abs
                   FROM ${VerifyInputs.staged("_q208_input")})
        SELECT n_chunks, COUNT(*) AS n_assets,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               (CAST(SUM(zero_crossings) AS BIGINT) * 1000000)
                 // (CAST(SUM(n_samples) AS BIGINT) - COUNT(*)) AS zc_ppm,
               CAST(SUM(sum_sq) AS BIGINT) // CAST(SUM(n_samples) AS BIGINT)
                 AS mean_energy,
               MAX(max_abs) AS peak_abs
        FROM f GROUP BY n_chunks ORDER BY n_chunks""")),

    // ---- q228: video frame-sampling accounting (REAL codec, round 9) ----
    // The cost-bounding transform of the video pipeline (keep every 3rd
    // frame before feature extraction), now a full REAL-codec round-trip:
    // [[Multimodal.sampleFrames]] decodes the animated GIF, keeps frames
    // 0, 3, 6, …, re-encodes — and the gate decodes the RESULT again and
    // sums its pixel values. The oracle recomputes everything
    // INDEPENDENTLY from the staged pre-sampling per-frame pixel sums:
    // kept = ceil(n/3) = (n+2)//3, surviving pixels = w·h·kept, surviving
    // pixel-sum = Σ frame_sums[0,3,6,…]. A stride bug, an off-by-one in
    // the kept set, a frame mixed up by the re-encode, or ANY lossiness
    // in the decode→encode→decode chain hash-mismatches the content
    // column — this is CONTENT equality through the codec, not just
    // count arithmetic (stronger than the pre-round-9 byte-length form,
    // which a variable-size real container made meaningless).
    //
    // 100 TB posture: sampling is a partition-local payload rewrite
    // (never shuffles a frame); the rollup is |duration classes| rows.
    "q228_frame_sampling" -> QueryDef(
      build = (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.functions._
        def vids = Multimodal.syntheticAssets(spark, assetCount(dir))
          .filter(_.meta.kind == "video")
        val before = vids
          .map(a => (a.asset_id, a.meta.nFrames,
            a.meta.width.toLong * a.meta.height * a.meta.nFrames))
          .toDF("asset_id", "n_frames", "px_before")
        val after = Multimodal.sampleFrames(vids, everyN = 3)
          .map { a =>
            val d = Multimodal.VideoCodec.decode(a.payload)
            var s = 0L
            d.frames.foreach { f =>
              var i = 0
              while (i < f.length) { s += (f(i) & 0xff); i += 1 }
            }
            (a.asset_id, a.meta.nFrames,
              d.frames.map(_.length.toLong).sum, s)
          }.toDF("asset_id", "n_frames_kept", "px_after", "px_sum_after")
        before.join(after, Seq("asset_id"))
          .groupBy(col("n_frames"))
          .agg(count(lit(1)).as("n_assets"),
            max(col("n_frames_kept")).cast("long").as("frames_kept"),
            sum(col("px_before")).as("px_before"),
            sum(col("px_after")).as("px_after"),
            sum(col("px_sum_after")).as("px_sum_after"))
          .select(col("n_frames").cast("long").as("n_frames"),
            col("n_assets"), col("frames_kept"), col("px_before"),
            col("px_after"), col("px_sum_after"),
            expr("(px_after * 1000000) div px_before").as("reduction_ppm"))
          .orderBy(col("n_frames"))
      },
      oracle = Some(s"""
        WITH v AS (SELECT asset_id,
                          CAST(MAX(n_frames) AS BIGINT) AS n_frames,
                          CAST(MAX(w) AS BIGINT) AS w,
                          CAST(MAX(h) AS BIGINT) AS h,
                          list(frame_sum ORDER BY idx) AS frame_sums
                   FROM ${VerifyInputs.staged("_q228_input")}
                   GROUP BY asset_id),
        d AS (SELECT n_frames, w * h * n_frames AS px_before,
                     (n_frames + 2) // 3 AS frames_kept,
                     w * h * ((n_frames + 2) // 3) AS px_after,
                     CAST(list_sum(list_select(frame_sums,
                       generate_series(1, n_frames, 3))) AS BIGINT) AS kept_sum
              FROM v)
        SELECT n_frames, COUNT(*) AS n_assets,
               MAX(frames_kept) AS frames_kept,
               CAST(SUM(px_before) AS BIGINT) AS px_before,
               CAST(SUM(px_after) AS BIGINT) AS px_after,
               CAST(SUM(kept_sum) AS BIGINT) AS px_sum_after,
               (CAST(SUM(px_after) AS BIGINT) * 1000000)
                 // CAST(SUM(px_before) AS BIGINT) AS reduction_ppm
        FROM d GROUP BY n_frames ORDER BY n_frames""")),

    // ---- q230: image resize audit (decode → resample → re-encode) ----
    // Completes the multimodal gate set (decode q60, audio q208,
    // frame-sample q228): every image is nearest-neighbor resized to
    // 32×32 through the REAL ImageIO round-trip (decode, resample,
    // re-encode — then decoded AGAIN for the audit), grouped by source
    // geometry. The oracle re-aggregates the materialized per-asset
    // rows (the q60 pattern) EXCEPT `total_px`, which it DERIVES as
    // 1024·count instead of re-summing — a raster-size bug anywhere in
    // the resample/re-encode/decode chain breaks that column's hash.
    //
    // 100 TB posture: the whole chain is one partition-local typed
    // pass per asset; the rollup is |geometries| rows.
    "q230_resize_audit" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.functions._
        resizeAuditRows(spark, assetCount(dir))
          .groupBy(col("src_w"), col("src_h"))
          .agg(count(lit(1)).as("n_assets"),
            sum(col("out_bytes")).as("out_bytes"),
            sum(col("n_px")).as("total_px"),
            sum(col("px_sum")).as("px_sum"))
          .select(col("src_w").cast("long").as("src_w"),
            col("src_h").cast("long").as("src_h"), col("n_assets"),
            col("out_bytes"), col("total_px"), col("px_sum"))
          .orderBy(col("src_w"), col("src_h"))
      },
      oracle = Some(s"""
        WITH f AS (SELECT src_w, src_h, out_bytes, n_px, px_sum
                   FROM ${VerifyInputs.staged("_q230_input")})
        SELECT CAST(src_w AS BIGINT) AS src_w,
               CAST(src_h AS BIGINT) AS src_h,
               COUNT(*) AS n_assets,
               CAST(SUM(out_bytes) AS BIGINT) AS out_bytes,
               1024 * COUNT(*) AS total_px,
               CAST(SUM(px_sum) AS BIGINT) AS px_sum
        FROM f GROUP BY 1, 2 ORDER BY src_w, src_h""")),

    // ---- q234: perceptual-hash image near-dup (dHash, round 9) ----
    // Real dHash over the real decoded rasters ([[Multimodal.dHash64]]):
    // 9×8 NN downsample, one bit per horizontal gradient. Candidates by
    // 16-bit band collision (pigeonhole covers Hamming ≤ 3; planted
    // geometric copies hash IDENTICALLY), verified by popcount(xor) ≤ 6.
    // The corpus plants an exact-2× upscaled copy of every 8th image —
    // the transform dHash is designed to survive; keystream rasters are
    // otherwise adversarial noise, so chance pairs are provably absent
    // (P[Hamming ≤ 6] ≈ 6e-11 per random pair). Oracle pattern as
    // q60/q208: Verify materializes the per-asset hashes (`_q234_input`)
    // and DuckDB independently re-runs banding, candidate join, and the
    // Hamming verify — the banded-join pipeline is value-checked; the
    // hash kernel itself is spec-pinned (MultimodalSpec planted hashes).
    //
    // 100 TB posture: decode + hash are one partition-local pass; the
    // band equijoin shuffles 16 bytes per candidate row; no all-pairs
    // stage exists in the plan (guarded).
    "q234_phash_neardup" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.nearDupByPHash(phashRows(spark, assetCount(dir)),
          maxHamming = 6),
      oracle = Some(s"""
        WITH h AS (SELECT asset_id, dhash
                   FROM ${VerifyInputs.staged("_q234_input")}),
        b AS (SELECT asset_id, dhash, i AS band,
                     (dhash >> (i * 16)) & 65535 AS bv
              FROM h, LATERAL (SELECT unnest([0, 1, 2, 3]) AS i) t),
        c AS (SELECT DISTINCT a.asset_id AS id_a, b2.asset_id AS id_b,
                     a.dhash AS da, b2.dhash AS db
              FROM b a JOIN b b2 ON a.band = b2.band AND a.bv = b2.bv
                                AND a.asset_id < b2.asset_id)
        SELECT id_a, id_b, CAST(bit_count(xor(da, db)) AS BIGINT)
                 AS hamming
        FROM c WHERE bit_count(xor(da, db)) <= 6 ORDER BY id_a, id_b""")),

    // ---- q248: frame-level VAD / silence segmentation (round 9) ----
    // The silence screen a speech-corpus curation pass runs before
    // keeping an utterance: 10 ms frames over REAL decoded PCM, a frame
    // silent iff its integer energy Σs² < 160·1e6, per-asset voiced
    // RUN-LENGTH stats (segment count, longest voiced run) computed
    // IN-ROW during the single decode pass. The evaluation corpus
    // plants the silence deterministically (chunk c of asset a
    // attenuated >> 6 iff (a+c) % 3 == 0 — through a real decode →
    // attenuate → re-encode round-trip), and MultimodalSpec pins
    // detection exactly to the planted mask. The oracle re-derives the
    // segmentation INDEPENDENTLY from the materialized per-frame
    // energies (`_q248_input`) by SQL gaps-and-islands — a different
    // algorithm over the same frames; run-length state never leaves
    // the row on the Spark side.
    //
    // 100 TB posture: decode + frame loop are one partition-local pass
    // (payloads never shuffle); the rollup is |duration classes| rows.
    "q248_audio_vad" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.vadProfile(spark, assetCount(dir)),
      oracle = Some(s"""
        WITH f AS (SELECT asset_id, frame_idx, energy
                   FROM ${VerifyInputs.staged("_q248_input")}),
        v AS (SELECT asset_id, frame_idx,
                     CASE WHEN energy < 160000000 THEN 1 ELSE 0 END AS silent
              FROM f),
        runs AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS run_len FROM (
                   SELECT asset_id, frame_idx,
                          frame_idx - ROW_NUMBER() OVER (
                            PARTITION BY asset_id ORDER BY frame_idx) AS grp
                   FROM v WHERE silent = 0)
                 GROUP BY asset_id, grp),
        seg AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
                       CAST(MAX(run_len) AS BIGINT) AS longest_run
                FROM runs GROUP BY asset_id),
        pa AS (SELECT asset_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                      CAST(SUM(silent) AS BIGINT) AS n_silent
               FROM v GROUP BY 1),
        j AS (SELECT pa.asset_id, pa.n_frames, pa.n_silent,
                     CAST(COALESCE(seg.n_segments, 0) AS BIGINT) AS n_segments,
                     CAST(COALESCE(seg.longest_run, 0) AS BIGINT) AS longest_run
              FROM pa LEFT JOIN seg USING (asset_id))
        SELECT n_frames, COUNT(*) AS n_assets,
               CAST(SUM(n_silent) AS BIGINT) AS total_silent,
               CAST(SUM(n_segments) AS BIGINT) AS total_segments,
               CAST(MAX(longest_run) AS BIGINT) AS max_voiced_run,
               (CAST(SUM(n_silent) AS BIGINT) * 1000000)
                 // CAST(SUM(n_frames) AS BIGINT) AS silence_ppm
        FROM j GROUP BY n_frames ORDER BY n_frames""")),

    // ---- q249: video shot-boundary detection (round 9) ----
    // The scene segmentation a video curation pass runs before sampling
    // clips: consecutive-frame integer mean-absolute difference over
    // REAL decoded GIF frames, a cut where Σ|Δpx| > 32·w·h, per-asset
    // shot count / longest shot / keyframe (argmax diff, ties →
    // smallest index) computed IN-ROW during the single decode pass.
    // The evaluation corpus plants the shots deterministically (frame i
    // replaced by frame i − i % hold, hold = 2 + asset_id % 3, through
    // a real decode → re-encode round-trip), and MultimodalSpec pins
    // detection exactly to the planted cut set. The oracle re-derives
    // the segmentation INDEPENDENTLY from the materialized per-pair
    // diffs (`_q249_input`) by a windowed boundary-prefix-sum — a
    // different algorithm over the same diffs.
    //
    // 100 TB posture: decode + diff loop are one partition-local pass
    // (frames never shuffle); the rollup is |frame-count classes| rows.
    "q249_shot_boundaries" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.shotProfile(spark, assetCount(dir)),
      oracle = Some(s"""
        WITH d AS (SELECT asset_id, CAST(n_frames AS BIGINT) AS n_frames,
                          CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
                          CAST(idx AS BIGINT) AS i,
                          CAST(diff AS BIGINT) AS dv
                   FROM ${VerifyInputs.staged("_q249_input")}),
        v AS (SELECT asset_id, MAX(n_frames) AS n_frames
              FROM d GROUP BY asset_id),
        b AS (SELECT asset_id, i,
                     CASE WHEN dv > w * h * 32 THEN 1 ELSE 0 END AS bnd
              FROM d),
        fr AS (SELECT v.asset_id, v.n_frames, t.f
               FROM v, LATERAL (SELECT unnest(generate_series(0,
                 CAST(v.n_frames - 1 AS INT))) AS f) t),
        fb AS (SELECT fr.asset_id, fr.n_frames, fr.f,
                      COALESCE(b.bnd, 0) AS bnd
               FROM fr LEFT JOIN b
                 ON b.asset_id = fr.asset_id AND b.i = fr.f),
        sid AS (SELECT asset_id, n_frames, f,
                       SUM(bnd) OVER (PARTITION BY asset_id
                         ORDER BY f) AS shot
                FROM fb),
        shots AS (SELECT asset_id, MAX(n_frames) AS n_frames, shot,
                         CAST(COUNT(*) AS BIGINT) AS len
                  FROM sid GROUP BY asset_id, shot),
        pa AS (SELECT asset_id, MAX(n_frames) AS n_frames,
                      CAST(COUNT(*) AS BIGINT) AS n_shots,
                      CAST(MAX(len) AS BIGINT) AS longest
               FROM shots GROUP BY asset_id),
        kf AS (SELECT asset_id, CAST(i AS BIGINT) AS keyframe FROM (
                 SELECT asset_id, i, ROW_NUMBER() OVER (
                   PARTITION BY asset_id ORDER BY dv DESC, i) AS rn
                 FROM d) WHERE rn = 1)
        SELECT n_frames, COUNT(*) AS n_assets,
               CAST(SUM(n_shots) AS BIGINT) AS total_shots,
               CAST(MAX(longest) AS BIGINT) AS max_longest_shot,
               CAST(SUM(keyframe) AS BIGINT) AS keyframe_sum
        FROM pa JOIN kf USING (asset_id)
        GROUP BY n_frames ORDER BY n_frames""")),

    // ---- q267: 2:1 audio resample through a real codec round trip ----
    // The sample-rate-conversion transform every speech pipeline runs
    // before a fixed-rate model (16 kHz → 8 kHz here): decode, average
    // adjacent sample pairs (arithmetic-shift floor — exact integers),
    // re-encode through the REAL JDK WAVE writer at half the rate, then
    // decode the RESULT again and measure (the q228 round-trip rigor —
    // a header bug, a dropped byte, or lossiness anywhere breaks the
    // certificates). In-data certificates: every asset's round-tripped
    // length must equal ns_in div 2 and its rate must be exactly
    // halved (both mismatch counters must read 0); the physics check is
    // energy_ratio_ppm ≈ 250000 — pair averaging halves white-noise
    // PER-SAMPLE energy and the sample count halves too (measured
    // 249815–250064 at sf0.1). Oracle pattern as q208: Verify materializes the per-asset
    // measurements (`_q267_input`), DuckDB re-aggregates the profile
    // and certificates over identical rows; the kernel is spec-pinned
    // (MultimodalSpec planted-PCM resample).
    //
    // 100 TB posture: decode → decimate → encode → decode is one
    // partition-local pass per asset (payloads never shuffle); the
    // profile agg is |duration classes| rows.
    "q267_audio_resample" -> QueryDef(
      build = (spark, dir) =>
        Multimodal.resampleProfile(spark, assetCount(dir)),
      oracle = Some(s"""
        WITH f AS (SELECT * FROM
          ${VerifyInputs.staged("_q267_input")})
        SELECT n_chunks, COUNT(*) AS n_assets,
               CAST(SUM(ns_in) AS BIGINT) AS in_samples,
               CAST(SUM(ns_out) AS BIGINT) AS out_samples,
               CAST(CAST(SUM(sum_sq_out) AS HUGEINT) * 1000000
                 // CAST(SUM(sum_sq_in) AS HUGEINT) AS BIGINT)
                 AS energy_ratio_ppm,
               MAX(max_abs_out) AS peak_out,
               CAST(SUM(CASE WHEN ns_out <> ns_in // 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_len_mismatch,
               CAST(SUM(CASE WHEN rate_out * 2 <> rate_in THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_rate_mismatch
        FROM f GROUP BY n_chunks ORDER BY n_chunks""")),

    // ---- q342: Goertzel tone-detection battery (REAL codec) ----
    // The single-bin DFT probe a speech/calibration pipeline runs when
    // a full FFT is waste (k probe bins ≪ window): pure sines planted
    // at each of 8 bins (StrictMath PCM — bit-reproducible), pushed
    // through the REAL JDK WAV writer and reader, then probed with the
    // Goertzel recurrence at all 8 bins. The card certifies per bin:
    // every detection lands on the planted bin and the worst
    // second/top power leak stays far from ambiguous (the codec
    // round-trip would smear a broken writer/reader straight into
    // these numbers). Oracle pattern as q208/q267: Verify materializes
    // the per-asset rows (`_q342_input`), DuckDB re-aggregates over
    // identical inputs; the kernel is spec-pinned (FastCodecSpec
    // golden tone).
    //
    // 100 TB posture: synth → encode → decode → 8 probes is one
    // partition-local pass per asset (payloads never shuffle); the
    // rollup is 8 rows.
    "q342_goertzel_tones" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.functions._
        Multimodal.toneRows(spark, assetCount(dir))
          .groupBy(col("planted_bin"))
          .agg(count(lit(1)).as("n_assets"),
            sum(when(col("detected_bin") === col("planted_bin"), 1L)
              .otherwise(0L)).as("n_correct"),
            max(col("leak_ppm")).as("max_leak_ppm"))
          .select(col("planted_bin"), col("n_assets"), col("n_correct"),
            expr("n_correct * 1000000 div n_assets").as("accuracy_ppm"),
            col("max_leak_ppm"))
          .orderBy(col("planted_bin"))
      },
      oracle = Some(s"""
        WITH f AS (SELECT * FROM
          ${VerifyInputs.staged("_q342_input")})
        SELECT planted_bin, CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(SUM(CASE WHEN detected_bin = planted_bin
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN detected_bin = planted_bin
                 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
                 AS accuracy_ppm,
               MAX(leak_ppm) AS max_leak_ppm
        FROM f GROUP BY planted_bin ORDER BY planted_bin""")),

    // ---- q350: media dead-letter quarantine law (round 13) ----
    // VERDICT r12 "What's wrong #2": at 100 TB corrupt assets are a
    // statistical certainty — one bad byte-string must QUARANTINE with
    // a reason, never kill the task (the q329 JSON dead-letter law,
    // applied to media decode). The fixture plants deterministic
    // corruption over every 17th asset, cycling three classes (truncate
    // at half / flip the magic bytes / lying header dims-or-length),
    // then runs the accounted decode ([[Multimodal.screenedStats]]:
    // header screen → codec under NonFatal capture → metadata-content
    // consistency) and profiles per (kind, verdict): counts + integer
    // content stats of everything that decoded clean.
    //
    // The ORACLE derives the EXPECTED verdict of every asset from the
    // planting arithmetic alone (kind = id%3, class = (id/17/3)%3 —
    // pure id arithmetic DuckDB replays independently); the engine groups by
    // its ACTUAL verdicts. Any asset the engine misclassifies — a
    // corrupt payload that crashed instead of quarantining, a lying
    // header that reached an allocator, a good asset wrongly rejected —
    // shifts a group count/sum and hash-mismatches. Content stats of
    // clean assets re-aggregate from the staged per-asset rows
    // (`_q350_input`, the q60 pattern); the codecs themselves stay
    // spec-pinned (FastCodecSpec + MediaQuarantineSpec).
    //
    // 100 TB posture: screen + decode + verdict is one partition-local
    // pass (payloads never shuffle); the rollup is |kind × reason|
    // rows. The header screen is what makes the law SAFE at scale: a
    // lying 65535×65535 descriptor is rejected by u16 arithmetic before
    // ANY allocator (including ImageIO's) sees it.
    "q350_media_quarantine" -> QueryDef(
      build = (spark, dir) => {
        import org.apache.spark.sql.functions._
        Multimodal.screenedStats(Multimodal.withPlantedCorruption(
          Multimodal.syntheticAssets(spark, assetCount(dir)),
          everyNth = 17L))
          .toDF()
          .groupBy(col("kind"), col("reason"))
          .agg(count(lit(1)).as("n_assets"),
            sum(col("n_samples")).as("total_samples"),
            sum(col("sample_sum")).as("total_sample_sum"))
          .orderBy(col("kind"), col("reason"))
      },
      oracle = Some(s"""
        WITH f AS (SELECT asset_id, n_samples, sample_sum
                   FROM ${VerifyInputs.staged("_q350_input")}),
        e AS (SELECT CASE asset_id % 3 WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     CASE WHEN asset_id % 17 <> 0 THEN 'ok'
                          WHEN (asset_id // 17 // 3) % 3 = 2
                            AND asset_id % 3 <> 1 THEN 'oversized_dims'
                          ELSE 'corrupt_payload' END AS reason,
                     n_samples, sample_sum
              FROM f)
        SELECT kind, reason, CAST(COUNT(*) AS BIGINT) AS n_assets,
               CAST(SUM(n_samples) AS BIGINT) AS total_samples,
               CAST(SUM(sample_sum) AS BIGINT) AS total_sample_sum
        FROM e GROUP BY 1, 2 ORDER BY 1, 2"""))
  )
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for the training-data pipeline.
  *
  * Media travels as an opaque `binary` column plus a typed metadata struct —
  * the only layout that scales: payloads stay in parquet, never in driver
  * memory, and all per-asset work runs as partition-local iterator
  * transforms (`mapPartitions` over a typed Dataset — the Scala-native
  * equivalent of a batched Pandas UDF: one JVM-side batch per partition, no
  * per-row closure dispatch, no serialization across a Python boundary).
  *
  * ── CODEC BOUNDARY ─────────────────────────────────────────────────────
  * ALL THREE ARMS ARE REAL as of round 9 — no stub codec remains.
  * IMAGES (round 7): actual PNGs decoded by the JDK's own `javax.imageio`
  * codec ([[ImageCodec]]). AUDIO (round 8): actual WAV containers
  * (RIFF/WAVE, 16-bit mono PCM) through the JDK's `javax.sound.sampled`
  * codec ([[AudioCodec]]). VIDEO (round 9): actual multi-frame ANIMATED
  * GIFs decoded frame-by-frame by the JDK's ImageIO GIF codec
  * ([[VideoCodec]]) — the JDK's one genuinely multi-frame container
  * format, so "video" = a real decode loop over real codec frames with
  * zero external jars. Every arm is partition-local pure byte-array
  * functions; swapping the GIF arm for a JNI H.264 codec changes no plan
  * shape, schema, or operator contract.
  * ───────────────────────────────────────────────────────────────────────
  */
object Multimodal {

  final case class MediaMeta(
      kind: String,       // image | audio | video
      format: String,     // fake container tag
      width: Int,         // image/video frame width (px)
      height: Int,
      sampleRate: Int,    // audio only (Hz)
      nFrames: Int)       // video frame count / audio chunk count

  final case class MediaAsset(asset_id: Long, meta: MediaMeta, payload: Array[Byte])

  final case class MediaFeatures(
      asset_id: Long, kind: String, n_bytes: Int,
      feature: Array[Float]) // fixed-dim feature vector (histogram stub)

  // ---- deterministic synthetic corpus --------------------------------

  /** Deterministic media corpus keyed by id — image payloads are REAL
    * PNGs (keystream pixels through the JDK encoder), audio/video are a
    * xxhash64 keystream, so any executor regenerates identical assets
    * (no driver materialization; scales to any n). */
  def syntheticAssets(spark: SparkSession, n: Long, seed: Long = 42L,
      numPartitions: Int = 0): Dataset[MediaAsset] = {
    import spark.implicits._
    // numPartitions > 0 pre-partitions the ID RANGE (no shuffle at all)
    // so a caller that needs a specific output layout — the staging
    // write below — never round-robins generated PAYLOADS through an
    // exchange (round 16: the staging repartition(64) shuffled ~1 GB of
    // encoded assets once per fresh host, guide §2.3 "shuffle keys, not
    // payloads"; partitioning the 8-byte ids before generation is free)
    val ids = if (numPartitions > 0) spark.range(0L, n, 1L, numPartitions)
      else spark.range(n)
    ids.mapPartitions(_.map { id =>
      val kind = (id % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val meta = kind match {
        case "image" => MediaMeta(kind, "png", 64 + (id % 4).toInt * 32,
          64 + (id % 3).toInt * 32, 0, 1)
        case "audio" => MediaMeta(kind, "wav", 0, 0, 16000, 4 + (id % 4).toInt)
        case _       => MediaMeta(kind, "gif", 64, 64, 0, 8 + (id % 8).toInt)
      }
      val payload = kind match {
        case "image" => ImageCodec.encodePng(id, seed, meta.width, meta.height)
        // nFrames 10 ms chunks at sampleRate Hz, 16-bit mono
        case "audio" => AudioCodec.encodeWav(id, seed, meta.sampleRate,
          meta.sampleRate / 100 * meta.nFrames)
        case _ => VideoCodec.encodeGif(id, seed, meta.width, meta.height,
          meta.nFrames)
      }
      MediaAsset(id, meta, payload)
    })
  }

  /** Parquet-staged synthetic corpus: synthesis (the ENCODE half —
    * fixture generation, not engine work) runs ONCE per (n, seed) into a
    * local staging dir; later calls read the staged payloads back, so a
    * benched decode pass measures the engine rather than the generator
    * (BENCH_r09's q60 carried ~0.35 ms/asset of GIF encoding that no
    * production scan pays — payloads arrive from storage there, exactly
    * as they do here). Staging is atomic: write to a fresh temp dir,
    * rename into place; a concurrent JVM at worst stages twice and the
    * loser deletes its copy — readers only ever see a complete corpus. */
  /** Staging root: prefer RAM-backed /dev/shm (tmpfs) over java.io.tmpdir.
    * The benched q60 scan reads ~1 GB of incompressible payloads from this
    * dir; on a disk-backed /tmp the scan's cost is whatever the host's
    * page cache and co-tenant I/O happen to be that minute — the r10/r11
    * driver rounds read q60 at 2.1–2.5× its row on byte-identical plans
    * purely from that. tmpfs makes the staged fixture memory-resident by
    * construction, so the timed span measures the engine (parquet read +
    * real codec decode + featurize), not disk weather. The decode is the
    * work; the scan still runs the full parquet path. */
  def stageRoot: java.nio.file.Path = {
    // free-space-gated tmpfs choice (round 16, ADVICE r15 #1 applied to
    // every tmpfs chooser): a 64 MB container /dev/shm cannot hold a
    // ~1 GB staged corpus — fall back to java.io.tmpdir below headroom
    val base =
      if (graft.core.DirIO.tmpfsUsable()) java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    base.resolve("graft-media-stage")
  }

  def stagedAssets(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[MediaAsset] = {
    import spark.implicits._
    import java.nio.file.{Files, StandardCopyOption}
    val root = stageRoot
    // Dir name carries the layout version (round 16): rg8m = 8 MB parquet
    // row groups, so a pre-existing 128 MB-row-group staging from an older
    // build is never half-reused.
    val dest = root.resolve(s"n${n}_s${seed}_rg8m")
    if (!Files.exists(dest.resolve("_SUCCESS"))) {
      Files.createDirectories(root)
      val tmp = Files.createTempDirectory(root, s"n${n}_s${seed}_tmp")
      // 64 output files: enough read-splits for 32 executor threads even
      // though payload rows are KB-sized and row-group packing is dense
      // uncompressed: payloads are codec output (PNG zlib / WAV PCM
      // keystream / GIF LZW) — snappy recovers nothing and its decode
      // tax lands on every later scan of the staged corpus.
      // 8 MB ROW GROUPS (round 16, VERDICT r15 #1b — make the decode scan
      // core-count-safe by construction): the vectorized parquet reader
      // materializes one row group's binary column per task batch, so
      // with the default 128 MB block size a 10× corpus put ~16 MB of
      // payload bytes per in-flight batch × 32 concurrent tasks (the r12
      // sf1 rehearsal OOM'd an 8g heap in exactly this reader). Bounding
      // the row group bounds in-flight scan memory at ANY core count
      // (32 × 8 MB = 256 MB worst case) without touching what any query
      // computes — same rows, same order within files.
      syntheticAssets(spark, n, seed, numPartitions = 64)
        .write.mode("overwrite").option("compression", "none")
        .option("parquet.block.size", (8L << 20).toString)
        .parquet(tmp.toString)
      try Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        // another staging won the race — keep theirs, drop ours
        graft.core.DirIO.deleteRecursively(tmp)
      }
    }
    // the encoder's schema is the staged files' schema (they are written
    // from a Dataset[MediaAsset]), so the read runs no inference job
    spark.read.schema(Encoders.product[MediaAsset].schema)
      .parquet(dest.toString).as[MediaAsset]
  }

  /** JIT-prime the media codec hot paths (round 16, VERDICT r15 #7):
    * the first executions of the multimodal gates used to pay
    * interpreter/C1-era codec cost (measured at sf0.01: q60 10.7 s cold
    * vs 0.5 s warm, ~17 s summed across the family — exactly what a
    * cold Verify pays once per gate). A tight loop over TINY synthetic
    * payloads drives every encode/decode hot loop through enough
    * iterations for the JIT to compile them before any timed or
    * wall-accounted work runs. Pure warmup: inputs are synthesized
    * in-process (nothing read from the data dir), results are discarded
    * through a live sink, and no state survives beyond compiled code. */
  def preJitCodecs(iters: Int = 200): Long = {
    var i = 0
    var sink = 0L
    while (i < iters) {
      val png = ImageCodec.encodePng(i.toLong, 1L, 16, 16)
      sink += ImageCodec.decode(png).gray.length
      val wav = AudioCodec.encodeWav(i.toLong, 1L, 16000, 320)
      val da = AudioCodec.decode(wav)
      var j = 0
      while (j < da.nSamples) { sink += da.sample(j); j += 1 }
      val gif = VideoCodec.encodeGif(i.toLong, 1L, 16, 16, 2)
      sink += VideoCodec.decode(gif).flat.length
      i += 1
    }
    sink // returned so the loop cannot be dead-code-eliminated
  }

  // ---- operators (partition-local, batch-shaped) ---------------------

  /** Decode + feature-extract in one partition pass: 256-bin histogram of
    * decoded pixel/sample values, normalized to unit L1. Every arm runs
    * its REAL JDK codec (ImageIO PNG, WAVE PCM, ImageIO animated GIF).
    * Real pipelines put the expensive codec call exactly here, amortized
    * per partition. */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val hist = new Array[Int](256) // reused per partition — no per-row alloc
      it.map { a =>
        java.util.Arrays.fill(hist, 0)
        val decoded = a.meta.kind match {
          case "image" => ImageCodec.decode(a.payload).gray
          case "audio" => AudioCodec.decode(a.payload).pcm
          case _       => VideoCodec.decode(a.payload).flat
        }
        var i = 0
        while (i < decoded.length) { hist(decoded(i) & 0xff) += 1; i += 1 }
        val total = math.max(decoded.length, 1).toFloat
        MediaFeatures(a.asset_id, a.meta.kind, a.payload.length,
          hist.map(_ / total))
      }
    }
  }

  // ---- accounted decode: the media dead-letter law (round 13) --------
  //
  // At 100 TB corrupt assets are a statistical certainty; one bad
  // byte-string must quarantine, never kill the task (VERDICT r12
  // "What's wrong #2" — the q329 JSON dead-letter pattern applied to
  // media decode). Two-layer defense:
  //   1. HEADER SCREEN: parse the container's self-declared dimensions
  //      CHEAPLY (no allocation) and reject anything whose raster claim
  //      exceeds [[MediaDecoders.MaxRasterSamples]] — a lying header
  //      must never reach ANY allocator, including ImageIO's (the fast
  //      paths already bail to None, but the ImageIO fallback would
  //      happily allocate a 4 GB raster from a 65535×65535 lie).
  //   2. ACCOUNTED DISPATCH: the codec call runs under NonFatal capture
  //      plus metadata-vs-content consistency checks (decoded dims ==
  //      meta dims; decoded frame count == meta count; PCM bytes ==
  //      the WAV header's own declared length — the JDK WAVE reader
  //      returns SHORT data without erroring on a truncated payload).
  // Verdicts are deliberately coarse (two reasons) so they are
  // deterministic across codecs and replayable by the q350 oracle.

  /** Header claims a raster larger than the engine decodes. */
  val ReasonOversized = "oversized_dims"
  /** Any decode failure / truncation / metadata-content mismatch. */
  val ReasonCorrupt = "corrupt_payload"
  /** Decoded clean. */
  val ReasonOk = "ok"

  /** Cheap, allocation-free screen of the container's self-declared
    * dimensions. Returns Some(reason) only for a PROVEN oversized
    * claim; any parse confusion returns None and the accounted decode
    * classifies the asset instead. */
  def headerScreen(kind: String, p: Array[Byte]): Option[String] = kind match {
    case "image" => pngDimsScreen(p)
    case "video" => gifDimsScreen(p)
    case _       => None // WAV: length claims are checked post-decode
  }

  private def pngDimsScreen(p: Array[Byte]): Option[String] = {
    if (p.length < 33 || (p(0) & 0xff) != 0x89 || p(1) != 'P') return None
    def be32(off: Int): Long =
      ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xff) << 16) |
        ((p(off + 2) & 0xff) << 8) | (p(off + 3) & 0xff)
    // Only trust the dim bytes if the first chunk really is a 13-byte
    // IHDR — otherwise offsets 16/20 are garbage and the asset must be
    // classified by the accounted decode, not mislabeled oversized
    // (ADVICE r13).
    if (be32(8) != 13L || p(12) != 'I' || p(13) != 'H' ||
      p(14) != 'D' || p(15) != 'R') return None
    val w = be32(16)
    val h = be32(20)
    if (w > 0 && h > 0 && (w * h > MediaDecoders.MaxRasterSamples ||
      (w + 1) * h > Int.MaxValue - 16)) Some(ReasonOversized)
    else None
  }

  /** Walk the GIF block structure (skipping LZW data) and check every
    * frame descriptor's u16 dims against the raster cap. */
  private def gifDimsScreen(p: Array[Byte]): Option[String] = {
    if (p.length < 13 || p(0) != 'G' || p(1) != 'I' || p(2) != 'F') return None
    try {
      var pos = 6
      def u8: Int = { val v = p(pos) & 0xff; pos += 1; v }
      def u16: Long = {
        val v = (p(pos) & 0xffL) | ((p(pos + 1) & 0xffL) << 8); pos += 2; v
      }
      val sw = u16; val sh = u16
      if (sw * sh > MediaDecoders.MaxRasterSamples) return Some(ReasonOversized)
      val packed = u8
      pos += 2
      if ((packed & 0x80) != 0) pos += 3 * (2 << (packed & 7))
      var guard = 0
      while (guard < 4096) {
        guard += 1
        (u8: @annotation.switch) match {
          case 0x3b => return None
          case 0x21 =>
            u8
            var len = u8
            while (len != 0) { pos += len; len = u8 }
          case 0x2c =>
            u16; u16
            val fw = u16; val fh = u16
            if (fw * fh > MediaDecoders.MaxRasterSamples)
              return Some(ReasonOversized)
            val fp = u8
            if ((fp & 0x80) != 0) pos += 3 * (2 << (fp & 7))
            u8 // LZW min code size
            var len = u8
            while (len != 0) { pos += len; len = u8 }
          case _ => return None // unknown block: let the decode classify
        }
      }
      None
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Does the payload's container signature match the format its
    * metadata declares? Cheap and decisive — SOME JDK codecs skip
    * signature validation when driven directly (the GIF ImageReader
    * happily parses past a flipped magic because format selection
    * normally happens in the SPI sniff we bypass for speed), so the
    * accounted path must own this check. Unknown formats make no
    * claim. */
  private def magicMatches(format: String, p: Array[Byte]): Boolean =
    format match {
      case "png" => p.length > 4 && (p(0) & 0xff) == 0x89 &&
        p(1) == 'P' && p(2) == 'N' && p(3) == 'G'
      case "gif" => p.length > 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F'
      case "wav" => p.length > 4 && p(0) == 'R' && p(1) == 'I' &&
        p(2) == 'F' && p(3) == 'F'
      case _ => true
    }

  /** Screen + decode + consistency-check one asset: Right(decoded
    * samples) or Left(coarse reason). Never throws on payload content. */
  def decodeScreened(a: MediaAsset): Either[String, Array[Byte]] = {
    if (!magicMatches(a.meta.format, a.payload)) return Left(ReasonCorrupt)
    headerScreen(a.meta.kind, a.payload) match {
      case Some(reason) => return Left(reason)
      case None         =>
    }
    try {
      a.meta.kind match {
        case "image" =>
          val d = ImageCodec.decode(a.payload)
          if (d.width != a.meta.width || d.height != a.meta.height)
            Left(ReasonCorrupt)
          else Right(d.gray)
        case "audio" =>
          val d = AudioCodec.decode(a.payload)
          if (d.declaredBytes >= 0 && d.pcm.length < d.declaredBytes)
            Left(ReasonCorrupt) // short read: truncated behind a full-size header
          else Right(d.pcm)
        case _ =>
          val d = VideoCodec.decode(a.payload)
          if (d.frames.length != a.meta.nFrames) Left(ReasonCorrupt)
          else Right(d.flat)
      }
    } catch { case scala.util.control.NonFatal(_) => Left(ReasonCorrupt) }
  }

  /** Per-asset accounted decode verdicts + integer content stats (count
    * and unsigned sum of decoded samples — bit-deterministic, so the
    * gate hashes them). One partition-local pass; payloads never
    * shuffle; rejects carry zeroed stats and their reason. */
  final case class MediaScreened(asset_id: Long, kind: String, n_bytes: Int,
      reason: String, n_samples: Long, sample_sum: Long)

  def screenedStats(assets: Dataset[MediaAsset]): Dataset[MediaScreened] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      decodeScreened(a) match {
        case Right(samples) =>
          var s = 0L
          var i = 0
          while (i < samples.length) { s += (samples(i) & 0xff); i += 1 }
          MediaScreened(a.asset_id, a.meta.kind, a.payload.length,
            ReasonOk, samples.length.toLong, s)
        case Left(reason) =>
          MediaScreened(a.asset_id, a.meta.kind, a.payload.length,
            reason, 0L, 0L)
      }
    })
  }

  // ---- deterministic corruption planting (q350 fixture) --------------

  /** Corrupt every `everyNth` asset, cycling three corruption classes:
    * 0 = truncate at half (header survives, data doesn't), 1 = flip the
    * magic bytes (no codec claims it), 2 = lying header (dims/length
    * claims the content can't honor). Pure byte transforms keyed on
    * asset_id — any executor plants identical corruption, and the q350
    * oracle replays the class arithmetic independently.
    *
    * The class cycle is ((id/everyNth)/3)%3, period NINE in the planted
    * index — NOT %3, which would lock class to kind: with kind = id%3
    * and id = everyNth·k, (everyNth·k)%3 has the same period-3 phase as
    * k%3 whenever everyNth ⊥ 3, so each kind would only ever see ONE
    * class (found when the first gate run produced 6 groups instead of
    * all 9 kind×class combos). */
  def withPlantedCorruption(assets: Dataset[MediaAsset],
      everyNth: Long): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      if (a.asset_id % everyNth != 0L) a
      else (a.asset_id / everyNth / 3 % 3) match {
        case 0 =>
          a.copy(payload =
            java.util.Arrays.copyOf(a.payload, a.payload.length / 2))
        case 1 =>
          val p = a.payload.clone()
          var i = 0
          while (i < 4 && i < p.length) { p(i) = (p(i) ^ 0xff).toByte; i += 1 }
          a.copy(payload = p)
        case _ =>
          a.copy(payload = lyingHeader(a.meta.kind, a.payload))
      }
    })
  }

  /** Class-2 corruption: a header whose size claims the content cannot
    * honor. Images/videos lie about dims (caught by the header screen
    * BEFORE any allocator); audio lies about PCM length (caught by the
    * post-decode declared-vs-actual check). */
  private[operators] def lyingHeader(kind: String, p: Array[Byte]): Array[Byte] =
    kind match {
      case "image" =>
        val q = p.clone()
        def be32(off: Int, v: Int): Unit = {
          q(off) = (v >>> 24).toByte; q(off + 1) = (v >>> 16).toByte
          q(off + 2) = (v >>> 8).toByte; q(off + 3) = v.toByte
        }
        be32(16, 1)
        be32(20, 0x7ffffff0)
        val crc = new java.util.zip.CRC32()
        crc.update(q, 12, 17)
        be32(29, crc.getValue.toInt) // valid CRC: the DIM claim is the lie
        q
      case "video" =>
        val q = p.clone()
        // frame descriptor sits right after the fixed 256-entry GCT in
        // [[VideoCodec.encodeGrayGif]]'s layout: 6 header + 7 screen +
        // 768 palette, then 0x2c left(2) top(2) fw(2) fh(2)
        val d = 6 + 7 + 768
        // Fixture code: a layout drift in encodeGrayGif must fail HERE,
        // loudly — silently returning the clean payload would turn the
        // class-2 video plants into no-ops and fail the q350 gate with
        // a symptom far from this cause (ADVICE r13).
        require(q.length > d + 9 && (q(d) & 0xff) == 0x2c,
          s"lyingHeader: GIF frame descriptor not at offset $d — " +
            "encodeGrayGif layout changed?")
        q(d + 5) = -1; q(d + 6) = -1 // fw = 65535
        q(d + 7) = -1; q(d + 8) = -1 // fh = 65535
        q
      case _ =>
        val q = p.clone()
        // find the RIFF data chunk tag in the header region and double
        // its declared size — the reader will promise PCM that isn't
        // there
        var i = 12
        var done = false
        while (!done && i + 8 < math.min(q.length, 128)) {
          if (q(i) == 'd' && q(i + 1) == 'a' && q(i + 2) == 't' &&
            q(i + 3) == 'a') {
            val sz = (q(i + 4) & 0xffL) | ((q(i + 5) & 0xffL) << 8) |
              ((q(i + 6) & 0xffL) << 16) | ((q(i + 7) & 0xffL) << 24)
            val lie = math.min(sz * 2, Int.MaxValue.toLong)
            q(i + 4) = lie.toByte; q(i + 5) = (lie >> 8).toByte
            q(i + 6) = (lie >> 16).toByte; q(i + 7) = (lie >> 24).toByte
            done = true
          } else i += 1
        }
        q
    }

  /** Frame sampling for video assets: REAL codec round-trip — decode the
    * animated GIF, keep every `everyN`-th frame (0, N, 2N, …), re-encode
    * the survivors; non-video passes through untouched. The transform the
    * training pipeline runs before feature extraction to bound cost. */
  def sampleFrames(assets: Dataset[MediaAsset], everyN: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      if (a.meta.kind != "video" || a.meta.nFrames <= 1) a
      else {
        val d = VideoCodec.decode(a.payload)
        val kept = (0 until d.frames.length by everyN).map(d.frames).toArray
        a.copy(meta = a.meta.copy(nFrames = kept.length),
          payload = VideoCodec.encodeGrayGif(d.width, d.height, kept))
      }
    })
  }

  /** REAL image resize: decode the PNG, nearest-neighbor resample the
    * raster, re-encode — partition-local, deterministic (pure integer
    * index arithmetic, no rendering pipeline). Non-images pass through. */
  def resize(assets: Dataset[MediaAsset], w: Int, h: Int): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map { a =>
      if (a.meta.kind != "image") a
      else a.copy(meta = a.meta.copy(width = w, height = h),
        payload = ImageCodec.resizePng(a.payload, w, h))
    })
  }

  /** dHash — the classic 64-bit perceptual image hash (round 9, on the
    * REAL decoded raster): nearest-neighbor downsample to a 9×8 gray
    * grid, one bit per horizontal gradient (px[r][c+1] > px[r][c]).
    * Deterministic pure-integer resampling (the [[resize]] index
    * arithmetic), so geometrically-equivalent copies — re-encodes,
    * exact-multiple rescales — hash identically, and near-copies land
    * within a few bits. */
  def dHash64(gray: Array[Byte], w: Int, h: Int): Long = {
    var hash = 0L
    var bit = 0
    var r = 0
    while (r < 8) {
      val row = (r.toLong * h / 8).toInt * w
      var c = 0
      var prev = gray(row + (0L * w / 9).toInt) & 0xff
      while (c < 8) {
        val cur = gray(row + ((c + 1).toLong * w / 9).toInt) & 0xff
        if (cur > prev) hash |= (1L << bit)
        prev = cur
        bit += 1
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Plant geometric near-duplicates: an exact-2× nearest-neighbor
    * upscaled copy (new id = id + offset) of every image whose id ≡ 0
    * (mod everyNth). Exact-multiple NN rescales are dHash-invariant
    * (floor(floor(2a)/2) = floor(a) keeps the 9×8 sample grid on the
    * same source pixels), so these are the planted recalls q234 counts.
    * Partition-local: the copy is decoded/re-encoded where it lives. */
  def withUpscaledCopies(assets: Dataset[MediaAsset], everyNth: Long,
      offset: Long): Dataset[MediaAsset] = {
    import assets.sparkSession.implicits._
    assets.unionAll(assets
      .filter(a => a.meta.kind == "image" && a.asset_id % everyNth == 0)
      .mapPartitions(_.map { a =>
        a.copy(asset_id = a.asset_id + offset,
          meta = a.meta.copy(width = a.meta.width * 2,
            height = a.meta.height * 2),
          payload = ImageCodec.resizePng(a.payload,
            a.meta.width * 2, a.meta.height * 2))
      }))
  }

  /** Per-image perceptual hashes — decode + dHash in one partition-local
    * pass (non-images are filtered out; payloads never shuffle). */
  def imageHashes(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.filter(_.meta.kind == "image")
      .mapPartitions(_.map { a =>
        val d = ImageCodec.decode(a.payload)
        (a.asset_id, dHash64(d.gray, d.width, d.height))
      })
      .toDF("asset_id", "dhash")
  }

  /** Near-duplicate image pairs by banded perceptual hash: the 64-bit
    * dHash splits into four 16-bit bands; candidates collide on ≥1 band
    * (pigeonhole: any pair within Hamming ≤ 3 MUST share a band; planted
    * geometric copies hash identically so recall is exact), then the
    * cheap exact verify keeps pairs with popcount(xor) ≤ `maxHamming`.
    * Same candidates-then-verify shape as MinHash (q46): no all-pairs
    * stage, the band equijoin shuffles 16 bytes per candidate row. */
  def nearDupByPHash(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val banded = hashes.select(col("asset_id"), col("dhash"),
      explode(expr("array(0, 1, 2, 3)")).as("band"))
      .withColumn("bv", expr("shiftright(dhash, band * 16) & 65535"))
    val a = banded.select(col("band"), col("bv"),
      col("asset_id").as("id_a"), col("dhash").as("da"))
    val b = banded.select(col("band"), col("bv"),
      col("asset_id").as("id_b"), col("dhash").as("db"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(da ^ db)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-asset scalar feature rows (asset_id, kind, n_bytes, l2sq) — the
    * engine-specific values (codec + histogram) reduced to plain scalars.
    * Shared by [[featureProfile]] and the Verify-time materialization that
    * lets DuckDB re-aggregate the q60 profile over identical inputs.
    * Reads the [[stagedAssets]] corpus (identical payloads, staged once)
    * so the q60 headline times scan + decode + featurize — engine work
    * only, like any production media scan. */
  def featureRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    // l2sq in the typed pipeline (fuses with the decode kernel — no
    // interpreted Catalyst higher-order pass over 256-element arrays),
    // replicating the former HOF form bit-for-bit: float square, double
    // accumulate in array order, HALF_UP round at 9 dp (Catalyst Round)
    extractFeatures(stagedAssets(spark, n))
      .map { f =>
        var s = 0.0d
        var i = 0
        while (i < f.feature.length) {
          val p = f.feature(i) * f.feature(i); s += p; i += 1
        }
        (f.asset_id, f.kind, f.n_bytes,
          java.math.BigDecimal.valueOf(s)
            .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue())
      }
      .toDF("asset_id", "kind", "n_bytes", "l2sq")
  }

  /** Per-asset integer DSP stats over REAL decoded PCM — the audio
    * analysis a curation pipeline runs before filtering a speech corpus
    * (silence/noise screens): sample count, zero-crossing count (sign
    * changes between adjacent samples — the classic voicing/noise
    * discriminator), total energy (sum of squared 16-bit samples; fits a
    * long through ~2^33 samples per asset), and peak amplitude. All
    * integer arithmetic on decoded samples — no FP enters, so the rows
    * are bit-deterministic and DuckDB can re-aggregate them exactly.
    * Partition-local: decode + stats in one iterator pass, like
    * [[extractFeatures]]. */
  def audioStatRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    syntheticAssets(spark, n)
      .filter(_.meta.kind == "audio")
      .mapPartitions(_.map { a =>
        val d = AudioCodec.decode(a.payload)
        val ns = d.nSamples
        var zc = 0L
        var sumSq = 0L
        var maxAbs = 0L
        var prev = 0
        var i = 0
        while (i < ns) {
          val s = d.sample(i)
          sumSq += s.toLong * s.toLong
          val abs = math.abs(s.toLong)
          if (abs > maxAbs) maxAbs = abs
          if (i > 0 && ((s < 0 && prev >= 0) || (s >= 0 && prev < 0))) zc += 1
          prev = s
          i += 1
        }
        (a.asset_id, a.meta.nFrames.toLong, ns.toLong, zc, sumSq, maxAbs)
      })
      .toDF("asset_id", "n_chunks", "n_samples", "zero_crossings",
        "sum_sq", "max_abs")
  }

  /** Per-chunk-count audio profile over [[audioStatRows]] — grouped by
    * asset duration class (chunk count), all integer: zero-crossing rate
    * in ppm of adjacent-sample pairs, mean per-sample energy, peak. */
  def audioProfile(spark: SparkSession, n: Long): DataFrame =
    audioStatRows(spark, n)
      .groupBy(col("n_chunks"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("zero_crossings")).as("total_zc"),
        sum(col("sum_sq")).as("total_sq"),
        max(col("max_abs")).as("peak_abs"))
      .withColumn("zc_ppm",
        expr("(total_zc * 1000000) div (total_samples - n_assets)"))
      .withColumn("mean_energy",
        expr("total_sq div total_samples"))
      .select(col("n_chunks"), col("n_assets"), col("total_samples"),
        col("zc_ppm"), col("mean_energy"), col("peak_abs"))
      .orderBy(col("n_chunks"))

  // ---- tone detection: Goertzel single-bin DFT probe -----------------

  /** Goertzel power of `freq` Hz over the first `n` decoded samples —
    * the O(n)-per-bin single-frequency DFT probe a speech pipeline runs
    * for tone/DTMF/calibration-signal detection when a full FFT is
    * waste (k probe bins ≪ window size). StrictMath keeps the
    * recurrence bit-reproducible across JVMs. */
  def goertzelPower(d: AudioCodec.DecodedAudio, n: Int,
      freq: Double): Double = {
    val c = 2.0 * StrictMath.cos(2.0 * StrictMath.PI * freq / d.sampleRate)
    var s1 = 0.0
    var s2 = 0.0
    var i = 0
    val lim = math.min(n, d.nSamples)
    while (i < lim) {
      val s0 = d.sample(i) + c * s1 - s2
      s2 = s1; s1 = s0; i += 1
    }
    s1 * s1 + s2 * s2 - c * s1 * s2
  }

  /** The 8 probe frequencies (Hz) of the q342 tone battery. */
  val ToneBins: Array[Double] = Array.tabulate(8)(k => 400.0 * (k + 1))

  /** Per-asset tone-detection rows through a FULL real-codec round
    * trip: a pure sine at the planted bin's frequency (StrictMath —
    * bit-reproducible PCM), encoded by the REAL JDK WAV writer,
    * decoded back, then probed at all 8 bins with [[goertzelPower]].
    * detected_bin = argmax power (lowest bin on ties), leak_ppm =
    * second-highest/highest power in ppm (how far from ambiguous the
    * detection sat). Materialized by Verify as `_q342_input`; the
    * kernel itself is spec-pinned (FastCodecSpec golden case).
    * Partition-local like every media kernel — payloads never shuffle. */
  def toneRows(spark: SparkSession, nAssets: Long): DataFrame = {
    import spark.implicits._
    val m = nAssets / 3 // the audio arm's share of the corpus
    spark.range(m).mapPartitions(_.map { id =>
      val bin = (id % 8).toInt
      val sr = 16000
      val ns = 1600 // 100 ms
      val pcm = new Array[Byte](ns * 2)
      var i = 0
      while (i < ns) {
        val v = StrictMath.round(9000.0 * StrictMath.sin(
          2.0 * StrictMath.PI * ToneBins(bin) * i / sr)).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val d = AudioCodec.decode(AudioCodec.encodePcmWav(pcm, sr))
      val powers = ToneBins.map(f => goertzelPower(d, ns, f))
      var best = 0
      var second = -1
      var k = 1
      while (k < powers.length) {
        if (powers(k) > powers(best)) { second = best; best = k }
        else if (second < 0 || powers(k) > powers(second)) second = k
        k += 1
      }
      val leakPpm =
        if (powers(best) <= 0.0) 1000000L
        else StrictMath.floor(powers(second) / powers(best) * 1e6).toLong
      (id, bin.toLong, best.toLong, leakPpm)
    }).toDF("asset_id", "planted_bin", "detected_bin", "leak_ppm")
  }

  // ---- sample-rate conversion: 2:1 decimation ------------------------

  /** 2:1 decimation kernel: adjacent sample pairs average via
    * arithmetic shift ((s0+s1) >> 1 — floor, deterministic for
    * negatives); an odd trailing sample drops. Returns little-endian
    * 16-bit mono PCM at half the input's sample count. */
  def resamplePcm2to1(d: AudioCodec.DecodedAudio): Array[Byte] = {
    val nOut = d.nSamples / 2
    val out = new Array[Byte](nOut * 2)
    var i = 0
    while (i < nOut) {
      val v = (d.sample(2 * i) + d.sample(2 * i + 1)) >> 1
      out(2 * i) = (v & 0xff).toByte
      out(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Per-asset 2:1 resample audit rows through a FULL codec round trip:
    * decode → [[resamplePcm2to1]] → re-encode at half the rate through
    * the real JDK writer → decode AGAIN and measure. Materialized by
    * Verify as `_q267_input`. Physics check built in: keystream audio
    * is white noise, pair averaging halves PER-SAMPLE energy
    * (Var (X+Y)/2 = Var/2) AND the sample count halves, so the TOTAL
    * energy ratio the profile reports must sit at ~250000 ppm. */
  def resampleRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    syntheticAssets(spark, n)
      .filter(_.meta.kind == "audio")
      .mapPartitions(_.map { a =>
        val d = AudioCodec.decode(a.payload)
        val nsIn = d.nSamples
        var sqIn = 0L
        var i = 0
        while (i < nsIn) {
          val s = d.sample(i); sqIn += s.toLong * s.toLong; i += 1
        }
        val re = AudioCodec.decode(
          AudioCodec.encodePcmWav(resamplePcm2to1(d), d.sampleRate / 2))
        val nsOut = re.nSamples
        var sqOut = 0L
        var mx = 0L
        i = 0
        while (i < nsOut) {
          val s = re.sample(i)
          sqOut += s.toLong * s.toLong
          if (math.abs(s.toLong) > mx) mx = math.abs(s.toLong)
          i += 1
        }
        (a.asset_id, a.meta.nFrames.toLong, d.sampleRate.toLong,
          re.sampleRate.toLong, nsIn.toLong, sqIn, nsOut.toLong, sqOut, mx)
      })
      .toDF("asset_id", "n_chunks", "rate_in", "rate_out", "ns_in",
        "sum_sq_in", "ns_out", "sum_sq_out", "max_abs_out")
  }

  /** Grouped 2:1-resample profile with in-data certificates: every
    * asset's round-tripped length must read exactly ns_in div 2 and its
    * rate exactly halved — the mismatch counters must be 0. */
  def resampleProfile(spark: SparkSession, n: Long): DataFrame =
    resampleRows(spark, n)
      .groupBy(col("n_chunks"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("ns_in")).as("in_samples"),
        sum(col("ns_out")).as("out_samples"),
        // accumulate energies in DECIMAL(38,0): a duration class's total
        // Σs² passes 2^63 at ~9e9 full-amplitude samples — long sums
        // would wrap silently while the DuckDB oracle sums into HUGEINT
        sum(col("sum_sq_in").cast(org.apache.spark.sql.types
          .DecimalType(38, 0))).as("sq_in"),
        sum(col("sum_sq_out").cast(org.apache.spark.sql.types
          .DecimalType(38, 0))).as("sq_out"),
        max(col("max_abs_out")).as("peak_out"),
        sum(when(col("ns_out") =!= expr("ns_in div 2"), 1L).otherwise(0L))
          .as("n_len_mismatch"),
        sum(when(col("rate_out") * 2 =!= col("rate_in"), 1L).otherwise(0L))
          .as("n_rate_mismatch"))
      .select(col("n_chunks"), col("n_assets"), col("in_samples"),
        col("out_samples"),
        expr("CAST(CAST(sq_out AS DECIMAL(38,0)) * 1000000 div " +
          "CAST(sq_in AS DECIMAL(38,0)) AS BIGINT)").as("energy_ratio_ppm"),
        col("peak_out"), col("n_len_mismatch"), col("n_rate_mismatch"))
      .orderBy(col("n_chunks"))

  // ---- frame-level audio analysis: VAD / silence segmentation --------

  /** VAD frame length: 160 samples = 10 ms at 16 kHz, the standard hop. */
  val VadFrame = 160

  /** Silence decision: a frame is silent iff Σs² < VadFrame·1e6 (mean
    * square per sample < 1e6). Planted attenuated frames sit ~10× below,
    * keystream frames ~350× above — wide margins, and the decision
    * itself is exact integer arithmetic either way. */
  val SilenceEnergyPerFrame: Long = VadFrame.toLong * 1000000L

  /** The VAD evaluation corpus: every audio asset with a planted silence
    * mask — 160-sample chunk c is attenuated (arithmetic >> 6) iff
    * (asset_id + c) % 3 == 0. Real decode → attenuate → real re-encode
    * through the JDK WAVE codec, partition-local; the mask is the ground
    * truth MultimodalSpec checks detection against. */
  def silencedAudio(spark: SparkSession, n: Long): Dataset[MediaAsset] = {
    import spark.implicits._
    syntheticAssets(spark, n)
      .filter(_.meta.kind == "audio")
      .mapPartitions(_.map { a =>
        val d = AudioCodec.decode(a.payload)
        val pcm = d.pcm.clone()
        val ns = d.nSamples
        var i = 0
        while (i < ns) {
          if ((a.asset_id + i / VadFrame) % 3 == 0) {
            val s = (((pcm(2 * i + 1).toInt << 8) |
              (pcm(2 * i) & 0xff)).toShort.toInt) >> 6
            pcm(2 * i) = (s & 0xff).toByte
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          }
          i += 1
        }
        a.copy(payload = AudioCodec.encodePcmWav(pcm, d.sampleRate))
      })
  }

  /** Per-frame integer features over the silenced corpus: energy (Σs²)
    * and zero-crossing count per 160-sample frame. One decode pass,
    * partition-local; every asset is a whole number of frames by
    * construction. Materialized by Verify as `_q248_input` so the oracle
    * can re-derive the segmentation independently. */
  def audioFrameRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    silencedAudio(spark, n)
      .mapPartitions(_.flatMap { a =>
        val d = AudioCodec.decode(a.payload)
        val nf = d.nSamples / VadFrame
        (0 until nf).map { f =>
          var e = 0L; var zc = 0L; var prev = 0
          var i = f * VadFrame
          val end = i + VadFrame
          while (i < end) {
            val s = d.sample(i)
            e += s.toLong * s.toLong
            if (i > f * VadFrame &&
              ((s < 0 && prev >= 0) || (s >= 0 && prev < 0))) zc += 1
            prev = s
            i += 1
          }
          (a.asset_id, f.toLong, e, zc)
        }
      })
      .toDF("asset_id", "frame_idx", "energy", "zc")
  }

  /** Per-duration-class VAD profile — the silence screen a speech-corpus
    * curation pass runs before keeping an utterance: per asset, IN-ROW
    * during a single decode pass, the frame count, silent-frame count,
    * voiced-segment count and longest voiced run; rolled up per duration
    * class. The oracle recomputes the segmentation INDEPENDENTLY from
    * the materialized per-frame rows by SQL gaps-and-islands — a
    * different algorithm over the same frames.
    *
    * 100 TB posture: decode + frame loop + run-length state are one
    * partition-local pass (payloads never shuffle); the rollup is
    * |duration classes| rows. */
  def vadProfile(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    silencedAudio(spark, n)
      .mapPartitions(_.map { a =>
        val d = AudioCodec.decode(a.payload)
        val nf = d.nSamples / VadFrame
        var silent = 0L; var segs = 0L; var longest = 0L; var run = 0L
        var f = 0
        while (f < nf) {
          var e = 0L
          var i = f * VadFrame
          val end = i + VadFrame
          while (i < end) {
            val s = d.sample(i); e += s.toLong * s.toLong; i += 1
          }
          if (e < SilenceEnergyPerFrame) { silent += 1; run = 0 }
          else {
            if (run == 0) segs += 1
            run += 1
            if (run > longest) longest = run
          }
          f += 1
        }
        (a.asset_id, nf.toLong, silent, segs, longest)
      })
      .toDF("asset_id", "n_frames", "n_silent", "n_segments", "longest_run")
      .groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_silent")).as("total_silent"),
        sum(col("n_segments")).as("total_segments"),
        max(col("longest_run")).as("max_voiced_run"),
        expr("(sum(n_silent) * 1000000) div sum(n_frames)")
          .as("silence_ppm"))
      .select(col("n_frames"), col("n_assets"), col("total_silent"),
        col("total_segments"), col("max_voiced_run"), col("silence_ppm"))
      .orderBy(col("n_frames"))
  }

  // ---- frame-level video analysis: shot-boundary detection -----------

  /** Shot-boundary decision: frames i-1 and i belong to different shots
    * iff their mean-absolute pixel difference exceeds 32 gray levels,
    * i.e. integer Σ|Δpx| > w·h·32. Held (identical) frames give exactly
    * 0; independent keystream frames give ~85·w·h — a ≥ 50-σ margin on
    * both sides, and the decision itself is exact integer arithmetic. */
  val ShotMadPerPixel = 32L

  /** The shot-detection evaluation corpus: every video asset re-encoded
    * with planted shots — frame i is REPLACED by frame i − (i % hold)
    * where hold = 2 + asset_id % 3, so the asset becomes runs of `hold`
    * identical frames separated by hard cuts. Real decode → hold →
    * real re-encode (lossless gray GIF round-trip), partition-local. */
  def heldFrameVideo(spark: SparkSession, n: Long): Dataset[MediaAsset] = {
    import spark.implicits._
    syntheticAssets(spark, n)
      .filter(_.meta.kind == "video")
      .mapPartitions(_.map { a =>
        val d = VideoCodec.decode(a.payload)
        val hold = (2 + (a.asset_id % 3)).toInt
        val held = Array.tabulate(d.frames.length)(i => d.frames(i - i % hold))
        a.copy(payload = VideoCodec.encodeGrayGif(d.width, d.height, held))
      })
  }

  /** Per-asset consecutive-frame difference profile over the held-frame
    * corpus: diffs[i] = Σ|frame(i)[p] − frame(i−1)[p]| (1-based index i,
    * one entry per frame pair), computed in ONE decode pass. Materialized
    * by Verify as `_q249_input` for the oracle's independent replay. */
  def videoDiffRows(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    heldFrameVideo(spark, n)
      .mapPartitions(_.map { a =>
        val d = VideoCodec.decode(a.payload)
        val diffs = Array.tabulate(d.frames.length - 1) { j =>
          val prev = d.frames(j); val cur = d.frames(j + 1)
          var s = 0L; var p = 0
          while (p < cur.length) {
            s += math.abs((cur(p) & 0xff) - (prev(p) & 0xff)); p += 1
          }
          s
        }
        (a.asset_id, d.frames.length.toLong, d.width.toLong,
          d.height.toLong, diffs)
      })
      .toDF("asset_id", "n_frames", "w", "h", "diffs")
  }

  /** Per-duration-class shot profile — the scene segmentation a video
    * curation pass runs before sampling clips: per asset, IN-ROW during
    * a single decode pass, the shot count (cuts where the integer MAD
    * exceeds [[ShotMadPerPixel]]·w·h), the longest shot, and the
    * keyframe (1-based index of the max frame diff, ties → smallest);
    * rolled up per frame-count class. The oracle re-derives shots
    * INDEPENDENTLY from the materialized per-pair diffs by a windowed
    * boundary-prefix-sum (gaps-and-islands), a different algorithm.
    *
    * 100 TB posture: decode + diff loop + run-length state are one
    * partition-local pass (frames never shuffle); the rollup is
    * |frame-count classes| rows. */
  def shotProfile(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    heldFrameVideo(spark, n)
      .mapPartitions(_.map { a =>
        val d = VideoCodec.decode(a.payload)
        val thr = d.width.toLong * d.height * ShotMadPerPixel
        var shots = 1L; var longest = 1L; var run = 1L
        var bestDiff = -1L; var keyframe = 1L
        var j = 1
        while (j < d.frames.length) {
          val prev = d.frames(j - 1); val cur = d.frames(j)
          var s = 0L; var p = 0
          while (p < cur.length) {
            s += math.abs((cur(p) & 0xff) - (prev(p) & 0xff)); p += 1
          }
          if (s > bestDiff) { bestDiff = s; keyframe = j.toLong }
          if (s > thr) { shots += 1; run = 1L }
          else run += 1
          if (run > longest) longest = run
          j += 1
        }
        (a.asset_id, d.frames.length.toLong, shots, longest, keyframe)
      })
      .toDF("asset_id", "n_frames", "n_shots", "longest_shot", "keyframe")
      .groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_shots")).as("total_shots"),
        max(col("longest_shot")).as("max_longest_shot"),
        sum(col("keyframe")).as("keyframe_sum"))
      .orderBy(col("n_frames"))
  }

  /** Deterministic per-kind feature profile — the queryable summary used by
    * the q60 corpus entry (fully ordered, reproducible: the mean
    * accumulates the 9-decimal per-asset l2sq as decimal, so the result is
    * independent of partitioning and summation order). */
  def featureProfile(spark: SparkSession, n: Long): DataFrame =
    featureRows(spark, n)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes").cast("long")).as("total_bytes"),
        round((sum(col("l2sq").cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .cast("double") / count(lit(1))), 9).as("avg_feature_l2sq"))
      .orderBy(col("kind"))

  // ---- REAL image codec (JDK javax.imageio — no external dep) --------

  /** Image encode/decode/resize on the JDK's own ImageIO codecs
    * (PNG/JPEG/BMP/GIF readers ship in every JDK). All entry points are
    * partition-local pure functions over byte arrays — executor-safe
    * (headless, no disk cache), deterministic (fixed encoder, integer
    * nearest-neighbor resampling). */
  object ImageCodec {
    // Executor-side static init: never touch a display, never spill
    // codec scratch to disk.
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(width: Int, height: Int, gray: Array[Byte])

    /** Keystream pixels for (id, seed) through the REAL PNG encoder. */
    def encodePng(id: Long, seed: Long, w: Int, h: Int): Array[Byte] =
      encodeGrayPng(w, h, Keystream.bytes(id, seed, w * h))

    /** Encode gray samples (row-major, w*h bytes) as a spec-valid PNG.
      *
      * Hand-built container (signature + IHDR + one zlib IDAT of
      * filter-0 scanlines + IEND) with NO_COMPRESSION deflate blocks:
      * keystream pixels are incompressible anyway, and the stored-block
      * writer runs at memcpy speed, so CORPUS GENERATION doesn't tax the
      * benched decode path — the q44 lesson (don't let scaffolding cost
      * sit inside the timed span) applied here. The DECODER is the full
      * JDK ImageIO codec, which reads these PNGs like any other; the
      * MultimodalSpec round-trip (ImageIO decode of this writer's output
      * equals the planted raster) is the cross-check that the container
      * is honest. */
    def encodeGrayPng(w: Int, h: Int, gray: Array[Byte]): Array[Byte] = {
      require(gray.length == w * h, s"raster ${gray.length} != ${w}x$h")
      // filter byte 0 in front of every scanline
      val raw = new Array[Byte]((w + 1) * h)
      var y = 0
      while (y < h) {
        System.arraycopy(gray, y * w, raw, y * (w + 1) + 1, w)
        y += 1
      }
      val deflater = new java.util.zip.Deflater(
        java.util.zip.Deflater.NO_COMPRESSION)
      deflater.setInput(raw); deflater.finish()
      val idat = new java.io.ByteArrayOutputStream(raw.length + raw.length / 1024 + 64)
      val buf = new Array[Byte](16384)
      while (!deflater.finished()) idat.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val out = new java.io.ByteArrayOutputStream(idat.size + 64)
      Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
        .foreach(out.write)
      def chunk(tag: String, body: Array[Byte]): Unit = {
        def be32(v: Long): Unit = {
          out.write((v >>> 24).toInt & 0xff); out.write((v >>> 16).toInt & 0xff)
          out.write((v >>> 8).toInt & 0xff); out.write(v.toInt & 0xff)
        }
        be32(body.length.toLong)
        val tagB = tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val crc = new java.util.zip.CRC32()
        crc.update(tagB); crc.update(body)
        out.write(tagB); out.write(body, 0, body.length)
        be32(crc.getValue)
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(w).putInt(h)
        .put(8.toByte)  // bit depth
        .put(0.toByte)  // color type: grayscale
        .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/no-interlace
      chunk("IHDR", ihdr.array)
      chunk("IDAT", idat.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      out.toByteArray
    }

    /** Reused per-thread PNG reader: `ImageIO.read` re-runs the SPI
      * registry scan and reader construction on EVERY call — per-asset
      * overhead that dominates small-image decode in a tight partition
      * loop. ImageReader instances aren't thread-safe; thread-local
      * reuse inside a partition iterator is. */
    private val pngReader =
      new ThreadLocal[javax.imageio.ImageReader] {
        override def initialValue(): javax.imageio.ImageReader =
          javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      }

    private def isPng(p: Array[Byte]): Boolean =
      p.length > 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'

    /** Decode any ImageIO-supported container to gray samples (gray
      * sources verbatim; color sources via the JDK's colorspace op).
      * PNG takes the reused-reader fast path; other containers go
      * through the generic SPI lookup. */
    def decode(payload: Array[Byte]): Decoded = {
      // Hot-profile fast path (gray-8 PNG — the corpus' image format):
      // a linear chunk-parse + zlib inflate + unfilter with zero
      // BufferedImage/SPI machinery. FastCodecSpec proves byte-equality
      // vs the ImageIO path below on JDK-WRITTEN compressed PNGs, so
      // this is the same codec, minus the framework. Unsupported
      // profiles (color, 16-bit, interlaced) fall through to ImageIO.
      MediaDecoders.decodeGrayPng(payload) match {
        case Some(g) => return Decoded(g.width, g.height, g.gray)
        case None    =>
      }
      val img =
        if (isPng(payload)) {
          val r = pngReader.get()
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try { r.setInput(iis, true, true); r.read(0) }
          finally { r.setInput(null); iis.close() }
        } else javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
      require(img != null, "payload is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val g =
        if (img.getType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY) img
        else {
          val conv = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          new java.awt.image.ColorConvertOp(null).filter(img, conv)
          conv
        }
      val gray = new Array[Byte](w * h)
      g.getRaster.getDataElements(0, 0, w, h, gray)
      Decoded(w, h, gray)
    }

    /** Decode → integer nearest-neighbor resample → re-encode. */
    def resizePng(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val d = decode(payload)
      val out = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        val srcRow = (y.toLong * d.height / h).toInt * d.width
        val dstRow = y * w
        var x = 0
        while (x < w) {
          out(dstRow + x) = d.gray(srcRow + (x.toLong * d.width / w).toInt)
          x += 1
        }
        y += 1
      }
      encodeGrayPng(w, h, out)
    }
  }

  // ---- REAL audio codec (JDK javax.sound.sampled — no external dep) --

  /** Audio encode/decode on the JDK's own WAVE codec (`javax.sound.
    * sampled.AudioSystem` reads and writes RIFF/WAVE with PCM payloads in
    * every JDK — the same zero-external-jar move that made images real).
    * All entry points are partition-local pure functions over byte
    * arrays: executor-safe (no audio device is ever opened — only the
    * container codec runs), deterministic (fixed 16-bit little-endian
    * mono PCM encoding). */
  object AudioCodec {

    /** The JDK's WAVE reader/writer SPI providers, discovered ONCE.
      * `AudioSystem.write/getAudioInputStream` re-run provider discovery
      * through a `synchronized` static (JDK13Services.getProviders) on
      * EVERY call — under 32 executor threads that lock serialized the
      * whole decode stage (measured: q60 0.35 → 6.8 s after the codec
      * went real; back to ~1 s with the providers cached here). The
      * providers themselves are the same stateless JDK codec objects
      * AudioSystem would hand back. */
    private lazy val wavWriter: javax.sound.sampled.spi.AudioFileWriter = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
      var found: javax.sound.sampled.spi.AudioFileWriter = null
      while (found == null && it.hasNext) {
        val w = it.next()
        if (w.isFileTypeSupported(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)) found = w
      }
      require(found != null, "JDK ships no WAVE AudioFileWriter?")
      found
    }

    private lazy val audioReaders: Array[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      val b = Array.newBuilder[javax.sound.sampled.spi.AudioFileReader]
      while (it.hasNext) b += it.next()
      b.result()
    }

    /** The one reader that actually owns RIFF/WAVE, identified ONCE by
      * probing with our own encoder's output. Scanning every provider
      * per decode is not just wasted exceptions: one of the JDK's other
      * readers (the MIDI soft-synth one) contends on shared state, and
      * 32 threads probing it serialized the decode stage (measured
      * 2.4x SLOWER than single-threaded in aggregate). */
    private lazy val wavReader: javax.sound.sampled.spi.AudioFileReader = {
      val probe = encodePcmWav(new Array[Byte](4), 16000)
      audioReaders.find { r =>
        try {
          r.getAudioInputStream(new java.io.ByteArrayInputStream(probe))
            .close(); true
        } catch { case _: Exception => false }
      }.getOrElse(throw new IllegalStateException("no JDK WAVE reader"))
    }

    final case class DecodedAudio(sampleRate: Int, channels: Int, pcm: Array[Byte],
        declaredBytes: Long = -1L) {
      /** PCM frame count (16-bit samples per channel). */
      def nSamples: Int = pcm.length / 2 / channels
      /** Signed 16-bit little-endian sample i (first channel). */
      def sample(i: Int): Int =
        ((pcm(2 * i * channels + 1).toInt << 8) | (pcm(2 * i * channels) & 0xff)).toShort.toInt
    }

    /** `nSamples` keystream samples for (id, seed) through the REAL JDK
      * WAVE writer. */
    def encodeWav(id: Long, seed: Long, sampleRate: Int, nSamples: Int): Array[Byte] =
      encodePcmWav(Keystream.bytes(id, seed, nSamples * 2), sampleRate)

    /** Wrap raw 16-bit little-endian mono PCM bytes in a WAV container
      * via `AudioSystem.write` (the real codec, not a hand-rolled
      * header). */
    def encodePcmWav(pcm: Array[Byte], sampleRate: Int): Array[Byte] = {
      require(pcm.length % 2 == 0, "16-bit PCM needs an even byte count")
      val fmt = new javax.sound.sampled.AudioFormat(
        sampleRate.toFloat, 16, 1, true, false) // signed, little-endian
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, (pcm.length / 2).toLong)
      val out = new java.io.ByteArrayOutputStream(pcm.length + 64)
      // the cached JDK WaveFileWriter — same codec AudioSystem.write
      // resolves to, minus its per-call synchronized provider scan
      try wavWriter.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      finally ais.close()
      out.toByteArray
    }

    /** Decode any AudioSystem-supported container to raw 16-bit
      * little-endian PCM bytes plus its format metadata. */
    def decode(payload: Array[Byte]): DecodedAudio = {
      // the pinned WAVE reader first (the hot path — our containers are
      // all RIFF/WAVE); fall back to the full provider scan only for a
      // foreign container
      val ais = {
        try wavReader.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException =>
            var found: javax.sound.sampled.AudioInputStream = null
            var i = 0
            while (found == null && i < audioReaders.length) {
              val in = new java.io.ByteArrayInputStream(payload)
              try found = audioReaders(i).getAudioInputStream(in)
              catch {
                case _: javax.sound.sampled.UnsupportedAudioFileException =>
                  ()
              }
              i += 1
            }
            require(found != null,
              "no cached AudioFileReader accepts payload")
            found
        }
      }
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16,
          s"expected 16-bit PCM, got ${fmt.getSampleSizeInBits}")
        // the container's own claim of how much PCM follows — the
        // accounted decode path compares it to what actually arrived
        // (a truncated payload keeps its full-size header; the JDK
        // reader just returns short without erroring)
        val declaredBytes =
          if (ais.getFrameLength < 0 || fmt.getFrameSize <= 0) -1L
          else ais.getFrameLength * fmt.getFrameSize
        val out = new java.io.ByteArrayOutputStream(
          math.max(64, ais.available()))
        val buf = new Array[Byte](8192)
        var n = ais.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = ais.read(buf) }
        val raw = out.toByteArray
        // normalize to little-endian (WAV already is; belt-and-braces
        // for other containers the SPI may hand us)
        if (fmt.isBigEndian) {
          var i = 0
          while (i + 1 < raw.length) {
            val t = raw(i); raw(i) = raw(i + 1); raw(i + 1) = t; i += 2
          }
        }
        DecodedAudio(fmt.getSampleRate.toInt, fmt.getChannels, raw,
          declaredBytes)
      } finally ais.close()
    }
  }

  // ---- deterministic sample generator (shared by all three arms) -----

  /** The keystream every arm draws its planted samples from — pixels for
    * PNG/GIF frames, PCM bytes for WAV. Pure function of (id, seed), so
    * any executor regenerates identical content. */
  object Keystream {
    /** xxhash-style keystream: `size` bytes derived from (id, seed). */
    def bytes(id: Long, seed: Long, size: Int): Array[Byte] = {
      val out = new Array[Byte](size)
      var block = 0L
      var i = 0
      while (i < size) {
        var h = id * 0x9E3779B97F4A7C15L + seed * 0xC2B2AE3D27D4EB4FL + block
        h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
        var j = 0
        while (j < 8 && i < size) { out(i) = (h >>> (j * 8)).toByte; i += 1; j += 1 }
        block += 1
      }
      out
    }
  }

  // ---- REAL video codec (JDK ImageIO animated GIF — no external dep) -

  /** Multi-frame video on the JDK's own animated-GIF codec — the same
    * zero-external-jar move that made images (PNG) and audio (WAV) real.
    * The DECODER is the full JDK ImageIO GIF ImageReader driven as a real
    * video decode loop (`getNumImages(true)` + per-frame `read(i)`); the
    * ENCODER hand-builds the GIF89a container (logical screen descriptor,
    * 256-level gray global palette, one image descriptor per frame) with
    * LZW data emitted as 9-bit literal codes + periodic CLEAR — the
    * classic "uncompressed GIF" stream, spec-valid for any decoder, and
    * ~memcpy-fast so corpus GENERATION doesn't tax the benched decode
    * path (the q44 scaffolding lesson; same rationale as
    * [[ImageCodec.encodeGrayPng]]'s stored-block deflate). Gray palette
    * index == sample value, so the round-trip is bit-lossless — the
    * MultimodalSpec planted-frame checksums are the honesty check. */
  object VideoCodec {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)

    final case class DecodedVideo(width: Int, height: Int,
        frames: Array[Array[Byte]]) {
      /** All frames' gray samples, concatenated (feature-extraction
        * view). */
      def flat: Array[Byte] = {
        val out = new Array[Byte](frames.map(_.length).sum)
        var off = 0
        frames.foreach { f =>
          System.arraycopy(f, 0, out, off, f.length); off += f.length
        }
        out
      }
    }

    /** Keystream frames for (id, seed) through the GIF container — one
      * contiguous keystream sliced into `nFrames` w×h rasters (the same
      * planted bytes the pre-round-9 stub produced, now inside a real
      * container). */
    def encodeGif(id: Long, seed: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
      val ks = Keystream.bytes(id, seed, w * h * nFrames)
      encodeGrayGif(w, h, Array.tabulate(nFrames)(f =>
        java.util.Arrays.copyOfRange(ks, f * w * h, (f + 1) * w * h)))
    }

    /** Encode gray rasters (row-major, w*h bytes each) as a multi-frame
      * GIF89a with a 256-level gray global color table. */
    def encodeGrayGif(w: Int, h: Int, frames: Array[Array[Byte]]): Array[Byte] = {
      require(frames.nonEmpty, "GIF needs at least one frame")
      frames.foreach(f => require(f.length == w * h,
        s"raster ${f.length} != ${w}x$h"))
      require(w <= 0xffff && h <= 0xffff, "GIF dims are 16-bit")
      val out = new java.io.ByteArrayOutputStream(
        frames.length * (w * h * 9 / 8 + 64) + 1024)
      out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      def le16(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
      le16(w); le16(h)
      out.write(0xf7) // GCT present, 8-bit color res, 256 entries
      out.write(0)    // background color index
      out.write(0)    // pixel aspect ratio
      var c = 0
      while (c < 256) { out.write(c); out.write(c); out.write(c); c += 1 }
      frames.foreach { raster =>
        out.write(0x2c) // image descriptor
        le16(0); le16(0); le16(w); le16(h)
        out.write(0)    // no local palette, no interlace
        writeLzwLiterals(raster, out)
      }
      out.write(0x3b) // trailer
      out.toByteArray
    }

    /** LZW image data as pure 9-bit literal codes with a CLEAR every 254
      * codes (keeps the decoder's dictionary below the 10-bit boundary —
      * the standard "uncompressed GIF" stream). LSB-first bit packing
      * into ≤255-byte sub-blocks per the GIF spec. */
    private def writeLzwLiterals(data: Array[Byte],
        out: java.io.ByteArrayOutputStream): Unit = {
      val Clear = 256
      val Eoi = 257
      out.write(8) // LZW minimum code size
      val block = new Array[Byte](255)
      var blockLen = 0
      var bitBuf = 0L
      var nBits = 0
      def flushByte(b: Int): Unit = {
        block(blockLen) = b.toByte; blockLen += 1
        if (blockLen == 255) { out.write(255); out.write(block, 0, 255); blockLen = 0 }
      }
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << nBits; nBits += 9
        while (nBits >= 8) {
          flushByte((bitBuf & 0xff).toInt); bitBuf >>>= 8; nBits -= 8
        }
      }
      emit(Clear)
      var sinceClear = 0
      var i = 0
      while (i < data.length) {
        emit(data(i) & 0xff)
        sinceClear += 1
        if (sinceClear == 254 && i + 1 < data.length) {
          emit(Clear); sinceClear = 0
        }
        i += 1
      }
      emit(Eoi)
      if (nBits > 0) flushByte((bitBuf & 0xff).toInt)
      if (blockLen > 0) { out.write(blockLen); out.write(block, 0, blockLen) }
      out.write(0) // sub-block terminator
    }

    /** Reused per-thread GIF reader — same SPI-scan-avoidance rationale
      * as [[ImageCodec]]'s pngReader and [[AudioCodec]]'s pinned WAVE
      * reader (a per-asset registry scan serializes 32-thread decode). */
    private val gifReader =
      new ThreadLocal[javax.imageio.ImageReader] {
        override def initialValue(): javax.imageio.ImageReader =
          javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      }

    /** REAL video decode loop: the JDK GIF ImageReader decodes every
      * frame; palette-indexed frames map to gray through the color
      * table (identity for our gray GCT), anything else through the JDK
      * colorspace op. Frames are read until the reader's own
      * out-of-range signal instead of `getNumImages(true)` — the count
      * pre-scan walks every data block once before any decode and
      * measured +29% per asset (1953 → 1517 µs on a 12-frame payload);
      * the decode loop discovers the count for free. */
    def decode(payload: Array[Byte]): DecodedVideo = {
      // Full-spec GIF89a fast path (dictionary LZW + deferred clear +
      // interlace, any palette): one linear bitstream pass per frame,
      // no per-frame BufferedImage/metadata machinery. FastCodecSpec
      // proves frame-byte equality vs the ImageIO loop below on
      // JDK-WRITTEN compressed GIFs; structural surprises return None
      // and fall through to ImageIO.
      MediaDecoders.decodeGif(payload) match {
        case Some(fs) if fs.nonEmpty =>
          return DecodedVideo(fs.last.width, fs.last.height,
            fs.map(_.gray))
        case _ =>
      }
      val r = gifReader.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        r.setInput(iis, false, true)
        var w = 0
        var h = 0
        val frames = Array.newBuilder[Array[Byte]]
        var n = 0
        var done = false
        while (!done) {
          try {
            val img = r.read(n)
            w = img.getWidth; h = img.getHeight
            frames += toGray(img)
            n += 1
          } catch { case _: IndexOutOfBoundsException => done = true }
        }
        require(n > 0, "payload decodes to zero GIF frames")
        DecodedVideo(w, h, frames.result())
      } finally { r.setInput(null); iis.close() }
    }

    private def toGray(img: java.awt.image.BufferedImage): Array[Byte] = {
      val w = img.getWidth
      val h = img.getHeight
      img.getColorModel match {
        case icm: java.awt.image.IndexColorModel =>
          val idx = new Array[Byte](w * h)
          img.getRaster.getDataElements(0, 0, w, h, idx)
          val lut = new Array[Byte](icm.getMapSize)
          var i = 0
          while (i < lut.length) { lut(i) = icm.getRed(i).toByte; i += 1 }
          val gray = new Array[Byte](w * h)
          i = 0
          while (i < gray.length) { gray(i) = lut(idx(i) & 0xff); i += 1 }
          gray
        case _ =>
          val conv = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          new java.awt.image.ColorConvertOp(null).filter(img, conv)
          val gray = new Array[Byte](w * h)
          conv.getRaster.getDataElements(0, 0, w, h, gray)
          gray
      }
    }
  }
}

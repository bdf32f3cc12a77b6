package graft.operators

import graft.SparkSpec
import graft.operators.Multimodal._
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("synthetic assets are deterministic and schema-complete") {
    val a = syntheticAssets(spark, 300).cache()
    assert(a.count() == 300)
    val kinds = a.toDF().groupBy(col("meta.kind")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == Map("image" -> 100, "audio" -> 100, "video" -> 100))
    // Same id => byte-identical payload on regeneration (executor-side
    // regen property that makes the corpus shippable without storage).
    val p1 = a.filter(_.asset_id == 7L).head().payload
    val p2 = syntheticAssets(spark, 300).filter(_.asset_id == 7L).head().payload
    assert(java.util.Arrays.equals(p1, p2))
  }

  test("feature extraction: unit-L1 histogram per asset, batch-shaped") {
    val f = extractFeatures(syntheticAssets(spark, 90)).cache()
    assert(f.count() == 90)
    val sums = f.toDF().select(
      round(aggregate(col("feature"), lit(0.0d), (a, x) => a + x), 6).as("l1"))
    // histogram normalized by byte count => sums to 1
    assert(sums.where(col("l1") === 1.0).count() == 90)
    assert(f.head().feature.length == 256)
  }

  test("frame sampling keeps every Nth DECODED frame through the real codec") {
    val vids = syntheticAssets(spark, 30).filter(_.meta.kind == "video")
    val before = vids.collect().map(v => v.asset_id -> v).toMap
    val sampled = sampleFrames(vids, everyN = 2).collect()
    assert(sampled.nonEmpty)
    sampled.foreach { s =>
      val b = before(s.asset_id)
      val expectKept = (0 until b.meta.nFrames by 2).size
      assert(s.meta.nFrames == expectKept)
      // Decode BOTH payloads through the real GIF codec: the sampled
      // asset's frames must be bit-identical to the original's frames
      // 0, 2, 4, … — content equality, not just count arithmetic.
      val orig = VideoCodec.decode(b.payload)
      val kept = VideoCodec.decode(s.payload)
      assert(kept.frames.length == expectKept)
      kept.frames.zipWithIndex.foreach { case (f, k) =>
        assert(java.util.Arrays.equals(f, orig.frames(2 * k)),
          s"asset ${s.asset_id} kept-frame $k != original frame ${2 * k}")
      }
    }
  }

  test("video payloads are REAL animated GIFs: magic, frame count, per-frame checksums") {
    // planted video: known id/seed/dims/frames -> every decoded frame
    // must equal its keystream slice byte-for-byte (gray-palette GIF is
    // lossless), through the REAL JDK ImageIO GIF reader.
    val (id, seed, w, h, nFrames) = (23L, 42L, 64, 48, 5)
    val gif = VideoCodec.encodeGif(id, seed, w, h, nFrames)
    assert(new String(gif.slice(0, 6), "US-ASCII") == "GIF89a",
      "payload does not start with the GIF89a signature")
    val d = VideoCodec.decode(gif)
    assert(d.width == w && d.height == h)
    assert(d.frames.length == nFrames, s"decoded ${d.frames.length} frames")
    val ks = Keystream.bytes(id, seed, w * h * nFrames)
    d.frames.zipWithIndex.foreach { case (f, i) =>
      assert(java.util.Arrays.equals(f,
        java.util.Arrays.copyOfRange(ks, i * w * h, (i + 1) * w * h)),
        s"frame $i differs from the planted raster")
    }
    // the JDK's own reader is doing the work: cross-check frame count via
    // a fresh generic ImageIO reader (not our cached one)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    val r = javax.imageio.ImageIO.getImageReaders(iis).next()
    r.setInput(iis)
    assert(r.getNumImages(true) == nFrames)
    r.dispose(); iis.close()
    // and the corpus video arm goes through this codec (format tag + decode)
    val vid = syntheticAssets(spark, 3).filter(_.meta.kind == "video").head()
    assert(vid.meta.format == "gif")
    val dv = VideoCodec.decode(vid.payload)
    assert(dv.frames.length == vid.meta.nFrames)
    assert(dv.width == vid.meta.width && dv.height == vid.meta.height)
  }

  test("resize really resamples the raster; non-images untouched") {
    val a = syntheticAssets(spark, 30)
    val resized = resize(a, 32, 32).cache()
    resized.filter(_.meta.kind == "image").collect().foreach { img =>
      assert(img.meta.width == 32 && img.meta.height == 32)
      val d = ImageCodec.decode(img.payload)
      assert(d.width == 32 && d.height == 32)
    }
    // nearest-neighbor at identical dims is the identity raster
    val one = syntheticAssets(spark, 3).filter(_.meta.kind == "image").head()
    val same = ImageCodec.decode(
      ImageCodec.resizePng(one.payload, one.meta.width, one.meta.height))
    assert(java.util.Arrays.equals(same.gray,
      ImageCodec.decode(one.payload).gray))
    val audioBefore = a.filter(_.meta.kind == "audio").count()
    assert(resized.filter(_.meta.kind == "audio").count() == audioBefore)
  }

  test("image payloads are REAL PNGs: magic bytes, dims, pixel checksum") {
    // planted image: known id/seed/dims -> the decoded raster must equal
    // the generator keystream byte-for-byte (PNG is lossless)
    val (id, seed, w, h) = (7L, 42L, 64, 48)
    val png = ImageCodec.encodePng(id, seed, w, h)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G',
      "payload does not start with the PNG signature")
    val d = ImageCodec.decode(png)
    assert(d.width == w && d.height == h)
    val expected = Keystream.bytes(id, seed, w * h)
    assert(java.util.Arrays.equals(d.gray, expected),
      "decoded pixels differ from the planted raster")
    // checksum pinned: catches a silently lossy encode path on any JDK
    val crc = new java.util.zip.CRC32(); crc.update(d.gray)
    val crcExp = new java.util.zip.CRC32(); crcExp.update(expected)
    assert(crc.getValue == crcExp.getValue)
    // and the corpus image arm goes through this codec (format tag + decode)
    val img = syntheticAssets(spark, 3).filter(_.meta.kind == "image").head()
    assert(img.meta.format == "png")
    val di = ImageCodec.decode(img.payload)
    assert(di.width == img.meta.width && di.height == img.meta.height)
  }

  test("audio payloads are REAL WAVs: RIFF magic, sample count, PCM checksum") {
    // planted audio: known id/seed/samples -> the decoded PCM must equal
    // the generator keystream byte-for-byte (WAV PCM is lossless)
    val (id, seed, rate, nSamples) = (11L, 42L, 16000, 640)
    val wav = AudioCodec.encodeWav(id, seed, rate, nSamples)
    assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F',
      "payload does not start with the RIFF signature")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val d = AudioCodec.decode(wav)
    assert(d.sampleRate == rate && d.channels == 1)
    assert(d.nSamples == nSamples, s"decoded ${d.nSamples} samples, planted $nSamples")
    val expected = Keystream.bytes(id, seed, nSamples * 2)
    assert(java.util.Arrays.equals(d.pcm, expected),
      "decoded PCM differs from the planted samples")
    // checksum pinned: catches a silently lossy/resampling path on any JDK
    val crc = new java.util.zip.CRC32(); crc.update(d.pcm)
    val crcExp = new java.util.zip.CRC32(); crcExp.update(expected)
    assert(crc.getValue == crcExp.getValue)
    // signed little-endian sample accessor agrees with manual decoding
    assert(d.sample(0) ==
      (((expected(1).toInt << 8) | (expected(0) & 0xff)).toShort.toInt))
    // and the corpus audio arm goes through this codec (format tag + decode)
    val au = syntheticAssets(spark, 3).filter(_.meta.kind == "audio").head()
    assert(au.meta.format == "wav")
    val da = AudioCodec.decode(au.payload)
    assert(da.sampleRate == au.meta.sampleRate)
    assert(da.nSamples == au.meta.sampleRate / 100 * au.meta.nFrames)
  }

  test("2:1 resample kernel: planted PCM halves exactly, floor on negatives, odd tail drops") {
    // planted samples 100, 300, -500, -101, 7 -> pairs (100,300) and
    // (-500,-101); the trailing 7 drops. (100+300)>>1 = 200;
    // (-500-101) = -601 >> 1 = -301 (arithmetic shift = floor, NOT
    // trunc-toward-zero -300 — the documented semantics).
    val pcm = new Array[Byte](10)
    def put(i: Int, v: Int): Unit = {
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    Seq(100, 300, -500, -101, 7).zipWithIndex.foreach { case (v, i) => put(i, v) }
    val d = AudioCodec.decode(AudioCodec.encodePcmWav(pcm, 16000))
    val out = Multimodal.resamplePcm2to1(d)
    val re = AudioCodec.decode(AudioCodec.encodePcmWav(out, 8000))
    assert(re.nSamples == 2, s"expected 2 resampled samples, got ${re.nSamples}")
    assert(re.sample(0) == 200, s"pair mean wrong: ${re.sample(0)}")
    assert(re.sample(1) == -301,
      s"negative floor semantics wrong: ${re.sample(1)} (trunc would give -300)")
    assert(re.sampleRate == 8000)
  }

  test("audio DSP stats match a scalar reference on the decoded PCM") {
    val rows = audioStatRows(spark, 30).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(rows.nonEmpty)
    syntheticAssets(spark, 30).filter(_.meta.kind == "audio").collect()
      .foreach { a =>
        val d = AudioCodec.decode(a.payload)
        val samples = (0 until d.nSamples).map(d.sample)
        val zc = samples.sliding(2).count {
          case Seq(p, s) => (s < 0 && p >= 0) || (s >= 0 && p < 0)
          case _ => false
        }
        val sumSq = samples.map(s => s.toLong * s.toLong).sum
        val maxAbs = samples.map(s => math.abs(s.toLong)).max
        assert(rows(a.asset_id) ==
          ((d.nSamples.toLong, zc.toLong, sumSq, maxAbs)), s"asset ${a.asset_id}")
      }
  }

  test("featureProfile is stable (golden)") {
    val p1 = featureProfile(spark, 500).collect()
    val p2 = featureProfile(spark, 500).collect()
    assert(p1.toSeq == p2.toSeq)
    assert(p1.map(_.getAs[String]("kind")).toSeq == Seq("audio", "image", "video"))
    assert(p1.map(_.getAs[Long]("n_assets")).sum == 500)
  }

  test("dHash: pinned reference bits; invariant to re-encode and exact-2x upscale") {
    // scalar reference over the planted raster
    val (id, seed, w, h) = (7L, 42L, 96, 64)
    val png = ImageCodec.encodePng(id, seed, w, h)
    val d = ImageCodec.decode(png)
    var want = 0L
    var bit = 0
    (0 until 8).foreach { r =>
      val row = (r.toLong * h / 8).toInt * w
      (0 until 8).foreach { c =>
        val p = d.gray(row + (c.toLong * w / 9).toInt) & 0xff
        val q = d.gray(row + ((c + 1).toLong * w / 9).toInt) & 0xff
        if (q > p) want |= (1L << bit)
        bit += 1
      }
    }
    assert(Multimodal.dHash64(d.gray, w, h) == want)
    // re-encode (identical raster) -> identical hash
    val re = ImageCodec.decode(ImageCodec.encodeGrayPng(w, h, d.gray))
    assert(Multimodal.dHash64(re.gray, w, h) == want)
    // exact-2x NN upscale -> identical hash (the q234 planted transform)
    val up = ImageCodec.decode(ImageCodec.resizePng(png, 2 * w, 2 * h))
    assert(Multimodal.dHash64(up.gray, 2 * w, 2 * h) == want)
  }

  test("perceptual near-dup recalls every planted upscaled copy, nothing else") {
    val assets = withUpscaledCopies(syntheticAssets(spark, 240),
      everyNth = 24L, offset = 10000000L)
    val pairs = nearDupByPHash(imageHashes(assets), maxHamming = 6).collect()
    // planted: image ids 0, 24, ..., 216 -> 10 copies
    val want = (0L until 240L by 24L).map(i => (i, i + 10000000L)).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == want)
    assert(pairs.forall(_.getLong(2) == 0L), "planted copies must be Hamming 0")
  }

  test("VAD detects exactly the planted silence mask; run stats match a " +
    "scalar replay") {
    import spark.implicits._
    val frames = Multimodal.audioFrameRows(spark, 24).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(frames.nonEmpty)
    // detection == plant, frame for frame
    frames.foreach { case (aid, f, e) =>
      val planted = (aid + f) % 3 == 0
      val detected = e < Multimodal.SilenceEnergyPerFrame
      assert(detected === planted, s"asset $aid frame $f")
    }
    // vadProfile equals a scalar gaps-and-islands replay over the frames
    val perAsset = frames.groupBy(_._1).map { case (aid, fs) =>
      val flags = fs.sortBy(_._2).map(_._3 < Multimodal.SilenceEnergyPerFrame)
      val runs = scala.collection.mutable.ArrayBuffer[Long]()
      var cur = 0L
      flags.foreach { s =>
        if (s) { if (cur > 0) runs += cur; cur = 0 } else cur += 1
      }
      if (cur > 0) runs += cur
      (aid, flags.length.toLong, flags.count(identity).toLong,
        runs.length.toLong, if (runs.isEmpty) 0L else runs.max)
    }.toSeq
    val expected = perAsset.groupBy(_._2).map { case (nf, as) =>
      (nf, as.size.toLong, as.map(_._3).sum, as.map(_._4).sum,
        as.map(_._5).max, as.map(_._3).sum * 1000000L / (nf * as.size))
    }.toSeq.sortBy(_._1)
    val got = Multimodal.vadProfile(spark, 24).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("shot detection recovers exactly the planted held-frame cuts") {
    val rows = Multimodal.videoDiffRows(spark, 24).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val aid = r.getLong(0); val nf = r.getLong(1)
      val w = r.getLong(2); val h = r.getLong(3)
      val diffs = r.getSeq[Long](4)
      val hold = 2 + (aid % 3)
      // planted: a cut exactly where frame index i crosses a hold block
      val plantedCuts = (1L until nf).filter(_ % hold == 0).toSet
      val detected = diffs.zipWithIndex.collect {
        case (dv, j) if dv > w * h * Multimodal.ShotMadPerPixel =>
          (j + 1).toLong
      }.toSet
      assert(detected === plantedCuts, s"asset $aid")
      // within-block diffs must be EXACTLY zero (lossless round-trip)
      (1L until nf).filterNot(plantedCuts).foreach { i =>
        assert(diffs(i.toInt - 1) === 0L, s"asset $aid pair $i")
      }
    }
    // profile totals equal a scalar replay
    val perAsset = rows.map { r =>
      val aid = r.getLong(0); val nf = r.getLong(1)
      val hold = 2 + (aid % 3)
      val cuts = (1L until nf).count(_ % hold == 0).toLong
      val lens = (0L until nf).groupBy(i => i / hold).values.map(_.size.toLong)
      (nf, 1L + cuts, lens.max)
    }
    val expected = perAsset.groupBy(_._1).map { case (nf, as) =>
      (nf, as.length.toLong, as.map(_._2).sum, as.map(_._3).max)
    }.toSeq.sortBy(_._1)
    val got = Multimodal.shotProfile(spark, 24).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
  }
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The media dead-letter law (q350), pinned at the unit level: every
  * (kind × corruption-class) cell of the planting matrix must land on
  * its EXPECTED coarse verdict, deterministically — and clean assets
  * must decode with `ok`. This is the spec the q350 oracle's CASE
  * arithmetic leans on.
  */
class MediaQuarantineSpec extends AnyFunSuite {
  System.setProperty("java.awt.headless", "true")

  import Multimodal._

  private def asset(id: Long): MediaAsset = {
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
      case "image" => ImageCodec.encodePng(id, 42L, meta.width, meta.height)
      case "audio" => AudioCodec.encodeWav(id, 42L, meta.sampleRate,
        meta.sampleRate / 100 * meta.nFrames)
      case _ => VideoCodec.encodeGif(id, 42L, meta.width, meta.height,
        meta.nFrames)
    }
    MediaAsset(id, meta, payload)
  }

  private def truncated(a: MediaAsset) =
    a.copy(payload = java.util.Arrays.copyOf(a.payload, a.payload.length / 2))

  private def magicFlipped(a: MediaAsset) = {
    val p = a.payload.clone()
    var i = 0
    while (i < 4) { p(i) = (p(i) ^ 0xff).toByte; i += 1 }
    a.copy(payload = p)
  }

  test("clean assets of all three kinds decode ok with exact content stats") {
    for (id <- 0L until 9L) {
      val a = asset(id)
      decodeScreened(a) match {
        case Right(samples) =>
          val expectedLen = a.meta.kind match {
            case "image" => a.meta.width * a.meta.height
            case "audio" => a.meta.sampleRate / 100 * a.meta.nFrames * 2
            case _       => a.meta.width * a.meta.height * a.meta.nFrames
          }
          assert(samples.length == expectedLen, s"id=$id")
        case Left(r) => fail(s"clean asset $id rejected: $r")
      }
    }
  }

  test("truncation quarantines as corrupt_payload for every kind") {
    for (id <- 0L until 9L) {
      val a = truncated(asset(id))
      assert(decodeScreened(a) == Left(ReasonCorrupt),
        s"id=$id kind=${a.meta.kind}")
    }
  }

  test("magic-byte corruption quarantines as corrupt_payload for every kind") {
    for (id <- 0L until 9L) {
      val a = magicFlipped(asset(id))
      assert(decodeScreened(a) == Left(ReasonCorrupt),
        s"id=$id kind=${a.meta.kind}")
    }
  }

  test("lying headers: dims lies screen as oversized, length lies as corrupt") {
    // drive through the SAME planting path the q350 fixture uses:
    // everyNth=1 with class 2 needs (id/1)%3==2, so ids 2,5,8 get the
    // lying header; exercise all kinds by planting manually instead
    for (id <- 0L until 9L) {
      val a = asset(id)
      val lied = a.copy(payload = lyingHeaderForTest(a.meta.kind, a.payload))
      val expected =
        if (a.meta.kind == "audio") ReasonCorrupt else ReasonOversized
      assert(decodeScreened(lied) == Left(expected),
        s"id=$id kind=${a.meta.kind}")
    }
  }

  test("the planting cycle covers all nine kind x class combos") {
    def clazz(id: Long): Option[Int] =
      if (id % 17L == 0L) Some((id / 17L / 3L % 3L).toInt) else None
    assert(clazz(0L).contains(0))
    assert(clazz(17L * 3).contains(1))
    assert(clazz(17L * 6).contains(2))
    assert(clazz(1L).isEmpty && clazz(16L).isEmpty)
    // the degenerate %3 cycle locked class to kind (kind = (17k)%3 has
    // the same period-3 phase as k%3); the /3 cycle must not
    val combos = (0L until 17L * 9).flatMap(id =>
      clazz(id).map(c => ((id % 3L).toInt, c))).toSet
    assert(combos.size == 9, s"only ${combos.size} combos: $combos")
  }

  test("headerScreen never allocates from a lying GIF frame descriptor") {
    // handcrafted 65535x65535 descriptor — must screen as oversized
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes)
    out.write(Array[Byte](2, 0, 2, 0))
    out.write(0x80); out.write(0); out.write(0)
    out.write(Array[Byte](0, 0, 0, -1, -1, -1))
    out.write(0x2c)
    out.write(Array[Byte](0, 0, 0, 0))
    out.write(Array[Byte](-1, -1, -1, -1))
    out.write(0); out.write(2)
    out.write(1); out.write(0x04); out.write(0)
    out.write(0x3b)
    assert(headerScreen("video", out.toByteArray).contains(ReasonOversized))
    // and a well-formed frame passes the screen
    val good = VideoCodec.encodeGif(7L, 42L, 64, 64, 3)
    assert(headerScreen("video", good).isEmpty)
    val goodPng = ImageCodec.encodePng(7L, 42L, 96, 64)
    assert(headerScreen("image", goodPng).isEmpty)
  }

  /** Delegates to the production corruption (private[operators]) so the
    * unit test can never silently drift from what q350 actually plants
    * (ADVICE r13 — the old byte-for-byte mirror could). */
  private def lyingHeaderForTest(kind: String, p: Array[Byte]): Array[Byte] =
    Multimodal.lyingHeader(kind, p)
}

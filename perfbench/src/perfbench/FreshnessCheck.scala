package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit

/** Checks the freshness arithmetic on a synthetic checkpoint with known
  * times, without Spark: four files due at 0, 200, 400 and 600 ms land in
  * batches 0, 0, 1 and 1, which start at 250/650 ms and commit at
  * 1000/1500 ms (epoch offsets from a fixed base). Run by the benchmark's
  * tests: `perfbench.FreshnessCheck <scratch dir>`; prints `ok` or the
  * mismatch and exits non-zero. */
object FreshnessCheck {
  def main(args: Array[String]): Unit = {
    val ckpt = Files.createDirectories(Paths.get(args(0)).resolve("ckpt"))
    val base = 1750000000000.0
    val src = Files.createDirectories(ckpt.resolve("sources").resolve("0"))
    def entry(f: String, b: Int) =
      s"""{"path":"file:///in/$f","timestamp":1,"batchId":$b}"""
    Files.writeString(src.resolve("0"), Seq("v1", entry("a.json", 0), entry("b.json", 0)).mkString("\n"), UTF_8)
    Files.writeString(src.resolve("1"), Seq("v1", entry("c.json", 1), entry("d.json", 1)).mkString("\n"), UTF_8)
    def stamp(log: String, batch: Int, atMs: Double): Unit = {
      val p: Path = Files.createDirectories(ckpt.resolve(log)).resolve(batch.toString)
      Files.writeString(p, "v1\n{}", UTF_8)
      Files.setLastModifiedTime(p, FileTime.from(((base + atMs) * 1000).toLong, TimeUnit.MICROSECONDS))
    }
    stamp("offsets", 0, 250); stamp("offsets", 1, 650)
    stamp("commits", 0, 1000); stamp("commits", 1, 1500)
    val due = Map("a.json" -> 0.0, "b.json" -> 200.0, "c.json" -> 400.0,
      "d.json" -> 600.0, "e.json" -> 800.0).map { case (f, t) => f -> (base + t) }
    val batchOf = Ingest.fileBatches(ckpt)
    val (lat, missing) = Ingest.latencies(due, batchOf, Ingest.logTimes(ckpt, "commits"))
    val backlog = Ingest.backlogMax(due - "e.json", batchOf, Ingest.logTimes(ckpt, "offsets"))
    val want = Vector(1.0, 0.8, 1.1, 0.9)
    val ok = lat.size == want.size && lat.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-6 } &&
      missing == Seq("e.json") && backlog == 2 &&
      math.abs(Main.pct(lat, 50) - 0.95) < 1e-6 && math.abs(Main.pct(lat, 90) - 1.07) < 1e-6
    println(if (ok) "ok" else s"mismatch: latencies=$lat missing=$missing backlog=$backlog")
    if (!ok) sys.exit(1)
  }
}

package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

/** The benchmarked headline queries and their result digests. */
object Queries {

  /** The benchmarked headlines, each with the scale (a directory under
    * `perfbench/data`) it runs at. A query runs at sf0.1 where its own work
    * outgrows its fixed per-query cost only there; NOTES.md has the
    * measurements behind each choice. The tiny size runs three sub-second
    * queries at sf0.001. */
  def plan(tiny: Boolean): Seq[(String, String)] =
    if (tiny) Seq("q01_pricing_summary", "q30_events_json_extract", "q70_gps_enrich_agg")
      .map(_ -> "sf0.001")
    else Seq(
      "q60_multimodal_profile" -> "sf0.01",       // decode-bound at both scales
      "q44_ngram_jaccard" -> "sf0.1",             // shuffle join outgrows fixed costs
      "q139_streamed_hourly_profile" -> "sf0.01", // stream start-up and state store
      "q70_gps_enrich_agg" -> "sf0.1")            // generator + enrichment

  /** Canonical text of one cell: byte arrays as hex, nested values
    * element-wise, everything else by its `toString` (deterministic for the
    * numeric, string, date and timestamp values these queries emit). */
  private def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** SHA-256 (first 16 hex digits) over the ordered rows, and the row count.
    * Every headline query is fully ordered, so row order is part of the
    * result. */
  def digest(df: DataFrame): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fieldNames.mkString("\t").getBytes(UTF_8))
    var n = 0L
    df.collect().foreach { r =>
      md.update('\n'.toByte); md.update(canon(r).getBytes(UTF_8)); n += 1
    }
    (n, md.digest().take(8).map(x => f"$x%02x").mkString)
  }

  /** Golden file: one `name<TAB>rows<TAB>digest` line per query. */
  def readGolden(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(n, rows, d) = l.split("\t")
      n -> (rows.toLong, d)
    }.toMap

  def writeGolden(p: Path, ds: Seq[(String, (Long, String))]): Unit =
    Files.writeString(p, ds.sortBy(_._1)
      .map { case (n, (rows, d)) => s"$n\t$rows\t$d\n" }.mkString, UTF_8)
}

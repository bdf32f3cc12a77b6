package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.sources.GpsGenerator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One staged input file and the lines it carries. */
final case class InputFile(path: Path, good: Int, bad: Int) {
  def name: String = path.getFileName.toString
}

/** Input staging, checkpoint reading and output checks shared by the two
  * ingest workloads. */
object Ingest {

  /** Files written by `GpsGenerator.writeJsonFiles` for (`files` ×
    * `rowsPerFile`, `seed`), in name order, with their line counts. */
  def stage(spark: SparkSession, dir: Path, files: Int, rowsPerFile: Int,
      seed: Long): Vector[InputFile] = {
    GpsGenerator.writeJsonFiles(spark, dir.toString, files.toLong * rowsPerFile, files, seed)
    listParts(dir).map(p => InputFile(p, lineCount(p), 0))
  }

  /** Pre-renders `files` files of `rowsPerFile` generator rows each into
    * `out`, named `<prefix>_<index>.json`: one `GpsGenerator.writeJsonFiles`
    * call split line by line, with a malformed line inserted before about
    * `badPerMille`/1000 of the good lines, at positions chosen by `seed`. */
  def render(spark: SparkSession, tmp: Path, out: Path, prefix: String,
      files: Int, rowsPerFile: Int, seed: Long, badPerMille: Int): Vector[InputFile] = {
    GpsGenerator.writeJsonFiles(spark, tmp.toString, files.toLong * rowsPerFile,
      math.min(files, 4), seed)
    val lines = listParts(tmp).iterator.flatMap(p => Files.readAllLines(p, UTF_8).asScala)
    val rng = new scala.util.Random(seed)
    Files.createDirectories(out)
    val rendered = (0 until files).map { i =>
      val sb = new java.lang.StringBuilder
      var bad = 0
      lines.take(rowsPerFile).foreach { line =>
        if (rng.nextInt(1000) < badPerMille) {
          sb.append("{\"vehicle_id\":\"").append(rng.nextInt(1 << 30).toHexString)
            .append("\",\"speed_kmh\":").append('\n')
          bad += 1
        }
        sb.append(line).append('\n')
      }
      val dest = out.resolve(f"${prefix}_$i%05d.json")
      Files.writeString(dest, sb, UTF_8)
      InputFile(dest, rowsPerFile, bad)
    }.toVector
    graft.core.DirIO.deleteRecursively(tmp)
    rendered
  }

  private def listParts(dir: Path): Vector[Path] =
    graft.core.DirIO.list(dir)(_.iterator.asScala.toVector)
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)

  private def lineCount(p: Path): Int = {
    val r = Files.newBufferedReader(p, UTF_8)
    try Iterator.continually(r.readLine()).takeWhile(_ != null).size
    finally r.close()
  }

  /** file name → micro-batch id, from the file source's metadata log in
    * the checkpoint (`sources/0/<batch>` and its compactions). */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val pathRe = "\"path\":\"([^\"]*)\"".r
    val batchRe = "\"batchId\":(\\d+)".r
    graft.core.DirIO.list(dir)(_.iterator.asScala.toVector)
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .flatMap { line =>
        for (pm <- pathRe.findFirstMatchIn(line); bm <- batchRe.findFirstMatchIn(line))
          yield baseName(pm.group(1)) -> bm.group(1).toLong
      }.toMap
  }

  /** batch id → mtime (epoch ms) of its entry in a checkpoint log
    * (`commits` is written when a batch commits, `offsets` when it starts). */
  def logTimes(ckpt: Path, log: String): Map[Long, Double] = {
    val dir = ckpt.resolve(log)
    if (!Files.isDirectory(dir)) return Map.empty
    graft.core.DirIO.list(dir)(_.iterator.asScala.toVector)
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(p => p.getFileName.toString.toLong ->
        Files.getLastModifiedTime(p).to(TimeUnit.MICROSECONDS) / 1000.0)
      .toMap
  }

  def baseName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)

  /** Per-file latency in seconds: the commit time of the micro-batch that
    * held the file minus the time the file was due. Files with no committed
    * batch are returned as missing. */
  def latencies(due: Map[String, Double], batchOf: Map[String, Long],
      commitAt: Map[Long, Double]): (Vector[Double], Seq[String]) = {
    val got = due.toVector.sortBy(_._1).map { case (f, d) =>
      f -> batchOf.get(f).flatMap(commitAt.get).map(c => (c - d) / 1000.0)
    }
    (got.flatMap(_._2), got.collect { case (f, None) => f })
  }

  /** Largest number of landed files not yet taken by an earlier batch, at
    * the start of each micro-batch. */
  def backlogMax(landed: Map[String, Double], batchOf: Map[String, Long],
      startAt: Map[Long, Double]): Int =
    startAt.toSeq.map { case (b, t) =>
      landed.count { case (f, at) => at <= t && batchOf.get(f).forall(_ >= b) }
    }.maxOption.getOrElse(0)

  /** Aggregates compared between an ingested table and the generator, by
    * direction: row count, exact decimal sums of the numeric columns, flag
    * counts, and the min/max of the timestamp and vehicle id. All of them
    * combine across groups, so one pass grouped by (file, direction) yields
    * both the per-file row counts and the per-direction aggregate. */
  private val aggs = {
    def dsum(c: String, scale: Int) = sum(col(c).cast(s"decimal(28,$scale)"))
    Seq(count(lit(1)), dsum("speed_kmh", 2), dsum("battery_level", 2),
      dsum("fuel_level", 2), dsum("latitude", 6), dsum("longitude", 6),
      sum(col("collision_detected").cast("long")), sum(col("sudden_braking").cast("long")),
      min("timestamp"), max("timestamp"), min("vehicle_id"), max("vehicle_id"))
  }
  private val additive = 8

  private def combine(a: Seq[Any], b: Seq[Any]): Seq[Any] = a.zip(b).zipWithIndex.map {
    case ((x, null), _) => x
    case ((null, y), _) => y
    case ((x: Long, y: Long), _) => x + y
    case ((x: java.math.BigDecimal, y: java.math.BigDecimal), _) => x.add(y)
    case ((x: String, y: String), i) =>
      if ((i - additive) % 2 == 0) (if (x < y) x else y) else (if (x > y) x else y)
    case ((x, y), _) => throw new IllegalStateException(s"cannot combine $x and $y")
  }

  private def grouped(df: DataFrame, keys: org.apache.spark.sql.Column*): Seq[Row] =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*).collect().toSeq

  def expectedAgg(spark: SparkSession, files: Vector[InputFile], seed: Long): Map[String, Seq[Any]] =
    grouped(GpsGenerator.batch(spark, files.map(_.good.toLong).sum, seed), col("direction"))
      .map(r => r.getString(0) -> r.toSeq.drop(1)).toMap

  /** Checks an ingested table against its inputs. Each file is one attempt:
    * it fails when its rows are missing, duplicated or miscounted, or when
    * its quarantined lines differ from the malformed lines injected into it.
    * The per-direction aggregate is one more attempt. Returns
    * (attempted, failed, messages). */
  def check(spark: SparkSession, table: String, quarantine: Option[String],
      files: Vector[InputFile], expected: Map[String, Seq[Any]]): (Int, Int, Seq[String]) = {
    def name(c: String) = substring_index(col(c), "/", -1)
    val groups = grouped(spark.table(table), name("input_file"), col("direction"))
    val rows = groups.groupMapReduce(_.getString(0))(_.getLong(2))(_ + _)
    val byDirection = groups.groupMapReduce(_.getString(1))(_.toSeq.drop(2))(combine)
    val dlq = quarantine.filter(spark.catalog.tableExists).map(q =>
      spark.table(q).groupBy(name("src_file")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
    val msgs = Seq.newBuilder[String]
    var failed = 0
    files.foreach { f =>
      val n = rows.getOrElse(f.name, 0L)
      val q = dlq.getOrElse(f.name, 0L)
      if (n != f.good || q != f.bad) {
        failed += 1
        msgs += s"$table: ${f.name} rows=$n dlq=$q, expected ${f.good}/${f.bad}"
      }
    }
    val known = files.map(_.name).toSet
    val extra = (rows.keySet ++ dlq.keySet).filterNot(known)
    if (extra.nonEmpty) msgs += s"$table: rows from unexpected files ${extra.mkString(",")}"
    val aggOk = byDirection == expected
    if (!aggOk) msgs += s"$table: per-direction aggregate differs from the generator"
    (files.size + extra.size + 1, failed + extra.size + (if (aggOk) 0 else 1), msgs.result())
  }

  /** Parquet files and bytes under a managed table's location. */
  def tableFiles(spark: SparkSession, table: String): (Long, Long) = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
    loc.map(l => java.nio.file.Paths.get(new java.net.URI(l))).filter(Files.isDirectory(_))
      .map(d => graft.core.DirIO.walk(d)(_.iterator.asScala.toVector)
        .filter(p => p.getFileName.toString.endsWith(".parquet")))
      .map(ps => (ps.size.toLong, ps.map(Files.size).sum)).getOrElse((0L, 0L))
  }
}

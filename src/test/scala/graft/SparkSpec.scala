package graft

import java.nio.file.{Files, Path}

import graft.core.SparkSessionFactory
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it). */
object SparkSpec {
  // local[4, 2]: maxFailures = 2, so a failed task gets ONE re-attempt —
  // production behavior (cluster default 4), and what RetrySafetySpec's
  // injected first-attempt failures need to exercise re-attempt
  // determinism. Specs that assert on failing jobs still see the failure
  // (a deterministic throw re-throws on the retry).
  // The warehouse outlives every suite (tables cross suites), so it goes
  // when the test JVM exits. The filesystem classes, optimizer settings
  // and query-stage rule come from the factory's `engine`, so specs run
  // and plan like the entry points.
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(graft.core.DirIO.deleteRecursively(warehouse))
    SparkSessionFactory.engine(SparkSession.builder())
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp dir, deleted when the suite ends. */
  def tmpDir(prefix: String): String = tmpDirs.synchronized {
    val d = Files.createTempDirectory(prefix)
    tmpDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try tmpDirs.foreach(d =>
      if (Files.exists(d)) graft.core.DirIO.deleteRecursively(d))
    finally super.afterAll()
  val sf: String = "/root/testdata/sf0.001"
}

package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** K1–K4 against a REAL Iceberg runtime (VERDICT r13 #8: activation must
  * be a config flip). The offline build has no iceberg-spark-runtime jar
  * (zero egress), so every test here is GUARDED: it runs only when
  *
  *   GRAFT_ICEBERG_IT=1 sbt "testOnly graft.streaming.IcebergSinkIT"
  *
  * is set AND the runtime class resolves — otherwise the suite cancels
  * (reported as canceled, never failed). With the jar on the classpath
  * (ICEBERG.md §1) the suite exercises, against a `type=hadoop` local
  * catalog (no AWS dependency):
  *   K1 writer options (option-for-option IcebergSink.write),
  *   K2 identity partitioning,
  *   K3 create-or-append across two writes,
  *   K4 namespace DDL.
  */
class IcebergSinkIT extends AnyFunSuite {

  private def icebergAvailable: Boolean =
    sys.env.get("GRAFT_ICEBERG_IT").contains("1") &&
      (try {
        Class.forName("org.apache.iceberg.spark.SparkCatalog"); true
      } catch { case _: ClassNotFoundException => false })

  private def withIcebergSession(f: (SparkSession, String) => Unit): Unit = {
    val wh = java.nio.file.Files.createTempDirectory("iceberg_it_wh")
    val spark = graft.core.SparkSessionFactory.engine(SparkSession.builder())
      .master("local[4]")
      .appName("graft-iceberg-it")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
      .config("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
      .config("spark.sql.catalog.it.type", "hadoop")
      .config("spark.sql.catalog.it.warehouse", wh.toString)
      .getOrCreate()
    try f(spark, wh.toString)
    finally {
      spark.stop()
      graft.core.DirIO.deleteRecursively(wh)
    }
  }

  test("K1-K4: IcebergSink commits real snapshots on a hadoop catalog") {
    assume(icebergAvailable,
      "set GRAFT_ICEBERG_IT=1 with iceberg-spark-runtime on the classpath")
    withIcebergSession { (spark, _) =>
      import spark.implicits._
      // K4: namespace DDL (plain spark.sql, SURVEY §2.3)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS it.graft")
      val t = "it.graft.gps"
      val batch1 = Seq(("v1", "N", 10.0), ("v2", "S", 20.0))
        .toDF("vehicle_id", "direction", "speed_kmh")
      val batch2 = Seq(("v3", "N", 30.0))
        .toDF("vehicle_id", "direction", "speed_kmh")
      // K3 create branch + K1 options + K2 identity partitioning
      IcebergSink.write(batch1, t, partitionCols = Seq("direction"))
      assert(spark.table(t).count() == 2)
      // K3 append branch: second write must append, not replace
      IcebergSink.write(batch2, t, partitionCols = Seq("direction"))
      assert(spark.table(t).count() == 3)
      // real snapshot history: two commits in the metadata table
      val snapshots = spark.sql(s"SELECT * FROM $t.snapshots").count()
      assert(snapshots == 2L, s"expected 2 Iceberg snapshots, saw $snapshots")
      // K2: partition pruning hits the identity partition
      val n = spark.table(t).where($"direction" === "N").count()
      assert(n == 2L)
    }
  }
}

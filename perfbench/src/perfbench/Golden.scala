package perfbench

import java.nio.file.{Files, Paths}

import graft.core.{DirIO, SparkSessionFactory}

/** Writes a golden digest file from the parquet outputs of `graft.Verify`,
  * after `tools/compare.py` has accepted them against the DuckDB oracle.
  * `graft.Verify` runs once per scale, into `<verify-out-root>/<scale>`.
  *
  * Usage: `Golden <verify-out-root> <golden-file> <full|tiny>` */
object Golden {
  def main(args: Array[String]): Unit = {
    val Array(dir, golden, size) = args

    val spark = SparkSessionFactory.local(4, "perfbench-golden")
    try {
      val ds = Queries.plan(size == "tiny").map { case (q, scale) =>
        q -> Queries.digest(spark.read.parquet(s"$dir/$scale/$q"))
      }
      Queries.writeGolden(Paths.get(golden), ds)
      ds.foreach { case (q, (rows, d)) => println(s"# golden $q $rows $d") }
    } finally {
      val local = spark.conf.getOption("spark.local.dir")
      spark.stop()
      local.map(Paths.get(_)).filter(Files.exists(_)).foreach(DirIO.deleteRecursively)
    }
  }
}

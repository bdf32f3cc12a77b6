package graft.operators

import graft.SparkSpec

/** The tmp + DROP/RENAME swap under [[Upsert.mergeLatest]]: both crash
  * windows recover, and a rewrite leaves no table beside the live one. */
class TableSwapSpec extends SparkSpec {

  import spark.implicits._

  private def tablesLike(prefix: String): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).sorted.toSeq

  private def withTable(name: String)(body: => Unit): Unit =
    try body finally
      tablesLike(name).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rows(table: String): Seq[(Long, Long, Double)] =
    spark.table(table).as[(Long, Long, Double)].collect().sortBy(_._1).toSeq

  test("recover renames a tmp stranded after the DROP") {
    // The crash window: the new content lives only under __swap_tmp, the
    // original name is gone. recover must install the tmp as the table.
    withTable("swap_crash") {
      Seq((1L, 1L, 2.0), (2L, 1L, 4.0)).toDF("id", "ver", "v")
        .write.format("parquet").mode("overwrite")
        .saveAsTable("swap_crash" + TableSwap.TmpSuffix)
      assert(!spark.catalog.tableExists("swap_crash"))
      TableSwap.recover(spark, "swap_crash")
      assert(spark.catalog.tableExists("swap_crash"))
      assert(!spark.catalog.tableExists("swap_crash" + TableSwap.TmpSuffix))
      assert(rows("swap_crash") == Seq((1L, 1L, 2.0), (2L, 1L, 4.0)))
    }
  }

  test("a merge cut between DROP and RENAME recovers") {
    // A real merge first, then its successor cut in the crash window: the
    // next content is materialized under __swap_tmp and the live table is
    // dropped, but the rename never ran. recover installs the tmp, and the
    // next merge runs on the recovered rows.
    withTable("swap_cut") {
      Seq((1L, 1L, 1.0)).toDF("id", "ver", "v")
        .write.format("parquet").saveAsTable("swap_cut")
      Upsert.mergeLatest(spark, "swap_cut",
        Seq((2L, 1L, 2.0)).toDF("id", "ver", "v"), Seq("id"), Seq("ver"))
      spark.table("swap_cut").withColumn("v",
          org.apache.spark.sql.functions.col("v") * 2)
        .write.format("parquet").mode("overwrite")
        .saveAsTable("swap_cut" + TableSwap.TmpSuffix)
      spark.sql("DROP TABLE swap_cut")

      TableSwap.recover(spark, "swap_cut")
      assert(tablesLike("swap_cut") == Seq("swap_cut"))
      assert(rows("swap_cut") == Seq((1L, 1L, 2.0), (2L, 1L, 4.0)))
      Upsert.mergeLatest(spark, "swap_cut",
        Seq((1L, 2L, 10.0)).toDF("id", "ver", "v"), Seq("id"), Seq("ver"))
      assert(rows("swap_cut") == Seq((1L, 2L, 10.0), (2L, 1L, 4.0)))
    }
  }

  test("clears a stale tmp left by a pre-DROP crash without touching the table") {
    // Crash BEFORE the DROP: both tables exist; the tmp is stale state from
    // the failed run and must be discarded, the original merged as-is.
    withTable("swap_stale") {
      Seq((1L, 1L, 1.0), (2L, 1L, 2.0)).toDF("id", "ver", "v")
        .write.format("parquet").saveAsTable("swap_stale")
      Seq((9L, 9L, 9.0)).toDF("id", "ver", "v")
        .write.format("parquet").saveAsTable("swap_stale" + TableSwap.TmpSuffix)
      Upsert.mergeLatest(spark, "swap_stale",
        Seq((2L, 2L, 20.0)).toDF("id", "ver", "v"), Seq("id"), Seq("ver"))
      assert(rows("swap_stale") == Seq((1L, 1L, 1.0), (2L, 2L, 20.0)))
      assert(!spark.catalog.tableExists("swap_stale" + TableSwap.TmpSuffix))
    }
  }

  test("repeated merges leave only the live table: no snapshot, no tmp") {
    withTable("swap_keep") {
      Seq((1L, 0L, 0.0)).toDF("id", "ver", "v")
        .write.format("parquet").saveAsTable("swap_keep")
      (1L to 3L).foreach { i =>
        Upsert.mergeLatest(spark, "swap_keep",
          Seq((1L, i, i.toDouble), (i + 1, i, i.toDouble)).toDF("id", "ver", "v"),
          Seq("id"), Seq("ver"))
      }
      assert(tablesLike("swap_keep") == Seq("swap_keep"))
      assert(rows("swap_keep") ==
        Seq((1L, 3L, 3.0), (2L, 1L, 1.0), (3L, 2L, 2.0), (4L, 3L, 3.0)))
    }
  }
}

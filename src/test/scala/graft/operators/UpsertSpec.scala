package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UpsertSpec extends SparkSpec {

  import spark.implicits._

  test("mergeLatest survives a crash-stranded swap from a prior run") {
    try {
      Seq((1L, 1L, 1.0)).toDF("id", "ver", "v")
        .write.format("parquet").mode("overwrite").saveAsTable("up_crash__swap_tmp")
      assert(!spark.catalog.tableExists("up_crash"))
      // recovery completes the rename, then the merge applies on top
      TableSwap.recover(spark, "up_crash")
      Upsert.mergeLatest(spark, "up_crash",
        Seq((1L, 2L, 9.0), (2L, 1L, 2.0)).toDF("id", "ver", "v"),
        Seq("id"), Seq("ver"))
      val out = spark.table("up_crash").orderBy("id")
        .as[(Long, Long, Double)].collect().toSeq
      assert(out == Seq((1L, 2L, 9.0), (2L, 1L, 2.0)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS up_crash")
      spark.sql("DROP TABLE IF EXISTS up_crash__swap_tmp")
    }
  }

  test("mergeLatest never regresses a key to an older version (q280 law)") {
    try {
      Seq((1L, "fresh", 5L, 100L), (2L, "old", 1L, 10L))
        .toDF("id", "state", "ver", "v")
        .write.format("parquet").mode("overwrite").saveAsTable("up_cdc")
      // plain replace-on-match (anti-join + union, MERGE INTO's
      // WHEN MATCHED UPDATE) on a stale change for key 1 WOULD regress
      // it — the contract difference mergeLatest exists for
      val stale = Seq((1L, "stale", 3L, 999L)).toDF("id", "state", "ver", "v")
      val replaced = spark.table("up_cdc")
        .join(stale.select("id"), Seq("id"), "left_anti").unionByName(stale)
      assert(replaced.where(col("id") === 1).head().getString(1) == "stale")
      // the STALE change for key 1 (ver 3 < current 5) arrives late, a
      // genuinely newer one for key 2, a brand-new key 3, and a
      // within-batch pair for key 3 where the newer row must win
      val updates = stale.unionByName(Seq(
        (2L, "newer", 7L, 20L),
        (3L, "first", 2L, 30L),
        (3L, "second", 4L, 31L)).toDF("id", "state", "ver", "v"))
      Upsert.mergeLatest(spark, "up_cdc", updates, Seq("id"), Seq("ver"))
      val out = spark.table("up_cdc").orderBy("id")
        .as[(Long, String, Long, Long)].collect().toSeq
      assert(out == Seq(
        (1L, "fresh", 5L, 100L),  // stale update REJECTED
        (2L, "newer", 7L, 20L),   // newer update applied
        (3L, "second", 4L, 31L)), // within-batch newest wins
        s"latest-wins merge produced $out")
    } finally spark.sql("DROP TABLE IF EXISTS up_cdc")
  }
}

package graft
import graft.core.SparkSessionFactory

/** Prints the formatted physical plan of each headline query (or the
  * queries named as args) — the scale review loop: check filters reach the
  * parquet scan (PushedFilters), small dimensions broadcast, and
  * whole-stage codegen spans stay wide. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSessionFactory.localFromEnv("graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    // q139 (streaming headline) is excluded by default: building it runs
    // a REAL streaming pipeline eagerly, and the resulting plan is just
    // the memory-sink scan — the streaming plan itself is in the
    // checkpoint's offsets/metadata, not explain() territory.
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.headlines.filterNot(_.startsWith("q139"))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // Execute BEFORE explaining (VERDICT r11 #6): an un-run plan prints
      // `isFinalPlan=false` — the shape AQE *proposed*, not the one that
      // ran. collect() materializes this exact QueryExecution (count()
      // would build a different one), so the explain below is the
      // runtime-final plan: AQE's coalesced exchanges, runtime join
      // demotions/promotions, and skew splits all visible. Headline
      // outputs are aggregate/top-k sized, so collect() is bounded.
      df.collect()
      df.explain("formatted")
    }
    spark.stop()
  }
}

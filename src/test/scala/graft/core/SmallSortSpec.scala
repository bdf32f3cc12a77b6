package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[SmallSort]]: a global sort over small materialized stages runs as
  * one range partition and skips the sampling job; every other sort keeps
  * the parallel range sort. Job counts are the modal count of 3 runs. */
class SmallSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val meter = Meter.on(spark)
  private val AdvisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Run `df` under `coalesce(1)`, as Verify does before its write; the
    * partition counts of its range exchanges in the final plan, and the
    * modal job count over 3 runs. */
  private def run(df: () => DataFrame): (Seq[Int], Int) = {
    var parts = Seq.empty[Int]
    val jobs = (1 to 3).map { _ =>
      val label = "small-sort-" + java.util.UUID.randomUUID()
      val d = df().coalesce(1)
      meter.label(label)(d.collect())
      parts = rangeParts(d)
      meter.record(label).jobs.size
    }
    (parts, graft.QueryTime.modal(jobs))
  }

  /** Partition counts of the range exchanges in `d`'s executed plan. */
  private def rangeParts(d: DataFrame): Seq[Int] =
    collectWithSubqueries(d.queryExecution.executedPlan) {
      case ShuffleExchangeExec(RangePartitioning(_, n), _, _, _) => n
    }

  /** 20k rows in 4 splits, aggregated to 100 groups and sorted. */
  private def smallAgg(): DataFrame =
    spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("n"))
      .orderBy(col("k"))

  test("a sort over a small aggregated stage is one range partition with no sampling job") {
    val (parts, jobs) = run(() => smallAgg())
    assert(parts == Seq(1))
    // aggregate stage, range map stage, result: no sampling job between
    assert(jobs == 3)
  }

  test("a sort whose stage input exceeds the advisory size keeps the shuffle partitions") {
    val (parts, jobs) = SessionConf.withConf(spark, AdvisoryKey -> "1k")(run(() => smallAgg()))
    assert(parts == Seq(spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // the parallel range sort samples its input first
    assert(jobs == 4)
  }

  test("sorts over a join, an explode or a scan are left alone") {
    val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val agg = () => spark.range(0, 20000, 1, 4)
      .groupBy((col("id") % 100).as("k")).agg(count(lit(1)).as("n"))
    val joined = () => {
      val other = spark.range(0, 20000, 1, 4)
        .groupBy((col("id") % 50).as("k")).agg(sum(col("id")).as("s"))
      agg().join(other, "k").orderBy(col("k"))
    }
    val exploded = () => agg()
      .select(col("k"), explode(array(col("n"), col("n") + 1)).as("v"))
      .orderBy(col("k"), col("v"))
    val scanned = () => spark.range(0, 20000, 1, 4).toDF().orderBy(col("id").desc)
    for ((name, df) <- Seq("join" -> joined, "explode" -> exploded, "scan" -> scanned))
      assert(run(df)._1 == Seq(shuffleParts), name)
  }

  test("sorted output is identical with the rule firing and not") {
    val q44 = () => graft.SparkEntry.queries("q44_ngram_jaccard")(spark, sf)
    def rowsAndParts(d: DataFrame) = (d.collect().toSeq, rangeParts(d))
    for (df <- Seq(() => smallAgg(), q44)) {
      val (on, partsOn) = rowsAndParts(df())
      val (off, partsOff) =
        SessionConf.withConf(spark, AdvisoryKey -> "1")(rowsAndParts(df()))
      assert(partsOn.nonEmpty && partsOn.forall(_ == 1))
      assert(partsOff.nonEmpty && partsOff.forall(_ > 1))
      assert(on.nonEmpty && on == off)
    }
  }
}

package graft.core

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The one metering listener: work is recorded under the label whose
  * scope ran it (streams included), a record is complete as soon as the
  * action returns, and the meter is installed once per context. */
class MeterSpec extends SparkSpec {

  private lazy val meter = Meter.on(spark)

  /** One job of 4 map tasks feeding 2 reduce tasks. */
  private def shuffleJob(): Unit =
    spark.sparkContext.parallelize(1 to 1000, 4)
      .map(i => (i % 7, 1)).reduceByKey(_ + _, 2).collect()

  test("a batch and a stream under two labels: the stream's shuffle and batches land on its label only") {
    meter.label("meter-a")(
      spark.range(0, 5000, 1, 4).groupBy(col("id") % 10).count().collect())
    val a = meter.record("meter-a")
    assert(a.jobs.nonEmpty && a.shuffleWrite > 0 && a.shuffleRead > 0)
    assert(a.batches.isEmpty)

    val dir = tmpDir("meter_stream")
    Files.createDirectories(Paths.get(dir, "in"))
    (0 until 2).foreach { f =>
      Files.write(Paths.get(dir, "in", s"f$f.json"),
        (0 until 50).map(i => s"""{"k":${i % 5},"v":$i}""").mkString("\n")
          .getBytes("UTF-8"))
    }
    meter.label("meter-b") {
      val q = spark.readStream.schema("k INT, v INT")
        .option("maxFilesPerTrigger", 1).json(s"$dir/in")
        .groupBy(col("k")).agg(sum(col("v")))
        .writeStream.format("memory").queryName("meter_spec_stream")
        .outputMode("complete").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.awaitTermination() finally q.stop()
    }
    spark.catalog.dropTempView("meter_spec_stream")
    val b = meter.record("meter-b")
    assert(b.jobs.nonEmpty && b.shuffleWrite > 0 && b.shuffleRead > 0,
      "the stream's micro-batch exchange is recorded on its label")
    val ids = b.batches.map(j => "\"batchId\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(j).get.group(1).toInt)
    assert(ids == Seq(0, 1), "one progress record per micro-batch")
    assert(b.batches.forall(_.contains("\"durationMs\"")))
    assert(meter.record("meter-a") == a, "the stream adds nothing to a's label")
  }

  test("a record read right after the action already holds every job and task") {
    meter.label("meter-now")(shuffleJob())
    val r = meter.record("meter-now")
    assert(r.jobs.map(_.stages) == Seq(2) && r.stages == 2 && r.tasks == 6, r)
    assert(r.shuffleWrite > 0 && r.shuffleRead == r.shuffleWrite, r)
    // many short jobs: without the delivery wait some read lands before
    // the job's end event does
    (1 to 200).foreach { i =>
      val l = s"meter-now-$i"
      meter.label(l)(spark.sparkContext.parallelize(1 to 10, 1).count())
      val r = meter.record(l)
      assert(r.jobs.size == 1 && r.tasks == 1, s"pass $i: $r")
    }
  }

  test("the caller's label is restored after a body that throws") {
    meter.label("meter-outer") {
      intercept[IllegalStateException](meter.label("meter-inner") {
        throw new IllegalStateException("boom")
      })
      shuffleJob()
    }
    shuffleJob() // outside every label: metered nowhere
    assert(meter.record("meter-outer").jobs.size == 1)
    assert(meter.record("meter-inner").jobs.isEmpty)
  }

  test("a second Meter.on returns the same meter without a second listener") {
    val first = meter
    val listeners = spark.streams.listListeners().length
    assert(Meter.on(spark) eq first)
    assert(spark.streams.listListeners().length == listeners)
    meter.label("meter-once")(shuffleJob())
    val r = meter.record("meter-once")
    assert(r.jobs.size == 1 && r.tasks == 6, "each event is counted once")
  }
}

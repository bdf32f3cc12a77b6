package graft.sources

import graft.SparkSpec
import graft.sources.SqsCompatRunner.{Message, MessageSource}
import graft.streaming.TableSink
import org.apache.spark.sql.DataFrame

/** Reference-fidelity loop: at-least-once semantics incl. the duplicate-on-
  * replay behavior SURVEY §1.4 documents. */
class SqsCompatSpec extends SparkSpec {

  /** In-memory queue with SQS redelivery semantics: polled messages stay
    * in flight until commit; a poll after a failed (uncommitted) batch
    * redelivers them. */
  private class MemQueue(initial: Seq[Message]) extends MessageSource {
    private var queue = initial.toVector
    private var inFlight = Vector.empty[Message]
    def poll(max: Int): Seq[Message] = {
      inFlight = queue.take(max)
      inFlight
    }
    def commit(): Unit = {
      queue = queue.filterNot(m => inFlight.exists(_.receiptHandle == m.receiptHandle))
      inFlight = Vector.empty
    }
    def remaining: Int = queue.size
  }

  private def writeFilesAndEnvelope(n: Long, seed: Long): Message = {
    val dir = tmpDir("sqs-batch")
    GpsGenerator.writeJsonFiles(spark, dir, n, files = 1, seed = seed)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json")).head.getAbsolutePath
    // file-protocol envelope: bucket is empty, key carries the local path.
    Message(s"""{"Records":[{"s3":{"bucket":{"name":""},"object":{"key":"$f"}}}]}""",
      s"rh-$seed")
  }

  test("poll -> parse -> read -> enrich -> write -> commit; empty skipped") {
    val table = "gps_sqs"
    val q = new MemQueue(Seq(
      writeFilesAndEnvelope(200, seed = 1),
      Message("""{"Records":[]}""", "rh-empty"),
      writeFilesAndEnvelope(100, seed = 2)))

    val n = SqsCompatRunner.runOnce(spark, q, table)
    assert(n == 2) // two real files across three messages, empty skipped
    assert(spark.table(table).count() == 300)
    assert(q.remaining == 0)

    // Second poll: queue drained, nothing written.
    assert(SqsCompatRunner.runOnce(spark, q, table) == 0)
    assert(spark.table(table).count() == 300)
    spark.sql(s"DROP TABLE $table")
  }

  test("crash between write and commit duplicates rows on redelivery (at-least-once)") {
    val table = "gps_alo"
    val q = new MemQueue(Seq(writeFilesAndEnvelope(150, seed = 3)))

    // Simulate the reference crashing after the table write but before the
    // SQS delete: write via a sink whose commit-side (queue delete) never
    // runs.
    val failingQueue = new MessageSource {
      def poll(max: Int): Seq[Message] = q.poll(max)
      def commit(): Unit = throw new RuntimeException("crash before delete")
    }
    intercept[RuntimeException] {
      SqsCompatRunner.runOnce(spark, failingQueue, table)
    }
    assert(spark.table(table).count() == 150)
    assert(q.remaining == 1) // message redelivered

    // Recovery run re-reads the same file: duplicates, as documented.
    SqsCompatRunner.runOnce(spark, q, table)
    assert(spark.table(table).count() == 300)
    assert(q.remaining == 0)
    spark.sql(s"DROP TABLE $table")
  }

  test("a failing write leaves no temp_view in the caller's session") {
    val q = new MemQueue(Seq(writeFilesAndEnvelope(50, seed = 4)))
    val failingSink = new TableSink {
      def write(df: DataFrame, fqn: String, partitionCols: Seq[String],
          compression: String): Unit = throw new RuntimeException("sink down")
    }
    intercept[RuntimeException] {
      SqsCompatRunner.runOnce(spark, q, "gps_sqs_sink_down", failingSink)
    }
    assert(!spark.catalog.tableExists("temp_view"), "temp_view left registered")
    assert(q.remaining == 1) // not committed: the queue redelivers
  }
}

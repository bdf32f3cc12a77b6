package graft.sources

import graft.streaming.{Enrichment, ParquetSink, TableSink}
import org.apache.spark.sql.SparkSession

/** Reference-fidelity ingest loop (SURVEY §2.1 S5 + §2.4 O1–O4).
  *
  * [[graft.streaming.MicroBatchPipeline]] is the Spark-first replacement,
  * but the reference's exact control flow — long-poll a message queue,
  * parse S3-event envelopes, read the named files, enrich, append, and
  * only then delete the messages (spark-data-pipeline/spark_job.py:172-188
  * + poller.py:16-47) — is reproduced here behind a queue abstraction so
  * its at-least-once semantics (crash between write and commit ⇒ replayed
  * files ⇒ duplicate rows, SURVEY §1.4) remain testable.
  */
object SqsCompatRunner {

  final case class Message(body: String, receiptHandle: String)

  /** Queue abstraction ≙ poller.py: `get_messages` buffers receipt handles,
    * `commit` deletes exactly the buffered ones (poller.py:16-47). */
  trait MessageSource {
    def poll(maxMessages: Int): Seq[Message]
    def commit(): Unit
  }

  /** One iteration of the reference's `while True` body
    * (spark_job.py:172-188): poll ≤10 messages, flatten their file lists,
    * skip if empty (O4), read+enrich+write, then commit. Returns the number
    * of files processed. Fail-fast: any exception propagates before
    * `commit`, so the queue redelivers — the reference's O3 semantics. */
  def runOnce(spark: SparkSession, source: MessageSource, table: String,
      sink: TableSink = ParquetSink,
      sqlQuery: Option[String] = Some(Enrichment.defaultSql),
      partitionCols: Seq[String] = Nil,
      batchSize: Int = 10,
      protocol: String = "file"): Int = {
    val messages = source.poll(batchSize)
    if (messages.isEmpty) return 0
    val files = EnvelopeParser.batchFiles(messages.map(_.body), protocol)
    if (files.nonEmpty) {
      val df = JsonBatchReader.readGps(spark, files)
      sink.write(Enrichment.enrich(df, sqlQuery), table, partitionCols)
    }
    source.commit()
    files.size
  }
}

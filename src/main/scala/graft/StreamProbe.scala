package graft
import graft.core.SparkSessionFactory

/** Dev diagnostic (round 16): run one streaming gate twice (warm pass
  * first) and print every micro-batch's QueryProgress JSON from the
  * second run — the durationMs breakdown (addBatch / getBatch /
  * queryPlanning / walCommit / stateOperators commit times) that
  * JobProbe's job walls cannot see. Not part of the driver contract.
  *
  * Run: `SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamProbe q140_..."`
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args(0)
    val spark = SparkSessionFactory.local(32, "graft-stream-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val d = SparkEntry.modules.toMap.apply(name)
    d.build(spark, sfDir).count() // warm pass
    val sb = new java.lang.StringBuilder
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          sb.synchronized { sb.append(e.progress.json).append('\n') }
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
    val t0 = System.nanoTime()
    d.build(spark, sfDir).count()
    val total = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    println(sb.toString)
    println(f"TOTAL $name sec=$total%.3f")
    spark.stop()
  }
}

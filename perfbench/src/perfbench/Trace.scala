package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `layer` is one of [[Trace.Layers]]; times are epoch
  * milliseconds (fractional, so sub-millisecond harness spans survive). */
final case class Span(layer: String, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Wall clock in epoch ms with nanoTime resolution — the same clock as
  * Spark's listener event times and file mtimes. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-layer tracing, installed only in a traced run (`--trace 1`).
  *
  * Everything is observed from outside the program: spans the benchmark
  * records around its own calls into graft entry points, plus three
  * listeners it registers through Spark's public APIs — a SparkListener
  * (jobs, stages, task metrics), a StreamingQueryListener (micro-batch
  * `durationMs` phases, observed `ingest_metrics`, state-store commits)
  * and a QueryExecutionListener (planning phases of each SQL execution).
  * Spans are kept in memory and written out when the run ends; the parent
  * of a span is the innermost span of an outer layer enclosing it. */
final class Trace {
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](layer: String, name: String)(f: => T): T = {
    val t0 = Clock.nowMs
    try f finally spans.add(Span(layer, name, t0, Clock.nowMs))
  }

  val jobs, stages, tasks = new LongAdder
  val cpuNs, runMs, gcMs = new LongAdder
  val inRecords, inBytes = new LongAdder
  val shuffleRead, shuffleWrite, spill = new LongAdder
  val sqlExecutions = new LongAdder
  val planMs = new ConcurrentLinkedQueue[java.lang.Double]()
  final case class Batch(durations: Map[String, Long], rowsIn: Long,
      rowsBad: Long, stateCommitMs: Long)
  val batches = new ConcurrentLinkedQueue[Batch]()

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  /** Counters per job-group label (the benchmark labels each query). */
  final class Counters { val jobs, cpuNs, shuffleRead = new LongAdder }
  val labels = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment(); jobStart.put(e.jobId, e.time)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { l =>
          val c = labels.computeIfAbsent(l, _ => new Counters)
          c.jobs.increment()
          e.stageIds.foreach(stageLabel.put(_, c))
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t =>
        spans.add(Span("job", s"job ${e.jobId}", t.toDouble, e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime); runMs.add(m.executorRunTime)
        gcMs.add(m.jvmGCTime)
        inRecords.add(m.inputMetrics.recordsRead)
        inBytes.add(m.inputMetrics.bytesRead)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        Option(stageLabel.get(e.stageId)).foreach { c =>
          c.cpuNs.add(m.executorCpuTime); c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val obs = Option(p.observedMetrics).flatMap(m => Option(m.get("ingest_metrics")))
      def field(name: String): Long = obs.filter(r => r.schema.fieldNames.contains(name))
        .map(r => r.getAs[Any](name)).collect { case n: Number => n.longValue }.getOrElse(0L)
      batches.add(Batch(d, field("rows_in"), field("rows_bad"),
        p.stateOperators.map(_.commitTimeMs).sum))
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      spans.add(Span("batch", s"batch ${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0L)))
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      sqlExecutions.increment()
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      val end = Clock.nowMs
      spans.add(Span("sql", funcName, end - durationNs / 1e6, end))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(sqlListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    // listener events are delivered asynchronously; let the bus drain
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(sqlListener)
  }

  /** Self time per layer: each instant of the traced interval is charged
    * to the innermost layer with a span open at that instant, so the layers'
    * self times add up to the workload span. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toVector
    val rank = Trace.Layers.zipWithIndex.toMap
    val cuts = all.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val open = all.filter(s => s.start <= a && b <= s.end)
      if (open.nonEmpty) self(open.maxBy(s => rank(s.layer)).layer) += (b - a) / 1000.0
    }
    self.toMap
  }

  /** Jobs that ran inside micro-batch spans, per micro-batch. */
  def jobsPerBatch(): Double = {
    val all = spans.asScala.toVector
    val bs = all.filter(_.layer == "batch")
    val js = all.filter(_.layer == "job")
    if (bs.isEmpty) 0.0
    else js.count(j => bs.exists(b => b.start <= j.start && j.end <= b.end)).toDouble / bs.size
  }
}

object Trace {
  /** Span nesting, outermost first. */
  val Layers: Seq[String] = Seq("workload", "query", "stream", "batch", "sink", "sql", "job")
}

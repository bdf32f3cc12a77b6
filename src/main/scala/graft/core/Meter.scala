package graft.core

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-label Spark metering: one SparkListener (jobs, stages, task
  * metrics) and one StreamingQueryListener (micro-batch progress).
  *
  * Work is tied to a label by a local property that [[label]] sets on the
  * calling thread. Spark copies local properties onto the threads that run
  * a job for the caller (broadcasts, subqueries), and a stream started
  * inside the scope inherits them on its execution thread — unlike the job
  * group, which `StreamExecution` overwrites with the stream's runId. A
  * stream's progress events are matched to the label through that runId,
  * taken from its `QueryStartedEvent`, which Spark delivers synchronously
  * on the starting thread, where the label property is set.
  *
  * [[record]] waits until every event of a label has been delivered, so it
  * can be read right after the action: a marker job on the listener's
  * queue means every earlier job and task event is in, and a
  * stopped stream's `QueryTerminatedEvent` means its progress events are.
  *
  * Streams are metered for the session that installed the meter. */
final class Meter private (spark: SparkSession) {
  import Meter._

  private val sc = spark.sparkContext
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()
  private val running = new ConcurrentHashMap[Int, (Acc, Long, Int, String)]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()
  private val runs = new ConcurrentHashMap[UUID, Run]()

  private def acc(label: String): Acc = accs.computeIfAbsent(label, _ => new Acc)

  /** Run `body` with its jobs and streams metered under `name`, then
    * restore the caller's label (or none), also when `body` throws. */
  def label[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, name)
    try body finally sc.setLocalProperty(LabelKey, prev)
  }

  /** Everything metered under `name` so far, once delivered. Streams of
    * the label that are still running contribute the batches seen yet. */
  def record(name: String): Record = {
    awaitListenerQueue()
    val a = acc(name)
    val active = spark.streams.active.map(_.runId).toSet
    a.runs.asScala.filterNot(r => active(r.id))
      .foreach(_.ended.await(DeliveryTimeoutSec, TimeUnit.SECONDS))
    Record(
      jobs = a.jobs.asScala.toSeq.sortBy(_.id),
      stages = a.stages.sum, tasks = a.tasks.sum,
      shuffleRead = a.read.sum, shuffleWrite = a.write.sum,
      memorySpill = a.memSpill.sum, diskSpill = a.diskSpill.sum,
      batches = a.runs.asScala.toSeq.flatMap(_.batches.asScala))
  }

  /** Posts a zero-partition marker job outside any label and waits until
    * the listener sees it: events reach a listener in the order they were
    * posted, and the marker is posted after every earlier job's end. */
  private def awaitListenerQueue(): Unit = {
    val id = UUID.randomUUID().toString
    val done = new CountDownLatch(1)
    markers.put(id, done)
    val prev = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, null)
    sc.setLocalProperty(MarkerKey, id)
    try sc.runJob(sc.emptyRDD[Int], (_: Iterator[Int]) => ())
    finally {
      sc.setLocalProperty(MarkerKey, null)
      sc.setLocalProperty(LabelKey, prev)
    }
    done.await(DeliveryTimeoutSec, TimeUnit.SECONDS)
    markers.remove(id)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(MarkerKey)))
        .flatMap(id => Option(markers.get(id))).foreach(_.countDown())
      props.flatMap(p => Option(p.getProperty(LabelKey))).foreach { l =>
        val a = acc(l)
        e.stageIds.foreach(stageAcc.put(_, a))
        val desc = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        running.put(e.jobId, (a, e.time, e.stageIds.size, desc))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(running.remove(e.jobId)).foreach { case (a, t0, stages, desc) =>
        a.jobs.add(Job(e.jobId, stages, (e.time - t0) / 1e3, desc))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageAcc.get(e.stageInfo.stageId)).foreach(_.stages.increment())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAcc.get(e.stageId)
      val m = e.taskMetrics
      if (a != null && m != null) {
        a.tasks.increment()
        a.read.add(m.shuffleReadMetrics.totalBytesRead)
        a.write.add(m.shuffleWriteMetrics.bytesWritten)
        a.memSpill.add(m.memoryBytesSpilled)
        a.diskSpill.add(m.diskBytesSpilled)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(sc.getLocalProperty(LabelKey)).foreach { l =>
        val r = new Run(e.runId)
        runs.put(e.runId, r)
        acc(l).runs.add(r)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(runs.get(e.progress.runId)).foreach(_.batches.add(e.progress.json))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(runs.remove(e.runId)).foreach(_.ended.countDown())
  }
}

object Meter {
  private val LabelKey = "graft.meter.label"
  private val MarkerKey = "graft.meter.marker"
  /** Bound on any one delivery wait; reached only if Spark dropped events
    * (a full listener queue), in which case the record is partial. */
  private val DeliveryTimeoutSec = 60L

  /** One Spark job: id, stage count (skipped ones included), wall from
    * its start to end event, and the call site of its last stage. */
  final case class Job(id: Int, stages: Int, sec: Double, description: String)

  /** A label's metered work. `stages` and `tasks` count what ran;
    * `batches` holds each micro-batch's progress JSON, in stream order. */
  final case class Record(jobs: Seq[Job], stages: Long, tasks: Long,
      shuffleRead: Long, shuffleWrite: Long, memorySpill: Long,
      diskSpill: Long, batches: Seq[String])

  private final class Acc {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val runs = new ConcurrentLinkedQueue[Run]()
    val stages, tasks, read, write, memSpill, diskSpill = new LongAdder
  }

  private final class Run(val id: UUID) {
    val batches = new ConcurrentLinkedQueue[String]()
    val ended = new CountDownLatch(1)
  }

  private var installed: Option[(SparkContext, Meter)] = None

  /** The meter of `spark`'s SparkContext, installed on first use (its
    * stream listener on `spark`'s session). */
  def on(spark: SparkSession): Meter = synchronized {
    installed.collect { case (sc, m) if sc eq spark.sparkContext => m }.getOrElse {
      val m = new Meter(spark)
      spark.sparkContext.addSparkListener(m.jobListener)
      spark.streams.addListener(m.streamListener)
      installed = Some(spark.sparkContext -> m)
      m
    }
  }
}

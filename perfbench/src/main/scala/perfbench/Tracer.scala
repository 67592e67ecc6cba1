package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One node of the traced run's tree: workload → op → call (registry,
  * operators, pipeline stage) → Spark job → stage. Times are epoch
  * nanoseconds; Spark's own events only carry milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long)

/** Span ids, unique within the JVM; 1 is the workload root. */
object SpanIds {
  private val last = new AtomicLong(1)
  def next(): Long = last.incrementAndGet()
}

/** A wall clock in epoch nanoseconds with `System.nanoTime` resolution. */
object Clock {
  private val epochNs = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs(): Long = epochNs + (System.nanoTime() - nano0)
}

/** The traced run's instrumentation, all through Spark's public
  * listener interfaces: a `SparkListener` for jobs, stages and tasks, a
  * `StreamingQueryListener` for trigger progress, and an
  * `ExternalCatalogEventListener` for metastore DDL. Nothing in the
  * program under test is touched.
  *
  * Spark events are attributed to an op through the `perfbench.op`
  * local property the harness sets around each op, and to a call span
  * through the `perfbench.span` local property; both are inherited by
  * threads the call starts (`Scale.inParallel` waves, a stream's
  * execution thread). The job group cannot serve: a stream's execution
  * thread sets its own (its run id) for every micro-batch job.
  * Streaming progress and catalog events carry no local properties, so
  * they are attributed by time to the op that was running. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class JobRec(val jobId: Int, val op: String, val parentSpan: Long,
      val stream: Boolean, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs: Long = -1
    val submitted = mutable.Set.empty[Int]
  }

  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[String, Counters]
  private val stageSpans = mutable.ArrayBuffer.empty[Span]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  private val ddl = mutable.ArrayBuffer.empty[Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs(e.jobId) = new JobRec(e.jobId, prop(OpKey).getOrElse(Unattributed),
        prop(SpanKey).flatMap(_.toLongOption).getOrElse(0L),
        prop(StreamQueryKey).isDefined, e.time, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val id = e.stageInfo.stageId
        stageJob.get(id).flatMap(jobs.get).foreach(_.submitted += id)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val info = e.stageInfo
        val start = info.submissionTime.getOrElse(0L)
        val end = info.completionTime.getOrElse(start)
        val jobSpan = stageJob.get(info.stageId).map(jobSpanId).getOrElse(0L)
        stageSpans += Span(SpanIds.next(), jobSpan, "stage",
          s"stage ${info.stageId}.${info.attemptNumber()}",
          start * 1000000L, end * 1000000L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val op = stageJob.get(e.stageId).flatMap(jobs.get).map(_.op)
        .getOrElse(Unattributed)
      val c = counters.getOrElseUpdate(op, new Counters)
      val info = e.taskInfo
      c.tasks += 1
      if (info.attemptNumber > 0 || info.speculative) c.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
        // time the task was launched but not running its own code:
        // scheduler hand-off, deserialization, result shipping, and
        // waiting on shuffle fetches
        val notRunning = info.duration - m.executorRunTime
        c.waitMs += math.max(0L, notRunning) + m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      lock.synchronized(progress += ((at * 1000000L, d)))
    }
  }

  private val catalogListener = new ExternalCatalogEventListener {
    override def onEvent(e: ExternalCatalogEvent): Unit =
      lock.synchronized(ddl += Clock.nowNs())
  }

  private def jobSpanId(jobId: Int): Long = -(jobId.toLong + 1)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.sharedState.externalCatalog.addListener(catalogListener)
  }

  def detach(): Unit = {
    // let the listener buses deliver what the traced op produced
    awaitJobEnds()
    Thread.sleep(200) // streaming progress rides a queue of its own
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.sharedState.externalCatalog.removeListener(catalogListener)
  }

  /** Events reach listeners asynchronously; wait (bounded) until every
    * started job has its end event, which the bus delivers after the
    * job's task and stage events. */
  def awaitJobEnds(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (lock.synchronized(jobs.values.exists(_.endMs < 0)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def opTrace(op: String, startNs: Long, endNs: Long): OpTrace =
    lock.synchronized {
      val js = jobs.values.filter(_.op == op).toSeq
      val intervals = js.map { j =>
        (j.parentSpan, j.startMs * 1000000L,
          (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L)
      }
      val stages = js.map(_.submitted.size).sum
      val skipped = js.map(j => j.stageIds.count(s => !j.submitted(s))).sum
      val inOp = progress.filter { case (t, _) => t >= startNs && t < endNs }
      def dur(key: String): Long = inOp.map(_._2.getOrElse(key, 0L)).sum
      OpTrace(intervals, js.count(_.stream), stages, skipped,
        counters.getOrElse(op, new Counters), inOp.size,
        dur("queryPlanning"), dur("addBatch"), dur("walCommit"),
        dur("commitOffsets"),
        ddl.count(t => t >= startNs && t < endNs))
    }

  /** Job and stage spans, parented on the call spans that started them. */
  def sparkSpans(): Seq[Span] = lock.synchronized {
    jobs.values.toSeq.map { j =>
      Span(jobSpanId(j.jobId), j.parentSpan, "job", s"job ${j.jobId}",
        j.startMs * 1000000L,
        (if (j.endMs < 0) j.startMs else j.endMs) * 1000000L)
    } ++ stageSpans
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  /** Set by Spark on every job a streaming query runs. */
  val StreamQueryKey = "sql.streaming.queryId"
  val Unattributed = "(none)"

  /** task-level counters per op */
  final class Counters {
    var tasks, retries, inputBytes, inputRows, shuffleWrite, shuffleRead,
        spill, output = 0L
    var cpuNs, gcMs, waitMs = 0L
  }

  /** Per-op summary of everything the listeners saw; `jobs` holds
    * (parent span, start ns, end ns) per job, `streamJobs` counts those
    * a streaming query ran. */
  final case class OpTrace(jobs: Seq[(Long, Long, Long)], streamJobs: Int,
      stages: Int, skipped: Int, c: Counters, triggers: Int,
      planningMs: Long, addBatchMs: Long, walCommitMs: Long,
      commitOffsetsMs: Long, ddlEvents: Int)
}

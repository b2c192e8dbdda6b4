package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it, when
  * the recorder knows it; spans whose cause is only known by time (Catalyst
  * phases, serving jobs) are given a parent by containment afterwards. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
    endMs: Double, attrs: Map[String, Any])

/** Spans and counts kept in memory, written once when the run ends.
  *
  * With `enabled = false` no span is kept and only the streaming-progress
  * listener is registered, so an untraced run measures the program alone. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Wall-clock milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNano) / 1e6

  def record(parent: Long, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, Any] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, name, startMs, endMs, attrs))
    id
  }

  /** Time `body` as a span; Spark jobs it launches on this thread carry the
    * span id as a job property, so they are attributed exactly. */
  def span[T](parent: Long, name: String, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    if (enabled) sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = nowMs()
    try {
      val out = body(id)
      val t1 = nowMs()
      if (enabled) spans.add(Span(id, parent, name, t0, t1, attrs))
      (out, t1 - t0)
    } catch { case e: Throwable =>
      if (enabled) spans.add(Span(id, parent, name, t0, nowMs(),
        attrs + ("error" -> String.valueOf(e.getMessage).take(200))))
      throw e
    } finally if (enabled) sc.setLocalProperty(SpanProperty, prev)
  }

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val firstLaunch = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private final class JobInfo(val start: Long, val props: java.util.Properties)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobInfo(e.time, e.properties))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        val p = Option(j.props)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val attrs = Map[String, Any]("job_id" -> e.jobId) ++
          prop(SpanProperty).map("span" -> _) ++
          prop(QueryIdProperty).map("stream_query" -> _) ++
          prop(BatchIdProperty).map("batch_id" -> _)
        record(0, "job", j.start.toDouble, e.time.toDouble, attrs)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      firstLaunch.merge(s"${e.stageId}.${e.stageAttemptId}",
        e.taskInfo.launchTime, (a, b) => math.min(a, b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val key = s"${s.stageId}.${s.attemptNumber()}"
      val submitted = s.submissionTime.getOrElse(0L)
      val launch = Option(firstLaunch.remove(key)).map(_.longValue).getOrElse(submitted)
      val attrs = Map[String, Any](
        "job_id" -> Option(stageJob.get(s.stageId)).getOrElse(-1),
        "tasks" -> s.numTasks,
        "sched_wait_ms" -> math.max(0L, launch - submitted)) ++
        (if (m == null) Map.empty else Map(
          "task_run_ms" -> m.executorRunTime,
          "task_cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime,
          "input_bytes" -> m.inputMetrics.bytesRead,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
      record(0, "stage", submitted.toDouble,
        s.completionTime.getOrElse(submitted).toDouble, attrs)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, p) =>
        record(0, s"catalyst.$phase", p.startTimeMs.toDouble, p.endTimeMs.toDouble,
          Map("func" -> funcName))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Streaming progress, kept for every run: ingest latency maps generator
    * offsets to batch ids through it. Traced runs also turn each progress
    * into a `batch` span with its `durationMs` phases as children. */
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
}

object Trace {
  val SpanProperty = "perfbench.span"
  /** Local properties Spark sets on every micro-batch job. */
  val QueryIdProperty = "sql.streaming.queryId"
  val BatchIdProperty = "streaming.sql.batchId"
}

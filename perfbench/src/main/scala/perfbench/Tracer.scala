package perfbench

import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One span of the trace. `parent` is the id of the span that caused it;
  * ids are readable keys (`row:2:q12_dedup_ngram`, `job:41`,
  * `mb:<query id>:<batch id>`), so a child can name its parent before the
  * parent is closed. Times are epoch milliseconds.
  */
final case class Span(id: String, parent: String, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Double])

/** In-memory trace of one run, fed from outside the engine only: a
  * SparkListener (jobs, stages, tasks, RDD blocks, AQE re-plans), a
  * QueryExecutionListener (the `tracker` phase times of every executed
  * query), and a StreamingQueryListener (micro-batch progress). It is
  * attached for the traced passes only; `counters` sums what it saw.
  *
  * Span tree: row → build | plan.* | exec → job → stage, and
  * micro-batch → phase → state operator.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** Per-micro-batch progress seen while attached, in arrival order. */
  val progress = mutable.ArrayBuffer[StreamingQueryProgress]()

  private val jobStarts = mutable.Map[Int, (Long, String)]()
  private val stageParent = mutable.Map[Int, String]()
  private val stageTasks = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val liveBlocks = mutable.Map[RDDBlockId, Long]()
  private val rddsSeen = mutable.Set[Int]()
  private var peakBytes = 0L
  @volatile private var currentRow = ""
  private var spanned = 0

  def add(k: String, v: Double): Unit = synchronized { counters(k) += v }
  def span(s: Span): Unit = synchronized { spans += s }

  private def parentOf(p: Properties): String = Option(p).map { p =>
    Option(p.getProperty(StreamQueryIdKey)).map(q =>
      s"mb:$q:${p.getProperty(StreamBatchIdKey)}")
      .getOrElse(Option(p.getProperty(SpanKey)).getOrElse(""))
  }.getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = parentOf(e.properties)
    jobStarts(e.jobId) = (e.time, parent)
    e.stageIds.foreach(s => stageParent(s) = s"job:${e.jobId}")
    add("exec.jobs", 1)
    if (parent.startsWith("build:")) add("entry.eager_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, parent) =>
      span(Span(s"job:${e.jobId}", parent, "job", s"job ${e.jobId}",
        t0.toDouble, e.time.toDouble, Map.empty))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("exec.tasks", 1)
    stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("sources.input_mb", m.inputMetrics.bytesRead / MB)
      add("sink.rows", m.outputMetrics.recordsWritten.toDouble)
      add("sink.mb", m.outputMetrics.bytesWritten / MB)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    add("exec.stages", 1)
    val tasks = stageTasks.remove((i.stageId, i.attemptNumber())).getOrElse(mutable.ArrayBuffer[Long]())
    // task-time-weighted mean, over stages, of max task / median task
    if (tasks.size >= 2) {
      val sorted = tasks.sorted
      val med = sorted(sorted.size / 2).max(1L)
      add("straggler.weighted", sorted.last.toDouble / med * tasks.sum)
      add("straggler.weight", tasks.sum.toDouble)
    }
    span(Span(s"stage:${i.stageId}.${i.attemptNumber()}",
      stageParent.getOrElse(i.stageId, ""), "stage", i.name,
      i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble,
      Map("tasks" -> tasks.size.toDouble, "task_ms" -> tasks.sum.toDouble)))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        if (info.storageLevel.isValid) {
          liveBlocks(b) = info.memSize + info.diskSize
          rddsSeen += b.rddId
        } else liveBlocks.remove(b)
        peakBytes = peakBytes max liveBlocks.values.sum
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => add("plan.aqe_updates", 1)
    case _ =>
  }

  /** Phase times of every executed query plan. */
  val executions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        add(s"plan.${phase}_s", (s.endTimeMs - s.startTimeMs) / 1e3)
        span(Span(s"plan.$phase:$currentRow:${s.startTimeMs}", currentRow, "plan",
          phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble, Map.empty))
      }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
  }

  /** Start of a batch row: reset the pinned-bytes peak to what is live. */
  def rowStart(row: String): Unit = {
    drain()
    currentRow = row
    synchronized { peakBytes = liveBlocks.values.sum }
  }

  /** End of a batch row, before its pins are dropped: the row's pin
    * counters, also returned as span attributes.
    */
  def rowEnd(): Map[String, Double] = {
    drain()
    synchronized {
      add("pinning.live_after", liveBlocks.size.toDouble)
      add("pinning.peak_mb", peakBytes / MB)
      Map("pinned_blocks_after" -> liveBlocks.size.toDouble, "pinned_peak_mb" -> peakBytes / MB)
    }
  }

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(executions)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    drain()
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(executions)
    spark.sparkContext.removeSparkListener(this)
    synchronized { counters("pinning.rdds") = rddsSeen.size.toDouble }
  }

  /** Micro-batch spans, their phase children and state-operator children,
    * built from the progress reports that arrived since the last call.
    */
  def batchSpans(parent: String): Unit = {
    drain()
    synchronized {
      progress.drop(spanned).foreach(microBatchSpans(parent, _))
      spanned = progress.size
    }
  }

  private def microBatchSpans(parent: String, p: StreamingQueryProgress): Unit = {
    val id = s"mb:${p.id}:${p.batchId}"
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    span(Span(id, parent, "microbatch", s"${p.name} batch ${p.batchId}", start,
      start + d.getOrElse("triggerExecution", 0.0),
      Map("input_rows" -> p.numInputRows.toDouble)))
    d.foreach { case (k, v) =>
      if (k != "triggerExecution") span(Span(s"$id:$k", id, "phase", k, start, start + v, Map.empty))
    }
    p.stateOperators.zipWithIndex.foreach { case (s, i) =>
      span(Span(s"$id:state$i", id, "state", s.operatorName, start, start,
        Map("rows_total" -> s.numRowsTotal.toDouble,
          "rows_updated" -> s.numRowsUpdated.toDouble,
          "memory_bytes" -> s.memoryUsedBytes.toDouble) ++
          s.customMetrics.asScala.map { case (k, v) => k -> v.toDouble }))
    }
  }
}

object Tracer {
  val MB = 1024.0 * 1024.0
  /** Local property naming the span a job runs under. */
  val SpanKey = "perfbench.span"
  val StreamQueryIdKey = "sql.streaming.queryId"
  val StreamBatchIdKey = "streaming.sql.batchId"
}

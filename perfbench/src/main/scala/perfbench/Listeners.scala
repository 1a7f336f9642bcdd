package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{ExpandExec, SortExec, SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Wall clock (ms) → System.nanoTime domain, for events stamped in millis. */
object Clock {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromMillis(ms: Long): Long = ms * 1000000L + offsetNs
}

/** Micro-batch phases from Structured Streaming's progress events: one
  * `sources.batch` span per trigger with its phases as child spans, in
  * execution order, plus counts and sizes. */
final class BatchListener(trace: Trace) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val phases = Seq(
    "latestOffset" -> "streaming.latest_offset",
    "walCommit" -> "streaming.wal_commit",
    "getBatch" -> "streaming.get_batch",
    "queryPlanning" -> "streaming.planning",
    "addBatch" -> "streaming.add_batch",
    "commitOffsets" -> "streaming.commit_offsets")
  val durations = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val rows = mutable.ArrayBuffer.empty[Double]
  var nonEmpty = 0
  /** Events the master has sent so far (set per measured leg); sent minus
    * the rows of finished batches bounds what the feed holds. */
  @volatile var eventsSent: () => Long = () => 0L
  private var rowsDone = 0L
  var backlogMax = 0L

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit = synchronized {
    val p = event.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
    val start = Clock.fromMillis(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val total = d.getOrElse("triggerExecution", 0L)
    val batch = trace.record("sources.batch", start, start + total * 1000000L)
    var at = start
    phases.foreach { case (k, name) =>
      d.get(k).foreach { ms =>
        durations.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms.toDouble
        trace.record(name, at, at + ms * 1000000L, parent = batch)
        at += ms * 1000000L
      }
    }
    rows += p.numInputRows.toDouble
    if (p.numInputRows > 0) nonEmpty += 1
    rowsDone += p.numInputRows
    backlogMax = math.max(backlogMax, eventsSent() - rowsDone)
  }

  def phaseQuantile(k: String, q: Double): Double = synchronized(
    Stats.quantile(durations.getOrElse(k, mutable.ArrayBuffer.empty[Double]), q))
}

/** Per-query analytics detail: QueryExecution tracker phases and plan shape
  * (QueryExecutionListener) plus job/stage/task work (SparkListener). Span
  * parents come from `currentQuery`, set by the workload around each query. */
final class AnalyticsListener(trace: Trace) extends SparkListener with QueryExecutionListener {
  @volatile var currentQuery: Long = 0L
  val sums = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = synchronized(sums(k) = sums.getOrElse(k, 0.0) + v)

  // ---- QueryExecutionListener
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    add("plan_s", planMs / 1e3)
    phases.get("analysis").foreach { a =>
      val s = Clock.fromMillis(a.startTimeMs)
      trace.record("analytics.plan", s, s + planMs * 1000000L, parent = currentQuery)
    }
    walk(qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def walk(p: SparkPlan): Unit = {
    p match {
      case _: ShuffleExchangeExec => add("exchanges", 1)
      case _: BroadcastExchangeExec => add("broadcast_exchanges", 1)
      case _: SortMergeJoinExec => add("sort_merge_joins", 1)
      case _: SortExec => add("sorts", 1)
      case _: ExpandExec => add("expands", 1)
      case _ => ()
    }
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case _ => ()
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  // ---- SparkListener
  private val jobStart = mutable.Map.empty[Int, Long]
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t =>
      trace.record("analytics.job", Clock.fromMillis(t), Clock.fromMillis(e.time), parent = currentQuery)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("scheduler_delay_s", math.max(delay, 0L) / 1e3)
    }
  }

  def get(k: String): Double = synchronized(sums.getOrElse(k, 0.0))
}

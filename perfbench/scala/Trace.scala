package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: what ran, when (epoch ms), and the span that caused it. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double)

/** Span recorder, kept in memory and written out once at the end. Off
  * unless the run is traced; reachable from executor-side code because a
  * local-mode executor shares the driver's JVM. */
object Trace {
  @volatile var on = false
  private val seq = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  private def nowMs = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = seq.incrementAndGet()
      val t0 = nowMs
      try body(id) finally done.add(Span(id, parent, name, t0, nowMs))
    }

  /** A span timed elsewhere (from listener event times) in a traced pass. */
  def add(name: String, parent: Long, startMs: Double, endMs: Double): Unit =
    done.add(Span(seq.incrementAndGet(), parent, name, startMs, endMs))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Counters a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener fill while attached. Flows are running sums, so
  * snapshots before and after a traced region give its totals. */
final class LayerCounters {
  val jobs, stages, tasks = new AtomicLong
  val taskMs, taskCpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val planMs = new AtomicLong
  val batches, dataBatches = new AtomicLong
  val batchMs, addBatchMs, commitMs, planBatchMs, offsetMs, stateCommitMs = new AtomicLong
  /** Peaks over micro-batches (state size is a level, not a flow). */
  val stateRows, stateBytes = new AtomicLong
  /** Finished SQL executions: (start epoch ms, end epoch ms, plan text). */
  val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  val sqlDone = new ConcurrentLinkedQueue[(Long, Long, String)]()

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "task_cpu_ns" -> taskCpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "plan_ms" -> planMs.get,
    "batches" -> batches.get, "data_batches" -> dataBatches.get,
    "batch_ms" -> batchMs.get, "add_batch_ms" -> addBatchMs.get,
    "commit_ms" -> commitMs.get, "plan_batch_ms" -> planBatchMs.get,
    "offset_ms" -> offsetMs.get, "state_commit_ms" -> stateCommitMs.get,
    "state_rows" -> stateRows.get, "state_bytes" -> stateBytes.get
  ).map { case (k, v) => k -> v.toDouble }
}

/** Attaches and detaches a SparkListener and a QueryExecutionListener on
  * one session and points [[StreamEvents]] at the same counters. Listeners
  * only observe: nothing they do feeds back into the work being timed. */
final class Tracer(spark: SparkSession) {
  val c = new LayerCounters

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        c.sqlStarts.put(s.executionId, (s.time, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        Option(c.sqlStarts.remove(s.executionId)).foreach { case (t0, plan) =>
          c.sqlDone.add((t0, s.time, plan))
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      c.planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    c.stateRows.set(0); c.stateBytes.set(0)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    StreamEvents.target = Some(c)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    StreamEvents.target = None
  }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark)
}

/** Whole-stage-codegen compile counts and times from Spark's own metric
  * source. The histogram keeps every sample while fewer than its reservoir
  * size (1028) were recorded, which a benchmark run stays under; past that
  * the time is an estimate from the sampled mean. */
object Codegen {
  final case class Reading(count: Long, ms: Double)
  def read(): Reading = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (snap.size == n) snap.getValues.sum.toDouble else snap.getMean * n
    Reading(n, sum)
  }
}

/** The StreamingQueryListener. Spark creates one per session, cloned ones
  * too, from `spark.sql.streaming.streamingQueryListeners`, which a traced
  * run sets: the gates run their streams in cloned sessions, whose queries
  * a listener added to the main session never hears of. It counts only
  * while a tracer is attached. */
final class StreamEvents extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamEvents.target.foreach { c =>
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.batches.incrementAndGet()
      if (p.numInputRows > 0) c.dataBatches.incrementAndGet()
      c.batchMs.addAndGet(d("triggerExecution"))
      c.addBatchMs.addAndGet(d("addBatch"))
      c.commitMs.addAndGet(d("commitOffsets") + d("walCommit"))
      c.planBatchMs.addAndGet(d("queryPlanning"))
      c.offsetMs.addAndGet(d("latestOffset") + d("getBatch"))
      c.stateCommitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
      c.stateRows.accumulateAndGet(p.stateOperators.map(_.numRowsTotal).sum, math.max)
      c.stateBytes.accumulateAndGet(p.stateOperators.map(_.memoryUsedBytes).sum, math.max)
    }
}

object StreamEvents {
  @volatile var target: Option[LayerCounters] = None
}

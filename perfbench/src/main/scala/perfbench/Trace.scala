package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed interval at a layer boundary. `parent` is the id of the span
  * that was open on the same thread when this one started (0 = none);
  * `op` is the operation the span belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are only kept while `enabled`; the
  * benchmark writes them out once, when the run ends. */
object Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile var currentOp: Long = 0
  /** The open operation's root span: the parent of spans that start on a
    * thread with no span open (Spark tasks, servers, listeners). */
  @volatile var rootSpan: Long = 0

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(rootSpan)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, currentOp, name, t0, System.nanoTime()))
    }
  }

  /** Runs `body` as one operation: a root span all of the operation's
    * other spans descend from. */
  def op[T](name: String)(body: => T): T = {
    currentOp += 1
    span(name) {
      rootSpan = current
      try body finally rootSpan = 0
    }
  }

  /** Adds intervals observed after the fact (Spark jobs, seen by a
    * listener on another thread) as children of the innermost span that
    * contains their start. */
  def attach(name: String, intervals: Seq[(Long, Long)]): Unit = {
    val open = all
    intervals.foreach { case (a, b) =>
      val containing = open.filter(s => s.startNs <= a && a < s.endNs)
      if (containing.nonEmpty) {
        val p = containing.maxBy(_.startNs)
        spans.add(Span(ids.incrementAndGet(), p.id, p.op, name, a, b))
      }
    }
  }

  def roots: Seq[Span] = all.filter(_.parent == 0)

  def all: Seq[Span] = spans.asScala.toSeq

  /** The innermost span open on this thread (0 = none). */
  def current: Long = stack.get.headOption.getOrElse(0L)
}

/** Counters the traced run reads at the layer boundaries. Every counter is
  * a JVM-wide atomic so listeners on Spark's bus threads, executor task
  * threads and the benchmark's own threads can all add to it. */
object Counters {
  private val m = TrieMap.empty[String, AtomicLong]
  def add(name: String, v: Long): Unit = m.getOrElseUpdate(name, new AtomicLong).addAndGet(v)
  def max(name: String, v: Long): Unit = m.getOrElseUpdate(name, new AtomicLong).accumulateAndGet(v, math.max)
  def get(name: String): Long = m.get(name).map(_.get).getOrElse(0L)
  def reset(): Unit = m.clear()
  def snapshot: Map[String, Long] = m.map { case (k, v) => k -> v.get }.toMap
}

/** Spark scheduler layer: jobs, stages, tasks, executor time, shuffle and
  * spill, plus the job intervals an operation's driver gap is computed
  * from. */
final class ExecListener extends SparkListener {
  private val taskIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = TrieMap.empty[Int, Long]
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  // event times are wall-clock ms stamped when posted; spans use nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + offsetNs

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Counters.add("exec.jobs", 1)
    jobStart.put(e.jobId, ns(e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals.add((t0, ns(e.time))))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Counters.add("exec.stages", 1)
  /** Peak number of tasks whose [launch, finish) intervals overlap. */
  def maxConcurrentTasks: Int = {
    val edges = taskIntervals.asScala.toSeq.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
    edges.scanLeft(0)(_ + _._2).max
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskIntervals.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    Counters.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("exec.task_run_ms", m.executorRunTime)
      Counters.add("exec.task_cpu_ns", m.executorCpuTime)
      Counters.add("exec.gc_ms", m.jvmGCTime)
      Counters.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Counters.add("exec.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      Counters.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      Counters.add("tables.rows_read", m.inputMetrics.recordsRead)
      Counters.add("tables.bytes_read", m.inputMetrics.bytesRead)
      if (m.inputMetrics.bytesRead > 0) Counters.add("tables.scan_tasks", 1)
    }
  }
}

/** Catalyst layer: QueryPlanningTracker phase times per action, and the
  * executed plan's whole-stage-codegen subtrees and interpreted
  * (CodegenFallback) expressions. Expressions from the engine's native
  * kernel package are counted separately, so the isolation check can see
  * which workloads reach them. */
final class CatalystListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val kernelsSeen = TrieMap.empty[String, Long]

  private def observe(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      phase match {
        case "analysis" => Counters.add("catalyst.analysis_ms", s.durationMs)
        case "optimization" => Counters.add("catalyst.optimization_ms", s.durationMs)
        case "planning" => Counters.add("catalyst.planning_ms", s.durationMs)
        case _ =>
      }
    }
    val nodes: Seq[SparkPlan] = collectWithSubqueries(qe.executedPlan) { case p => p }
    Counters.add("catalyst.wscg_subtrees", nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
    nodes.foreach { n =>
      n.expressions.foreach(_.foreach { e =>
        if (e.isInstanceOf[CodegenFallback]) Counters.add("catalyst.codegen_fallback_exprs", 1)
        val cls = e.getClass.getName
        if (cls.startsWith("graft.functions.")) {
          Counters.add("catalyst.kernel_exprs", 1)
          kernelsSeen.put(e.getClass.getSimpleName, 1L)
        }
      })
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    try observe(qe) catch { case _: Throwable => }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch layer: per-batch phase durations and state-operator
  * figures from each progress report. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    Counters.add("stream.batches", 1)
    Counters.add("stream.batch_ms", p.batchDuration)
    val d = p.durationMs.asScala
    def phase(k: String, name: String): Unit =
      d.get(k).foreach(v => Counters.add(name, v.longValue))
    phase("queryPlanning", "stream.query_planning_ms")
    phase("addBatch", "stream.add_batch_ms")
    phase("walCommit", "stream.wal_commit_ms")
    phase("commitOffsets", "stream.commit_offsets_ms")
    phase("latestOffset", "stream.latest_offset_ms")
    p.stateOperators.foreach { s =>
      Counters.max("stream.state_rows", s.numRowsTotal)
      Counters.max("stream.state_bytes", s.memoryUsedBytes)
      Counters.add("stream.state_commit_ms", s.commitTimeMs)
      Counters.add("stream.state_rows_evicted", s.numRowsRemoved)
      Option(s.customMetrics.get("numDroppedDuplicateRows"))
        .foreach(v => Counters.add("stream.dropped_duplicates", v.longValue))
    }
  }
}

/** The traced run's listener set, registered on one session. */
final class Tracing(spark: SparkSession) {
  val exec = new ExecListener
  val catalyst = new CatalystListener
  val stream = new StreamListener
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(catalyst)
  spark.streams.addListener(stream)

  /** Waits until Spark's listener buses have delivered every event posted
    * so far, so counters read after an operation include it. */
  def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(stream)
  }
}

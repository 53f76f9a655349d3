package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds derived from one
  * (wall clock, monotonic clock) pair, so spans and listener event times
  * (epoch milliseconds) share a time base.
  */
final class Span(
    val id: Int, val parent: Int, val name: String, val workload: String,
    val pass: Int, val op: String, val startNs: Long) {
  var endNs: Long = startNs
  /** Id of the enclosing op span (0 outside ops). */
  var opId: Int = 0
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String = Json.obj(Seq(
    "id" -> id, "parent" -> parent, "name" -> name, "workload" -> workload,
    "pass" -> pass, "op" -> op, "op_id" -> opId, "start_ns" -> startNs,
    "end_ns" -> endNs) ++ attrs)
}

/** Spans and layer counters of one run, kept in memory and written out
  * when the run ends. When `enabled` is false only the spans the run
  * itself needs (phases) are kept and no listener is registered.
  */
final class Tracer(val workload: String) {
  private val epochBaseNs = System.currentTimeMillis() * 1000000L
  private val monoBase = System.nanoTime()
  def nowNs: Long = epochBaseNs + (System.nanoTime() - monoBase)

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  var pass: Int = -1
  var op: String = ""
  var opId: Int = 0

  def open(name: String): Span = {
    val s = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
      name, workload, pass, op, nowNs)
    s.opId = opId
    spans += s
    stack.push(s)
    s
  }
  def close(s: Span): Unit = {
    s.endNs = nowNs
    while (stack.nonEmpty && (stack.pop() ne s)) {}
  }
  /** A span that is always recorded (phases, passes, ops). */
  def always[T](name: String)(f: => T): T = {
    val s = open(name)
    try f finally close(s)
  }
  /** A layer span: recorded only while tracing. */
  def span[T](name: String)(f: => T): T = if (enabled) always(name)(f) else f
}

/** Layer counters of one op, filled by the listeners while the op runs. */
final class OpStats {
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  /** (start ms, end ms) of every Spark job of the op. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  val jobStart = mutable.HashMap.empty[Int, Long]
  /** Last progress of each streaming query: (state rows, state bytes). */
  val streamState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
}

/** Registers the SparkListener, QueryExecutionListener and streaming
  * progress hook; everything they see is credited to `stats`, the op in
  * flight. The loop is closed (one op at a time) and [[drain]] empties the
  * listener bus after each op, so that attribution is exact.
  */
final class Listeners(spark: SparkSession) {
  @volatile var stats: OpStats = new OpStats

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = stats.synchronized {
      stats.add("exec.jobs", 1)
      stats.jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = stats.synchronized {
      stats.jobStart.remove(e.jobId).foreach(t0 => stats.jobs += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stats.synchronized(stats.add("exec.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stats.synchronized {
      val m = e.taskMetrics
      stats.add("exec.tasks", 1)
      if (m != null) {
        stats.add("exec.task_run_s", m.executorRunTime / 1e3)
        stats.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        stats.add("exec.task_gc_s", m.jvmGCTime / 1e3)
        stats.add("exec.task_wait_s", math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3)
        stats.add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        stats.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        stats.add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        stats.add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    // Streaming rows run in child sessions, whose StreamingQueryManager a
    // listener on this session does not see; every manager forwards its
    // StreamingQueryListener events to the shared bus, so they are read here.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent => stats.synchronized {
        val pr = p.progress
        stats.add("streaming.batches", 1)
        stats.add("streaming.batch_s", pr.batchDuration / 1e3)
        stats.add("streaming.input_rows", pr.numInputRows.toDouble)
        stats.streamState(pr.runId) = (
          pr.stateOperators.map(_.numRowsTotal).sum,
          pr.stateOperators.map(_.memoryUsedBytes).sum)
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      stats.synchronized {
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          stats.add(s"catalyst.${p}_s", phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
        }
        stats.add("catalyst.queries", 1)
        PlanStats.walk(qe.executedPlan, stats)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

/** Counts over the final (post-AQE) physical plan of one query. */
object PlanStats {
  def walk(root: SparkPlan, st: OpStats): Unit = {
    def go(p: SparkPlan, inStage: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan, inStage = false)
        case r: AQEShuffleReadExec =>
          st.add("plan.shuffle_partitions", r.partitionSpecs.size)
          r.child match {
            case s: ShuffleQueryStageExec => go(s.plan, inStage = true)
            case c => go(c, inStage = true)
          }
        case s: ShuffleQueryStageExec =>
          st.add("plan.shuffle_partitions", s.shuffle.numPartitions)
          go(s.plan, inStage = true)
        case q: QueryStageExec => go(q.plan, inStage = true) // broadcast and result stages
        case _: ReusedExchangeExec => st.add("plan.reused_exchanges", 1)
        case e: ShuffleExchangeLike =>
          st.add("plan.exchanges", 1)
          if (!inStage) st.add("plan.shuffle_partitions", e.numPartitions)
          e.children.foreach(go(_, inStage = false))
        case e: BroadcastExchangeLike =>
          st.add("plan.exchanges", 1)
          st.add("plan.broadcast_exchanges", 1)
          e.children.foreach(go(_, inStage = false))
        case f: FileSourceScanLike =>
          st.add("plan.files_scanned", f.metrics.get("numFiles").map(_.value).getOrElse(0L).toDouble)
          st.add("plan.scans", 1)
        case other => other.children.foreach(go(_, inStage = false))
      }
      p.subqueries.foreach(go(_, inStage = false))
    }
    go(root, inStage = false)
  }
}

package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSqlAccess, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval on the SUT's clock (epoch microseconds). `op` ties
  * the span to the Spark work it caused; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      startUs: Long, endUs: Long)

/** Per-op Spark counters, filled by the listeners. An op is one request,
  * job, direct call or micro-batch; Spark work carries its op id in the
  * `perfbench.op` local property, set on the calling thread before any
  * action runs. */
final class OpStats {
  var actions, jobs, stages, tasks = 0L
  var taskMs, runMs, cpuNs, gcMs, spillBytes = 0L
  var shWriteBytes, shReadBytes, fetchWaitMs, inBytes, inRecords = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var planNodes, exchanges, scans = 0L

  def toMap: Map[String, Any] = Map(
    "actions" -> actions, "jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "task_ms" -> taskMs, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "spill_bytes" -> spillBytes,
    "shuffle_write_bytes" -> shWriteBytes,
    "shuffle_read_bytes" -> shReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "scan_bytes" -> inBytes, "scan_records" -> inRecords,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "plan_nodes" -> planNodes, "exchanges" -> exchanges, "scans" -> scans)
}

/** Shape of an executed plan, looking through adaptive query stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.size,
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(p => p.isInstanceOf[DataSourceScanExec] ||
        p.isInstanceOf[DataSourceV2ScanExecBase]))
  }
}

/** The traced run's instruments: a QueryExecutionListener (action
  * duration, planning phases, plan shape), a SparkListener (jobs,
  * stages, task metrics, SQL execution intervals) and a
  * StreamingQueryListener (micro-batch progress). Everything stays in
  * memory until the run asks for it. While `on` is false the listeners
  * return at once, so one JVM can measure with and without tracing. */
final class Tracer(spark: SparkSession, install: Boolean) {
  val on = new AtomicBoolean(false)
  private val nextSpan = new AtomicLong(1)
  private val ops = mutable.LinkedHashMap.empty[String, OpStats]
  private val execOp = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val qeExec = mutable.Map.empty[Long, Long]
  private val stageOp = mutable.Map.empty[Int, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var codegen0 = (0L, 0.0)

  private def stats(op: String): OpStats =
    ops.getOrElseUpdate(op, new OpStats)

  private def opOf(props: java.util.Properties): String = {
    val op = Option(props).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
    val stream = Option(props)
      .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    op.orElse(stream.map(_ => "stream")).getOrElse("other")
  }

  private val epoch0Us = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epoch0Us + (System.nanoTime() - nano0) / 1000L

  /** Time `f` as a span named `name` under `parent`, tagging the Spark
    * work it launches with op id `op`. */
  def span[T](name: String, op: String, parent: Long = 0L)(f: Long => T): T = {
    val id = nextSpan.getAndIncrement()
    val prev = spark.sparkContext.getLocalProperty(Tracer.OpKey)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, op)
    val t0 = nowUs
    try f(id)
    finally {
      val t1 = nowUs
      spark.sparkContext.setLocalProperty(Tracer.OpKey, prev)
      if (on.get) synchronized { spans += Span(id, parent, name, op, t0, t1) }
    }
  }

  // (execution id, analysis, optimization, planning ms, plan shape):
  // attributed to ops at stop(), once the job events that carry the op
  // id have been delivered too (the two listeners sit on different bus
  // queues, so their events interleave arbitrarily)
  private val actions = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, (Int, Int, Int))]

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (on.get) {
      val shape =
        try PlanShape(qe.executedPlan) catch { case _: Throwable => (0, 0, 0) }
      val phases = qe.tracker.phases
      def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized {
        actions += ((qe.id, phase("analysis"), phase("optimization"),
          phase("planning"), shape))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on.get) {
      val op = opOf(e.properties)
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      Tracer.this.synchronized {
        exec.foreach(x => execOp(x) = op)
        stats(op).jobs += 1
        e.stageIds.foreach(s => stageOp(s) = op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on.get) Tracer.this.synchronized {
        stats(stageOp.getOrElse(e.stageInfo.stageId, "other")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on.get && e.taskMetrics != null) Tracer.this.synchronized {
        val m = e.taskMetrics
        val s = stats(stageOp.getOrElse(e.stageId, "other"))
        s.tasks += 1
        s.taskMs += e.taskInfo.duration
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on.get) e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execStart(s.executionId) = s.time }
      case x: SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized {
          PerfbenchSqlAccess.queryExecutionId(x).foreach(q => qeExec(q) = x.executionId)
          execStart.remove(x.executionId).foreach { t0 =>
            spans += Span(nextSpan.getAndIncrement(), -1L, s"sql.${x.executionId}",
              execOp.getOrElse(x.executionId, "other"), t0 * 1000L, x.time * 1000L)
          }
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (on.get && p.numInputRows > 0) {
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val stateRows = p.stateOperators.map(_.numRowsTotal).sum
        val stateCommit = p.stateOperators.map(_.commitTimeMs).sum
        Tracer.this.synchronized {
          progress += Map("name" -> Option(p.name).getOrElse(""),
            "batch" -> p.batchId, "rows" -> p.numInputRows,
            "input_rows_per_s" -> p.inputRowsPerSecond,
            "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
            "add_batch_ms" -> d.getOrElse("addBatch", 0L),
            "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
            "commit_ms" -> d.getOrElse("commitOffsets", 0L),
            "state_rows" -> stateRows, "state_commit_ms" -> stateCommit)
        }
      }
    }
  }

  if (install) {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  private def codegenNow: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  /** Start recording from a clean slate. */
  def start(): Unit = synchronized {
    require(install, "tracing needs --trace 1")
    PerfbenchAccess.drainListeners(spark.sparkContext)
    ops.clear(); execOp.clear(); execStart.clear(); stageOp.clear(); qeExec.clear()
    spans.clear(); progress.clear(); actions.clear()
    codegen0 = codegenNow
    on.set(true)
  }

  /** Stop recording and hand back everything recorded since start(). */
  def stop(): Map[String, Any] = {
    PerfbenchAccess.drainListeners(spark.sparkContext)
    on.set(false)
    synchronized {
      actions.foreach { case (id, analysis, optimization, planning, (n, x, sc)) =>
        val s = stats(qeExec.get(id).flatMap(execOp.get).getOrElse("other"))
        s.actions += 1
        s.analysisMs += analysis; s.optimizationMs += optimization
        s.planningMs += planning
        s.planNodes += n; s.exchanges += x; s.scans += sc
      }
      val (n1, mean1) = codegenNow
      val compiles = n1 - codegen0._1
      Map(
        "ops" -> ops.map { case (k, v) => k -> v.toMap },
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "op" -> s.op, "start_us" -> s.startUs,
          "end_us" -> s.endUs)),
        "progress" -> progress.toVector,

        "codegen" -> Map("compiles" -> compiles,
          // the compile-time histogram keeps a sample, not a sum: the
          // total is estimated as count × sampled mean
          "compile_ms" -> compiles * mean1))
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}

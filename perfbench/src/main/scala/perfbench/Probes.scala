package perfbench

import scala.collection.mutable.{ArrayBuffer, HashMap}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level execution counters from a public `SparkListener`. */
final class ExecProbe extends SparkListener {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, gcMs, schedMs = 0L
  private var shuffleRead, shuffleWrite, spill, recordsRead = 0L
  private var peakMem = 0L
  private val stageRuns = HashMap.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0; schedMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0; recordsRead = 0; peakMem = 0
    stageRuns.clear()
  }

  def jobCount: Long = synchronized(jobs)
  def taskCount: Long = synchronized(tasks)
  def inputRecords: Long = synchronized(recordsRead)

  /** The `exec.*` metrics over the time since [[reset]]; `wallMs` and
    * `cores` give the share of the cores tasks kept busy. */
  def metrics(wallMs: Double, cores: Int): Seq[Metric] = synchronized {
    // skew: slowest task over the median task, averaged over stages that
    // ran more than one task
    val skews = stageRuns.values.filter(_.size > 1).map { rs =>
      val med = Stats.median(rs.map(_.toDouble).toSeq)
      rs.max / math.max(1.0, med)
    }
    Seq(
      Metric("exec.jobs", jobs.toDouble, "count"),
      Metric("exec.stages", stages.toDouble, "count"),
      Metric("exec.tasks", tasks.toDouble, "count"),
      Metric("exec.task_run_ms", runMs.toDouble, "ms"),
      Metric("exec.task_cpu_ms", cpuNs / 1e6, "ms"),
      Metric("exec.gc_ms", gcMs.toDouble, "ms"),
      Metric("exec.scheduler_delay_ms", schedMs.toDouble, "ms"),
      Metric("exec.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      Metric("exec.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      Metric("exec.spill_bytes", spill.toDouble, "bytes"),
      Metric("exec.peak_exec_mem_bytes", peakMem.toDouble, "bytes"),
      Metric("exec.task_skew", if (skews.isEmpty) 1.0 else skews.sum / skews.size, "ratio"),
      Metric("exec.cores_busy_share", runMs / math.max(1.0, wallMs * cores), "share"))
  }
}

/** Micro-batch progress from a public `StreamingQueryListener`. */
final class StreamProbe extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[StreamingQueryProgress]
  /** Called on each progress event as it arrives, for samples that must
    * be taken close to the batch's end (source lag). */
  @volatile var onProgress: StreamingQueryProgress => Unit = _ => ()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    onProgress(e.progress)
    synchronized(progress += e.progress)
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def reset(): Unit = synchronized(progress.clear())
  def all: Seq[StreamingQueryProgress] = synchronized(progress.toList)
}

/** Planning phases and final-plan shape of every finished batch action,
  * from a public `QueryExecutionListener` and `QueryExecution.tracker`. */
final case class Planned(func: String, analysisMs: Long, optimizationMs: Long,
                         physicalMs: Long, scans: Int, exchanges: Int, reused: Int)

final class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val done = ArrayBuffer.empty[Planned]

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val plan: SparkPlan = qe.executedPlan
    val scans = collectWithSubqueries(plan) {
      case s: DataSourceScanExec => s
      case s: DataSourceV2ScanExecBase => s
    }.size
    val exchanges = collectWithSubqueries(plan) { case e: Exchange => e }.size
    val reused = collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size
    synchronized(done += Planned(func, ms(QueryPlanningPhases.Analysis),
      ms(QueryPlanningPhases.Optimization), ms(QueryPlanningPhases.Planning),
      scans, exchanges, reused))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(): Unit = synchronized(done.clear())
  def all: Seq[Planned] = synchronized(done.toList)

  def metrics: Seq[Metric] = {
    val ps = all
    val ex = ps.map(_.exchanges).sum
    val re = ps.map(_.reused).sum
    Seq(
      Metric("plan.actions", ps.size, "count"),
      Metric("plan.analysis_ms", ps.map(_.analysisMs).sum.toDouble, "ms"),
      Metric("plan.optimization_ms", ps.map(_.optimizationMs).sum.toDouble, "ms"),
      Metric("plan.physical_ms", ps.map(_.physicalMs).sum.toDouble, "ms"),
      Metric("plan.scans", ps.map(_.scans).sum, "count"),
      Metric("plan.exchanges", ex, "count"),
      Metric("plan.reused_exchange_share", if (ex + re == 0) 0.0 else re.toDouble / (ex + re), "share"))
  }
}

private object QueryPlanningPhases {
  val Analysis = "analysis"
  val Optimization = "optimization"
  val Planning = "planning"
}

/** Whole-JVM code generation counters. */
final class CodegenProbe {
  private var c0 = 0L
  private var t0 = 0L
  def reset(): Unit = {
    c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    t0 = CodeGenerator.compileTime
  }
  def metrics: Seq[Metric] = Seq(
    Metric("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble, "count"),
    Metric("codegen.compile_ms", (CodeGenerator.compileTime - t0) / 1e6, "ms"))
}

/** All probes of one session, registered once. */
final class Probes(spark: SparkSession) {
  val exec = new ExecProbe
  val stream = new StreamProbe
  val plan = new PlanProbe
  val codegen = new CodegenProbe
  spark.sparkContext.addSparkListener(exec)
  spark.streams.addListener(stream)
  spark.listenerManager.register(plan)

  def drain(): Unit = Bus.drain(spark.sparkContext)

  def reset(): Unit = {
    drain()
    exec.reset(); stream.reset(); plan.reset(); codegen.reset()
  }

  /** `exec.*`, `plan.*` and `codegen.*` over a window of `wallMs`. */
  def layerMetrics(wallMs: Double, cores: Int): Seq[Metric] = {
    drain()
    exec.metrics(wallMs, cores) ++ plan.metrics ++ codegen.metrics
  }
}

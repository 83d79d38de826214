package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters measured from outside the engine, through Spark's
  * public listener interfaces plus two log appenders. Only a traced run
  * installs it. Listener callbacks arrive on Spark's listener-bus threads;
  * every record is kept raw, under this object's lock, and summarised per
  * time window once the bus has gone quiet. */
final class Probe extends SparkListener {

  import Probe._

  private val stages = mutable.Map.empty[Int, StageRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val progress = mutable.ArrayBuffer.empty[ProgressRec]
  private val events = new java.util.concurrent.atomic.AtomicLong
  val reregistrations = new java.util.concurrent.atomic.AtomicLong
  private val compileMicros = new java.util.concurrent.atomic.AtomicLong

  private def stage(id: Int): StageRec = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    // a job's call site is its stages' long-form call stack
    val viaMaterialize =
      e.stageInfos.exists(_.details.contains("graft.Materialize"))
    jobs += JobRec(e.jobId, e.time, viaMaterialize)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      events.incrementAndGet()
      stage(e.stageInfo.stageId).submittedMs =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageId)
    s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val s = stage(e.stageId)
    s.durationsMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = events.incrementAndGet()

  /** Catalyst's phase times and the final (post-AQE) physical plan of every
    * finished query execution, including the ones a query runs while it
    * builds its result (eager staging, collected thresholds). */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def ms(phase: String) = ph.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan: SparkPlan = qe.executedPlan
    def count(pf: PartialFunction[SparkPlan, Int]) =
      PlanWalk.collectWithSubqueries(plan)(pf).sum
    val rec = PlanRec(System.currentTimeMillis(), ms("analysis"),
      ms("optimization"), ms("planning"),
      count { case _: ShuffleExchangeLike => 1 },
      count { case _: SortMergeJoinExec => 1 },
      count { case _: BroadcastHashJoinExec => 1 })
    synchronized(plans += rec)
  }

  /** Analysis time spent when a query's DataFrame was built: its own
    * QueryExecution analyses eagerly and never reaches the listener. */
  def addAnalysis(ms: Double): Unit = synchronized {
    plans += PlanRec(System.currentTimeMillis(), ms, 0, 0, 0, 0, 0)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      if (p.numInputRows > 0) {
        val ops = p.stateOperators.toSeq
        val rec = ProgressRec(System.currentTimeMillis(), p.name, p.batchId,
          p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum)
        synchronized(progress += rec)
      }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    LogTap.install("org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
      org.apache.logging.log4j.Level.WARN) { msg =>
      if (msg.contains("replaced a previously registered function"))
        reregistrations.incrementAndGet()
    }
    val compiled = """Code generated in ([0-9.]+) ms""".r.unanchored
    LogTap.install("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
      org.apache.logging.log4j.Level.INFO) {
      case compiled(ms) => compileMicros.addAndGet((ms.toDouble * 1000).round)
      case _ => ()
    }
  }

  /** Wait until no listener event has arrived for `quietMs` (at most 10 s),
    * so a summary sees every event of the window it covers. */
  def settle(quietMs: Long = 300): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (events.get() != last && System.currentTimeMillis() < deadline) {
      last = events.get()
      Thread.sleep(quietMs)
    }
  }

  /** Janino compile time so far, from CodeGenerator's own measurement. */
  def compileMs: Double = compileMicros.get() / 1000.0

  /** Generated classes compiled so far (CodegenMetrics' compile count). */
  def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Execution-layer totals over one window: jobs by start time, stages and
    * their tasks by submission time. */
  def operators(w: Window): Map[String, Double] = synchronized {
    val js = jobs.filter(j => w.has(j.startMs))
    val ss = stages.values.filter(s => s.submittedMs > 0 && w.has(s.submittedMs))
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> js.size.toDouble,
      "materialize_jobs" -> js.count(_.materialize).toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ss.map(_.durationsMs.size).sum.toDouble,
      "executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "executor_run_s" -> ss.map(_.runMs).sum / 1e3,
      "shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> ss.map(_.shuffleRead).sum / mb,
      "spill_mb" -> ss.map(_.spill).sum / mb,
      "input_mb" -> ss.map(_.inBytes).sum / mb,
      "input_rows" -> ss.map(_.inRows).sum.toDouble,
      "scheduler_wait_s" -> ss.filter(_.firstLaunchMs != Long.MaxValue)
        .map(s => math.max(0L, s.firstLaunchMs - s.submittedMs)).sum / 1e3)
  }

  /** The worst stage's max/median task time among the stages submitted in
    * `w` that ran at least two tasks; 1.0 when there is none. */
  def worstSkew(w: Window): Double = synchronized {
    val ratios = stages.values
      .filter(s => s.submittedMs > 0 && w.has(s.submittedMs) && s.durationsMs.size >= 2)
      .map { s =>
        val med = Stats.median(s.durationsMs.map(_.toDouble).toSeq)
        s.durationsMs.max / math.max(1.0, med)
      }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Seconds of `w` during which no job of this application was running. */
  def driverGapSeconds(w: Window): Double = synchronized {
    val ivs = jobs.map(j => (math.max(j.startMs, w.fromMs), math.min(j.endMs, w.toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, w.toMs - w.fromMs - covered) / 1e3
  }

  def plansIn(w: Window): Map[String, Double] = synchronized {
    val ps = plans.filter(p => w.has(p.atMs))
    Map(
      "analysis_ms" -> ps.map(_.analysisMs).sum,
      "optimizer_ms" -> ps.map(_.optimizerMs).sum,
      "planning_ms" -> ps.map(_.planningMs).sum,
      "exchanges" -> ps.map(_.exchanges).sum.toDouble,
      "sort_merge_joins" -> ps.map(_.smj).sum.toDouble,
      "broadcast_joins" -> ps.map(_.bhj).sum.toDouble)
  }

  def progressIn(w: Window): Seq[ProgressRec] = synchronized {
    progress.filter(p => w.has(p.atMs)).toSeq
  }
}

object Probe {
  final class StageRec(val id: Int) {
    var submittedMs = 0L
    var firstLaunchMs = Long.MaxValue
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs, runMs, shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
  }
  final case class JobRec(id: Int, startMs: Long, materialize: Boolean) {
    var endMs: Long = Long.MaxValue
  }
  final case class PlanRec(atMs: Long, analysisMs: Double, optimizerMs: Double,
      planningMs: Double, exchanges: Int, smj: Int, bhj: Int)
  final case class ProgressRec(atMs: Long, query: String, batchId: Long,
      rows: Long, durations: Map[String, Long], stateRows: Long,
      stateBytes: Long, stateCommitMs: Long, lateDrops: Long)

  final case class Window(fromMs: Long, toMs: Long) {
    def has(t: Long): Boolean = t >= fromMs && t < toMs
  }
}

/** A log4j2 appender on one logger, feeding each formatted message to a
  * callback. The logger stops passing its events to the parent appenders,
  * so raising it to INFO adds no console output. */
object LogTap {
  import org.apache.logging.log4j.{Level, LogManager}
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

  def install(logger: String, level: Level)(onMessage: String => Unit): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val appender = new AbstractAppender(s"perfbench-$logger", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        onMessage(e.getMessage.getFormattedMessage)
    }
    appender.start()
    config.addAppender(appender)
    val lc = new LoggerConfig(logger, level, false)
    lc.addAppender(appender, level, null)
    config.addLogger(logger, lc)
    ctx.updateLoggers()
  }
}

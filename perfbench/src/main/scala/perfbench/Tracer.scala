package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's per-layer ledger, collected only from Spark's own
  * event streams: a `SparkListener` (jobs, stages, task metrics) and a
  * `QueryExecutionListener` (Catalyst phase times from the
  * `QueryPlanningTracker`, exchanges in the executed plan).
  *
  * Every event is kept with its timestamp, and [[window]] sums the
  * events that fall inside one driver-side wall interval. The driver
  * issues one operation at a time, so an interval holds exactly the
  * jobs, tasks and plans of the operation timed over it.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val plans = mutable.ArrayBuffer[PlanRec]()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftCoreShims.drainListenerBus(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is named after the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobRec(e.jobId, site, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val jdbc = info.rddInfos.exists { r =>
        r.name.contains("JDBC") || r.scope.exists(_.name.contains("JDBC"))
      }
      stages += StageRec(info.stageId,
        info.completionTime.getOrElse(System.currentTimeMillis()), jdbc)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long =
      m.map(f).getOrElse(0L)
    val run = metric(_.executorRunTime)
    val delay = math.max(0L, i.duration - run
      - metric(_.executorDeserializeTime)
      - metric(_.resultSerializationTime)
      - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    tasks += TaskRec(
      stageId = e.stageId,
      finish = i.finishTime,
      failed = i.failed || i.killed,
      runMs = run,
      cpuNs = metric(_.executorCpuTime),
      schedDelayMs = delay,
      shuffleRead = metric(_.shuffleReadMetrics.totalBytesRead),
      shuffleWrite = metric(_.shuffleWriteMetrics.bytesWritten),
      spill = metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      peakMem = metric(_.peakExecutionMemory),
      outRows = metric(_.outputMetrics.recordsWritten),
      outBytes = metric(_.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = phases.values.map(_.endTimeMs).foldLeft(0L)(math.max)
    val exchanges =
      try ExchangeCounter.count(qe.executedPlan)
      catch { case _: Exception => 0 }
    synchronized {
      plans += PlanRec(if (at > 0) at else System.currentTimeMillis(),
        ms("analysis"), ms("optimization"), ms("planning"), exchanges)
    }
  }

  /** Jobs started inside `[t0, t1]` (epoch ms). */
  def jobsIn(t0: Long, t1: Long): Seq[JobRec] = synchronized {
    jobs.valuesIterator.filter(j => j.start >= t0 && j.start <= t1).toList
  }

  /** Jobs per Spark call site inside `[t0, t1]`. */
  def callsites(t0: Long, t1: Long): Map[String, Int] =
    jobsIn(t0, t1).groupBy(_.callsite).view.mapValues(_.size).toMap

  /** Executor run time of tasks in stages that scan a JDBC relation. */
  def jdbcScanMs(t0: Long, t1: Long): Long = synchronized {
    val jdbcStages = stages.filter(s => s.jdbc && s.done >= t0 && s.done <= t1)
      .map(_.stageId).toSet
    tasks.filter(t => jdbcStages(t.stageId) && t.finish >= t0 && t.finish <= t1)
      .map(_.runMs).sum
  }

  /** Every layer counter of the interval `[t0, t1]` (epoch ms). */
  def window(t0: Long, t1: Long): Map[String, Double] = synchronized {
    val js = jobsIn(t0, t1)
    val ts = tasks.filter(t => t.finish >= t0 && t.finish <= t1)
    val ss = stages.filter(s => s.done >= t0 && s.done <= t1)
    val ps = plans.filter(p => p.at >= t0 && p.at <= t1)
    val busy = unionMs(js.map(j => (math.max(j.start, t0), math.min(j.end, t1))))
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.failed_tasks" -> ts.count(_.failed).toDouble,
      "spark.sched_delay_ms" -> ts.map(_.schedDelayMs).sum.toDouble,
      "spark.exec_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.exec_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.driver_ms" -> math.max(0L, (t1 - t0) - busy).toDouble,
      "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "exec.peak_mem_bytes" ->
        ts.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "output.rows" -> ts.map(_.outRows).sum.toDouble,
      "output.bytes" -> ts.map(_.outBytes).sum.toDouble,
      "plan.analysis_ms" -> ps.map(_.analysisMs).sum.toDouble,
      "plan.optimization_ms" -> ps.map(_.optimizationMs).sum.toDouble,
      "plan.planning_ms" -> ps.map(_.planningMs).sum.toDouble,
      "plan.exchanges" -> ps.map(_.exchanges).sum.toDouble)
  }
}

object Tracer {
  final case class JobRec(id: Int, callsite: String, start: Long, end: Long)
  final case class StageRec(stageId: Int, done: Long, jdbc: Boolean)
  final case class TaskRec(
      stageId: Int, finish: Long, failed: Boolean, runMs: Long, cpuNs: Long,
      schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      peakMem: Long, outRows: Long, outBytes: Long)
  final case class PlanRec(
      at: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
      exchanges: Int)

  /** Length of the union of `[start, end]` intervals, in ms. */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Shuffle exchanges in an executed plan, looking through adaptive
    * query stages and subqueries.
    */
  private object ExchangeCounter extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
  }
}

package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects what the traced run needs from Spark: every job with its job
  * group and stages, per-stage task metrics, and, per finished query
  * execution, the planner phases and rule times of its
  * `QueryPlanningTracker`. Both listener interfaces are served from the
  * shared listener-bus thread; the client thread reads the buffers only
  * after [[Recorder.barrier]], when everything an operation caused has
  * been delivered. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    jobs += JobRec(e.jobId, e.time, -1L,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    lastJobEnd = e.jobId
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageRec(e.stageId))
    val m = e.taskMetrics
    s.taskMs += e.taskInfo.duration
    s.launch += e.taskInfo.launchTime
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()), new StageRec(i.stageId))
    s.submit = i.submissionTime.getOrElse(-1L)
    s.end = i.completionTime.getOrElse(-1L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val t = qe.tracker
    val phases = t.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val rules = t.rules.collect {
      case (k, v) if v.numInvocations > 0 =>
        k -> (v.totalTimeNs, v.numInvocations, v.numEffectiveInvocations)
    }
    val tile = try qe.optimizedPlan.exists(_.isInstanceOf[InMemoryRelation])
      catch { case _: Throwable => false }
    // file bytes the scans selected; task input metrics miss reads that
    // the parquet reader does on its own threads
    val scanBytes = try PlanWalk.collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
      }.sum
      catch { case _: Throwable => 0L }
    synchronized { qes += QeRec(qe.id, funcName, phases, rules, tile, scanBytes) }
  }

  /** Runs a one-task marker job and waits until its end event arrives.
    * Listener events are delivered in order, so afterwards every event the
    * preceding operation posted has been recorded. */
  def barrier(sc: org.apache.spark.SparkContext): Unit = {
    sc.setJobGroup("perfbench:barrier", "barrier")
    sc.parallelize(Seq(1), 1).count()
    val id = sc.statusTracker.getJobIdsForGroup("perfbench:barrier").max
    sc.clearJobGroup()
    synchronized {
      val deadline = System.currentTimeMillis() + 30000
      while (lastJobEnd < id && System.currentTimeMillis() < deadline) wait(100)
    }
  }

  /** Everything recorded since the last drain, minus the barrier jobs. */
  def drain(): (Seq[JobRec], Seq[StageRec], Seq[QeRec]) = synchronized {
    val barrierStages = jobs.filter(_.group == "perfbench:barrier").flatMap(_.stageIds).toSet
    val out = (jobs.filter(_.group != "perfbench:barrier").toSeq,
      stages.values.filterNot(s => barrierStages(s.id)).toSeq, qes.toSeq)
    jobs.clear(); stages.clear(); qes.clear()
    out
  }
}

object Recorder {
  final case class JobRec(id: Int, start: Long, var end: Long, group: String,
      stageIds: Seq[Int])

  final class StageRec(val id: Int) {
    var submit = -1L
    var end = -1L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val launch = mutable.ArrayBuffer.empty[Long]
    var cpuNs, gcMs, shReadBytes, shWriteBytes, spillBytes = 0L
  }

  final case class QeRec(id: Long, func: String, phases: Map[String, (Long, Long)],
      rules: Map[String, (Long, Long, Long)], readsTile: Boolean, scanBytes: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper
}

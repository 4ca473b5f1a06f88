// Lives under org.apache.spark only to reach SparkContext.listenerBus
// (private[spark]) so the harness can drain events between operations.
package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark stage as the scheduler reported it, attributed to the
  * harness operation (`op`) and phase ("build" or "exec") whose thread
  * submitted its job. Times are epoch milliseconds. */
final case class StageRec(op: String, phase: String, job: Int, stage: Int,
                          submitMs: Long, endMs: Long, tasks: Int,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          inRows: Long, inBytes: Long,
                          shReadBytes: Long, shWriteBytes: Long, shRecords: Long,
                          spillBytes: Long)

final case class JobRec(op: String, phase: String, job: Int, startMs: Long,
                        var endMs: Long = -1L)

/** Catalyst phase times of one action's QueryExecution (from its tracker). */
final case class PlanRec(op: String, func: String,
                         analyzeMs: Long, optimizeMs: Long, planMs: Long)

/** Spark-side half of the trace: jobs and stages as child spans of the
  * harness operation that launched them (keyed by the local properties
  * the harness sets before each call), and the terminal query
  * executions' phase timings. Always registered: stage CPU feeds the
  * untraced `cpu_s`; job/plan records are kept only while `tracing`. */
final class Collector(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false
  @volatile var currentOp = ""

  private val stageOwner = mutable.HashMap.empty[Int, (String, String, Int)]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  def setOp(op: String, phase: String): Unit = {
    currentOp = op
    sc.setLocalProperty(Collector.OpKey, op)
    sc.setLocalProperty(Collector.PhaseKey, phase)
  }

  def drain(): Unit = sc.listenerBus.waitUntilEmpty(60000)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Collector.OpKey))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(Collector.PhaseKey))).getOrElse("")
    e.stageIds.foreach(s => stageOwner(s) = (op, phase, e.jobId))
    if (tracing) jobs(e.jobId) = JobRec(op, phase, e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val (op, phase, job) = stageOwner.getOrElse(i.stageId, ("", "", -1))
    val m = i.taskMetrics
    if (m != null) stages += StageRec(op, phase, job, i.stageId,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      synchronized { plans += PlanRec(currentOp, func, ms("analysis"), ms("optimization"), ms("planning")) }
    }

  override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
}

object Collector {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
}

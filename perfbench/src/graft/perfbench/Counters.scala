package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd

/** A Spark listener counting at the same boundaries the spans mark.
  * Jobs carry the opening span's id in a local property ([[Trace.Prop]])
  * and SQL executions in a job tag ([[Trace.Tag]]); stages and tasks
  * inherit it from their job. Each execution's end event carries its
  * QueryExecution (what QueryExecutionListener callbacks receive), from
  * which the planning phases and the executed plan's shape are read.
  * Counts are kept per span id and summed per layer after the run. */
class Counters extends SparkListener {
  import Counters._

  private val bySpan = mutable.Map[Int, Acc]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[Int, Long]()
  private val execSpan = mutable.Map[Long, Int]()
  private val plans = mutable.ArrayBuffer[(Long, Acc)]()

  private def acc(span: Int): Acc = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.Prop)))
      .map(_.toInt).getOrElse(0)
    acc(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // nested spans tag a thread with every open id; the innermost is the largest
      val ids = s.jobTags.collect { case t if t.startsWith(Trace.Tag) =>
        t.stripPrefix(Trace.Tag).toInt }
      if (ids.nonEmpty) synchronized { execSpan(s.executionId) = ids.max }
    case end: SparkListenerSQLExecutionEnd =>
      ExecutionEnd.qe(end).foreach(qe => record(end.executionId, qe))
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    acc(stageSpan.getOrElse(id, 0)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageSpan.getOrElse(e.stageId, 0))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    stageSubmit.get(e.stageId).foreach(t =>
      a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }

  private def record(executionId: Long, qe: QueryExecution): Unit = {
    val a = new Acc
    a.executions = 1
    qe.tracker.phases.foreach { case (phase, s) =>
      phase match {
        case "analysis" => a.analysisMs += s.durationMs
        case "optimization" => a.optimizationMs += s.durationMs
        case "planning" => a.planningMs += s.durationMs
        case _ =>
      }
    }
    try planStats(qe.executedPlan, a)
    catch { case scala.util.control.NonFatal(_) => () }
    synchronized { plans += (executionId -> a) }
  }

  /** Per-span totals (an execution started outside any span stays at
    * span 0). Call after the listener bus has drained. */
  def perSpan: Map[Int, Acc] = synchronized {
    val out = mutable.Map[Int, Acc]()
    bySpan.foreach { case (s, a) => out.getOrElseUpdate(s, new Acc).add(a) }
    plans.foreach { case (id, a) =>
      out.getOrElseUpdate(execSpan.getOrElse(id, 0), new Acc).add(a)
    }
    out.toMap
  }
}

object Counters {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var taskWaitMs, cpuNs, runMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, peakMem = 0L
    var executions, analysisMs, optimizationMs, planningMs = 0L
    var exchanges, broadcasts, scanRows, scanBytes, scanMs = 0L

    def add(o: Acc): Acc = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; taskWaitMs += o.taskWaitMs
      cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
      executions += o.executions; analysisMs += o.analysisMs
      optimizationMs += o.optimizationMs; planningMs += o.planningMs
      exchanges += o.exchanges; broadcasts += o.broadcasts
      scanRows += o.scanRows; scanBytes += o.scanBytes; scanMs += o.scanMs
      this
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Exchanges, broadcasts and file-scan metrics of an executed plan,
    * descending into adaptive stages and subqueries. */
  def planStats(plan: SparkPlan, a: Acc): Unit =
    Plans.collectWithSubqueries(plan) { case p => p }.foreach {
      case _: ShuffleExchangeLike => a.exchanges += 1
      case _: BroadcastExchangeLike => a.broadcasts += 1
      case p if p.nodeName.startsWith("Scan ") || p.getClass.getSimpleName
          .startsWith("FileSourceScan") =>
        def metric(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
        a.scanRows += metric("numOutputRows")
        a.scanBytes += metric("filesSize")
        a.scanMs += metric("scanTime")
      case _ =>
    }
}

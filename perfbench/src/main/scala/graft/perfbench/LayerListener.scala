package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, from one Spark listener and one
  * query-execution listener. Scheduler and executor work is attributed
  * to the benchmark's trace through the job group the benchmark sets on
  * its thread before each call; Catalyst phases are kept with their
  * times and summed over a window. Read only after the listener bus has
  * drained. */
final class LayerListener extends SparkListener
    with QueryExecutionListener {

  final class Agg {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var input = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byGroup = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  /** (phase, start ms, end ms) of every executed query's phases. */
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def agg(group: String): Agg =
    byGroup.getOrElseUpdate(group, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      agg(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    a.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    qe.tracker.phases.foreach { case (p, s) =>
      phases += ((p, s.startTimeMs, s.endTimeMs))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Seconds of one phase that began and ended within [fromMs, toMs],
    * so set-up queries and the output check are left out. */
  def phaseSeconds(phase: String, fromMs: Long, toMs: Long): Double =
    synchronized {
      phases.collect { case (p, s, e)
        if p == phase && s >= fromMs && e <= toMs => e - s }.sum / 1e3
    }

  /** Aggregates of the named job groups, merged. */
  def groups(names: Iterable[String]): Agg = synchronized {
    val out = new Agg
    names.flatMap(byGroup.get).foreach { a =>
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.runMs += a.runMs; out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
      out.shuffleWrite += a.shuffleWrite; out.shuffleRead += a.shuffleRead
      out.fetchWaitMs += a.fetchWaitMs; out.spill += a.spill
      out.input += a.input; out.taskSpans ++= a.taskSpans
    }
    out
  }
}

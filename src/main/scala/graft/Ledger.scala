package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlShims

/** The engine's one cost ledger: a single SparkListener per
  * SparkContext that attributes Spark work to the job group
  * [[measure]] sets on the calling thread. Spark copies the caller's
  * local properties onto the jobs it submits for it, AQE's stage jobs
  * and broadcast and subquery jobs included. After the body returns,
  * [[measure]] drains the listener bus, so the [[Cost]] it returns
  * already holds the last job's tasks: no settle sleep, no time
  * window, and work on other threads never leaks into a measurement.
  *
  * A job run on another thread without the group counts under no
  * group: a streaming micro-batch runs on the stream's thread under
  * the stream's own group, so a body that starts or awaits a stream
  * does not see its batches' cost.
  */
object Ledger {

  /** What one measured body cost Spark. */
  final case class Cost(jobs: Long, stages: Long, tasks: Long,
      taskSec: Double, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      inputBytes: Long) {
    def shuffleWriteMb: Double = shuffleWriteBytes / 1e6
    def inputMb: Double = inputBytes / 1e6
  }

  private val GroupKey = "spark.jobGroup.id"

  private final class Acc {
    var jobs, stages, tasks, runMs, shW, shR, in = 0L
    def cost: Cost = Cost(jobs, stages, tasks, runMs / 1e3, shW, shR, in)
  }

  /** Holds only the open measurements and their stages. Callbacks run
    * on the bus thread and reads on the measuring one, hence the locks. */
  private final class Listener extends SparkListener {
    private val open = mutable.Map.empty[String, Acc]
    private val stageAcc = mutable.Map.empty[Int, Acc]

    def start(id: String): Unit = synchronized { open(id) = new Acc }
    def cost(id: String): Cost = synchronized { open(id).cost }
    def close(id: String): Unit = synchronized {
      open.remove(id).foreach(a => stageAcc.filterInPlace((_, s) => s ne a))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .flatMap(open.get).foreach { a =>
          a.jobs += 1
          e.stageIds.foreach(stageAcc(_) = a)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stageAcc.get(e.stageInfo.stageId).foreach(_.stages += 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (a <- stageAcc.get(e.stageId); m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.in += m.inputMetrics.bytesRead
      }
    }
  }

  private var installed: Option[(SparkContext, Listener)] = None
  private val seq = new AtomicLong

  private def listener(sc: SparkContext): Listener = synchronized {
    installed.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      installed = Some(sc -> l)
      l
    }
  }

  /** Runs `body` under a fresh job group named after `name` and
    * returns its result with the Spark work it caused. The thread's
    * previous job group is restored afterwards. */
  def measure[A](spark: SparkSession, name: String)(body: => A): (A, Cost) = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val id = s"graft.ledger.$name.${seq.incrementAndGet()}"
    val prev = sc.getLocalProperty(GroupKey)
    l.start(id)
    sc.setLocalProperty(GroupKey, id)
    try {
      val out = body
      GraftSqlShims.drainListenerBus(sc)
      (out, l.cost(id))
    } finally {
      sc.setLocalProperty(GroupKey, prev)
      l.close(id)
    }
  }
}

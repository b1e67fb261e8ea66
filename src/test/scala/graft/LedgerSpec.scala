package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** graft.Ledger attributes Spark work by job group and drains the
  * listener bus before it answers, so no check here waits for events. */
class LedgerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private def grouped(n: Long, keys: Int): DataFrame =
    spark.range(0, n, 1, 4).groupBy((col("id") % keys).as("k"))
      .agg(sum("id").as("s"))

  /** Shuffle bytes the executed plan's own exchanges report. */
  private def planShuffleBytes(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.metrics("shuffleBytesWritten").value
    }.sum

  test("two job groups run back to back each get exactly their own " +
      "shuffle bytes; a query with no exchange reads 0") {
    val small = grouped(20000, 97)
    val large = grouped(400000, 4099)
    val plain = spark.range(0, 1000, 1, 4).filter(col("id") % 3 === 0)
    val (_, a) = Ledger.measure(spark, "small")(small.collect())
    val (_, b) = Ledger.measure(spark, "large")(large.collect())
    val (_, c) = Ledger.measure(spark, "plain")(plain.collect())
    assert(a.shuffleWriteBytes > 0 && a.shuffleReadBytes > 0)
    assert(a.shuffleWriteBytes === planShuffleBytes(small))
    assert(b.shuffleWriteBytes === planShuffleBytes(large))
    assert(b.shuffleWriteBytes > a.shuffleWriteBytes)
    assert(c.jobs >= 1 && c.tasks >= 1)
    assert(c.shuffleWriteBytes === 0 && c.shuffleReadBytes === 0)
  }

  test("a query's counts are the same measured inside a suite as " +
      "measured alone") {
    def counts(cost: Ledger.Cost) = cost.copy(taskSec = 0)
    val (_, alone) = Ledger.measure(spark, "alone")(grouped(50000, 211).collect())
    // the suite: other queries back to back on this thread and a
    // concurrent stream of shuffling jobs on another
    @volatile var stop = false
    val other = new Thread(() =>
      while (!stop) grouped(30000, 53).collect())
    other.start()
    try {
      Ledger.measure(spark, "before")(grouped(10000, 7).collect())
      val (_, inSuite) =
        Ledger.measure(spark, "suite")(grouped(50000, 211).collect())
      Ledger.measure(spark, "after")(grouped(10000, 7).collect())
      assert(counts(inSuite) === counts(alone))
    } finally {
      stop = true
      other.join()
    }
  }

  test("reading right after measure returns already includes the last " +
      "job's tasks") {
    // a listener on the same bus queue that is slower than the job:
    // without the drain the ledger would not yet have seen most tasks
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(10)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val (n, cost) = Ledger.measure(spark, "tasks") {
        spark.sparkContext.parallelize(1 to 64, 32).count()
      }
      assert(n === 64)
      assert((cost.jobs, cost.stages, cost.tasks) === ((1L, 1L, 32L)))
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("measure restores the thread's previous job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("outer", "outer group")
    try {
      Ledger.measure(spark, "inner")(spark.range(10).count())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "outer")
    } finally sc.clearJobGroup()
  }
}

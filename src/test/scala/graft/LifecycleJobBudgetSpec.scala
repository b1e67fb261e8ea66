package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete,
  StreamingGraphInsert}

/** Spark job budgets of the two calls that repair tombstones on a
  * lifecycle index: the first search after a delete (which
  * rematerializes the serving graph) and the fold. The repair runs as
  * three bounded collects on the coordinator; the distributed rule it
  * replaced ran 54 and 34 jobs here (four lazily persisted subtrees,
  * each its own adaptive plan). The materialize is counted as the
  * delete-state search minus a warm search of the same state; it
  * includes the serving write and the walk's corpus and graph fills a
  * retired-state change makes. Budgets are the counts measured on
  * sf0.001 with a little headroom.
  *
  * The walk itself: a warm search and an insert epoch read the corpus
  * and graph the process holds on the driver (WalkGraph), so neither
  * runs a per-hop job; with the per-hop walk they ran 12 and 14. */
class LifecycleJobBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private object Aqe extends
    org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def freshIndex(): String = {
    val idx = Files.createTempDirectory("graft-job-budget-").toString
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  private def queries = emb.filter(col("vec_id") < 20 &&
      pmod(col("vec_id"), lit(97)) =!= 0)
    .select("vec_id", "embedding")

  // an insert batch of fresh ids (copies of corpus vectors)
  private def inserts(from: Long) =
    emb.filter(pmod(col("vec_id"), lit(89)) === from % 89)
      .select((col("vec_id") + 1000000L * (from + 1)).as("vec_id"),
        col("embedding"), col("label"))

  test("a warm search on a held state runs at most 3 Spark jobs") {
    val idx = freshIndex()
    try {
      LifecycleIndex.search(spark, sf, idx, queries).collect()
      val (_, warm) = Ledger.measure(spark, "warm-search") {
        LifecycleIndex.search(spark, sf, idx, queries).collect()
      }
      info(s"warm search jobs: ${warm.jobs}")
      assert(LifecycleIndex.lastServeModeFor(idx) === "adopt")
      assert(warm.jobs <= 3L, s"a warm search ran ${warm.jobs} jobs")
    } finally {
      Resident.release(idx)
      PersistRegistry.release()
    }
  }

  test("an insert epoch on a held stream graph runs at most 5 Spark jobs") {
    val idx = freshIndex()
    try {
      StreamingGraphInsert.insertEpoch(spark, inserts(1), sf, idx, 0L)
      val (_, epoch) = Ledger.measure(spark, "insert-epoch") {
        StreamingGraphInsert.insertEpoch(spark, inserts(2), sf, idx, 1L)
      }
      info(s"insert epoch jobs: ${epoch.jobs}")
      assert(epoch.jobs <= 5L, s"an insert epoch ran ${epoch.jobs} jobs")
    } finally {
      Resident.release(idx)
      PersistRegistry.release()
    }
  }

  test("an insert-state materialize with tombstones pending reads the " +
      "tombstones once") {
    import spark.implicits._
    val idx = freshIndex()
    try {
      LifecycleIndex.search(spark, sf, idx, queries).collect()
      StreamingGraphDelete.deleteEpoch(spark,
        Seq(3L, 5L, 7L, 11L).toDF("vec_id"), sf, idx, 0L)
      LifecycleIndex.search(spark, sf, idx, queries).collect()
      StreamingGraphInsert.insertEpoch(spark, inserts(1), sf, idx, 0L)
      // the actions whose plan scans the tombstone table's files
      val delReads = new java.util.concurrent.atomic.AtomicInteger(0)
      val delDir = LifecycleIndex.delTab(idx)
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            ns: Long): Unit =
          if (Aqe.find(qe.executedPlan) {
              case s: org.apache.spark.sql.execution.FileSourceScanExec =>
                s.relation.location.rootPaths
                  .exists(_.toString.contains(delDir))
              case _ => false
            }.isDefined) delReads.incrementAndGet()
        def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val (_, afterInsert) =
        try Ledger.measure(spark, "search-after-insert") {
          LifecycleIndex.search(spark, sf, idx, queries).collect()
        } finally spark.listenerManager.unregister(listener)
      // the delta guard saw the pending tombstones and gave up
      assert(LifecycleIndex.lastServeModeFor(idx) === "full")
      info(s"jobs: search_after_insert=${afterInsert.jobs} " +
        s"tombstone reads=${delReads.get}")
      assert(delReads.get === 1,
        "the guard and the repair must share one tombstone read")
      // the per-hop walk and the second tombstone read ran 22 here
      assert(afterInsert.jobs <= PendingTombstonesBudget,
        s"the insert-state search ran ${afterInsert.jobs} jobs")
    } finally {
      Resident.release(idx)
      PersistRegistry.release()
    }
  }

  test("a delete-state materialize and a fold stay within their Spark " +
      "job budgets") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-job-budget-").toString
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20 &&
        pmod(col("vec_id"), lit(97)) =!= 0)
      .select("vec_id", "embedding")
    val dels = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
      .select("vec_id").as[Long].collect().toSeq
    assert(dels.nonEmpty)
    try {
      LifecycleIndex.search(spark, sf, idx, queries).collect()
      StreamingGraphDelete.deleteEpoch(spark, dels.toDF("vec_id"), sf,
        idx, 0L)
      val (_, afterDelete) = Ledger.measure(spark, "search-after-delete") {
        LifecycleIndex.search(spark, sf, idx, queries).collect()
      }
      assert(LifecycleIndex.lastServeModeFor(idx) === "full")
      val (_, warm) = Ledger.measure(spark, "warm-search") {
        LifecycleIndex.search(spark, sf, idx, queries).collect()
      }
      val (_, fold) = Ledger.measure(spark, "fold") {
        LifecycleIndex.foldTombstones(spark, sf, idx)
      }
      val materialize = afterDelete.jobs - warm.jobs
      info(s"jobs: search_after_delete=${afterDelete.jobs} " +
        s"warm_search=${warm.jobs} materialize=$materialize " +
        s"fold=${fold.jobs}")
      assert(materialize <= MaterializeBudget,
        s"delete-state materialize ran $materialize jobs")
      assert(fold.jobs <= FoldBudget, s"fold ran ${fold.jobs} jobs")
    } finally {
      Resident.release(idx)
      PersistRegistry.release()
    }
  }

  // measured 16 and 8 (the distributed rule: 54 and 34)
  private val MaterializeBudget = 18L
  private val FoldBudget = 10L
  // measured 12 (with the per-hop walk and two tombstone reads: 22)
  private val PendingTombstonesBudget = 13L
}

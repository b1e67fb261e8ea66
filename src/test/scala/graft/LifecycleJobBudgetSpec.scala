package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete}

/** Spark job budgets of the two calls that repair tombstones on a
  * lifecycle index: the first search after a delete (which
  * rematerializes the serving graph) and the fold. The repair runs as
  * three bounded collects on the coordinator; the distributed rule it
  * replaced ran 54 and 34 jobs here (four lazily persisted subtrees,
  * each its own adaptive plan). The materialize is counted as the
  * delete-state search minus a warm search of the same state, so the
  * walk's jobs cancel; it still includes the serving write and the
  * centroid table a retired-state change recomputes. Budgets are the
  * counts measured on sf0.001 with a little headroom. */
class LifecycleJobBudgetSpec extends AnyFunSuite {
  import TestSpark._

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
      LifecycleIndex.releaseIndexCaches(spark, idx)
      PersistRegistry.release()
    }
  }

  // measured 16 and 8 (the distributed rule: 54 and 34)
  private val MaterializeBudget = 18L
  private val FoldBudget = 10L
}

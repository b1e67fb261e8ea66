package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LifecycleIndex, StreamingGraphDelete}
import graft.warehouse.SnapshotTable

/** Streaming graph-index DELETION ≡ batch, under the round-14
  * delete-vector design: an epoch writes ONLY its tombstone batch
  * (O(|batch|), never the O(|E|) edge-table republish of round 13)
  * and the maintained graph is resolved at read time
  * (LifecycleIndex.maintainedEdges) as v23's prune+repair of the
  * base against the CUMULATIVE tombstone set — so the drained
  * stream's maintained graph equals the one-shot batch delete
  * row-for-row under any micro-batching. Also pins: the epoch writes
  * no edge table at all (the structural O(|batch|)-write proof), no
  * deleted endpoint survives, a re-delivered epoch is a no-op even
  * after an interleaved meta-less compact (durable per-version
  * ledger, `del:`-namespaced), an oversized epoch fails the
  * distributed pre-check, the fold is observationally silent and
  * bounds read cost, and the auto-fold fires from the epoch path.
  */
class StreamingGraphDeleteSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("file-streamed deletes resolve to the same maintained graph " +
      "as the one-shot v23 prune+repair; the epoch writes ONLY " +
      "tombstones; ledger survives a compact") {
    val in = tmp("graft-sgd-in-")
    val idx = tmp("graft-sgd-idx-")
    val ck = tmp("graft-sgd-ck-")
    // v23's fixture delete batch (every 97th vec_id), in 3 waves
    val dels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(dels.length >= 3, "need enough tombstones to micro-batch")
    dels.grouped(math.max(dels.length / 3, 1)).zipWithIndex
      .foreach { case (chunk, i) =>
        import spark.implicits._
        chunk.toSeq.toDF("vec_id").coalesce(1)
          .write.parquet(s"$in/wave_$i")
      }
    val q = StreamingGraphDelete.start(spark, s"$in/*", sf, idx, ck)
    try q.processAllAvailable() finally q.stop()
    PersistRegistry.release()

    // THE structural write bound: a delete-only stream committed a
    // tombstone table and NOTHING else — no edge table, no base
    // (round-13 republished O(|E|) edges per epoch; round-14 writes
    // O(|batch|) tombstone rows, flat in the graph size)
    assert(!Files.exists(java.nio.file.Paths.get(
      LifecycleIndex.edgesTab(idx))),
      "a delete epoch must not write any edge table")
    assert(!Files.exists(java.nio.file.Paths.get(
      LifecycleIndex.baseTab(idx))),
      "a delete epoch below the fold threshold must not rewrite a base")
    val delRows = SnapshotTable.read(spark,
      LifecycleIndex.delTab(idx)).count()
    assert(delRows === dels.length.toLong,
      "the tombstone table must hold exactly the streamed ids")

    val streamed =
      edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    val batch = edgeSet(graft.operators.SimilarityQueries
      .deleteRepairedGraph(spark, sf))
    PersistRegistry.release()
    assert(streamed === batch,
      "read-time maintained edges must equal the one-shot prune+repair")

    // no deleted endpoint survives in the maintained graph
    val delSet = dels.toSet
    assert(!streamed.exists { case (u, w) => delSet(u) || delSet(w) },
      "a tombstoned id survived as a graph endpoint")

    // exactly-once across an interleaved meta-less commit: a compact
    // moves the CURRENT pointer and drops its meta, so the pointer-
    // only check would re-apply a late re-delivered epoch; the
    // durable per-version ledger must still recognize it
    val delTab = LifecycleIndex.delTab(idx)
    val lastId = SnapshotTable.committedMetas(delTab)
      .flatMap("del:batch=(\\d+)".r.findFirstMatchIn(_))
      .map(_.group(1).toLong).max
    SnapshotTable.compact(spark, delTab)
    val versionsBefore = SnapshotTable.versions(delTab).size
    val lastWave = spark.read.parquet(s"$in/wave_2")
    StreamingGraphDelete.deleteEpoch(spark, lastWave, sf, idx, lastId)
    PersistRegistry.release()
    assert(SnapshotTable.versions(delTab).size === versionsBefore,
      "a re-delivered epoch must be skipped by the durable ledger " +
      "even after an interleaved meta-less compact")
  }

  test("tombstone fold: nothing observable changes at fold time, the " +
      "tombstone list restarts empty, post-fold epochs are exact " +
      "against the folded base, and pre-fold re-delivery still skips") {
    import graft.operators.SimilarityQueries
    val idx = tmp("graft-sgd-fold-")
    val dels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val (pre, post) = dels.splitAt(dels.length * 2 / 3)
    import spark.implicits._
    // two pre-fold epochs
    pre.grouped(math.max(pre.length / 2, 1)).zipWithIndex
      .foreach { case (chunk, i) =>
        StreamingGraphDelete.deleteEpoch(spark,
          chunk.toSeq.toDF("vec_id"), sf, idx, i.toLong)
      }
    val beforeFold =
      edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    LifecycleIndex.foldTombstones(spark, sf, idx)
    // fold is observationally silent on the maintained graph (pre-
    // fold repair edges become base edges, same rows) ...
    val afterFold =
      edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    assert(afterFold === beforeFold,
      "a fold must not change the maintained graph")
    // ... and the folded base IS the maintained graph, read directly
    assert(edgeSet(SnapshotTable.read(spark,
      LifecycleIndex.baseTab(idx))) === beforeFold)
    assert(SnapshotTable.read(spark,
      LifecycleIndex.delTab(idx)).count() === 0L,
      "the tombstone list must restart empty after a fold")
    // a pre-fold epoch re-delivered post-fold is still a no-op
    val versions =
      SnapshotTable.versions(LifecycleIndex.delTab(idx)).size
    StreamingGraphDelete.deleteEpoch(spark,
      pre.take(2).toSeq.toDF("vec_id"), sf, idx, 0L)
    assert(SnapshotTable.versions(LifecycleIndex.delTab(idx)).size
      === versions,
      "pre-fold epoch re-delivery must skip via the persistent ledger")
    // post-fold epoch: exact prune+repair against the FOLDED base
    StreamingGraphDelete.deleteEpoch(spark,
      post.toSeq.toDF("vec_id"), sf, idx, 99L)
    val got = edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    val want = edgeSet(SimilarityQueries.streamDeleteEdges(spark, sf,
      post.toSeq.toDF("vec_id").select(col("vec_id").as("del_id")),
      Some(SnapshotTable.read(spark, LifecycleIndex.baseTab(idx)))))
    PersistRegistry.release()
    assert(got === want,
      "post-fold epoch must equal prune+repair over the folded base")
    // no deleted id from ANY wave survives
    val delSet = dels.toSet
    assert(!got.exists { case (u, w) => delSet(u) || delSet(w) },
      "a tombstoned id reappeared after the fold")
  }

  test("auto-fold fires from the epoch path once the cumulative " +
      "tombstone count crosses the bound, without changing the " +
      "maintained graph") {
    import spark.implicits._
    val idx = tmp("graft-sgd-auto-")
    val dels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    // foldAt=1: the very first epoch (>=3 tombstones) crosses it
    StreamingGraphDelete.deleteEpoch(spark,
      dels.toSeq.toDF("vec_id"), sf, idx, 0L, foldAt = 1L)
    assert(Files.exists(java.nio.file.Paths.get(
      LifecycleIndex.baseTab(idx), "_versions", "CURRENT")),
      "auto-fold must have committed a folded base")
    assert(SnapshotTable.read(spark,
      LifecycleIndex.delTab(idx)).count() === 0L,
      "auto-fold must restart the tombstone table empty")
    val got = edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    val batch = edgeSet(graft.operators.SimilarityQueries
      .deleteRepairedGraph(spark, sf))
    PersistRegistry.release()
    assert(got === batch,
      "the auto-folded maintained graph must equal the one-shot batch")
  }

  test("a tombstone set past the coordinator repair's cap still " +
      "folds, through the distributed repair, to the maintained graph " +
      "of the ids that touch it") {
    import spark.implicits._
    import graft.operators.SimilarityQueries
    val idx = tmp("graft-sgd-pastcap-")
    val dels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0)
      .select("vec_id").as[Long].collect().toSeq
    StreamingGraphDelete.deleteEpoch(spark, dels.toDF("vec_id"), sf, idx,
      0L, foldAt = Long.MaxValue)
    // ids no graph holds, past the cap in one append: the tombstone
    // table that intake epochs leave when folds do not run
    SnapshotTable.append(spark,
      spark.range(1L << 40, (1L << 40) + SimilarityQueries.RepairMaxDeletes)
        .select(col("id").as("vec_id")).repartition(1),
      LifecycleIndex.delTab(idx), Some("del:batch=1"))
    val want = edgeSet(SimilarityQueries.deleteRepairedGraph(spark, sf))
    assert(edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx)) === want,
      "past the cap the maintained graph must be the one-shot batch's")
    LifecycleIndex.foldTombstones(spark, sf, idx)
    assert(SnapshotTable.read(spark,
      LifecycleIndex.delTab(idx)).count() === 0L,
      "the fold must restart the tombstone table empty")
    val got = edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    PersistRegistry.release()
    assert(got === want.distinct,
      "the folded maintained graph must equal the one-shot batch")
  }

  test("an oversized delete epoch fails the distributed pre-check " +
      "before any work") {
    val idx = tmp("graft-sgd-cap-")
    val oversized = spark.range(StreamingGraphDelete.EpochCap + 1)
      .select(col("id").as("vec_id"))
    val e = intercept[IllegalArgumentException] {
      StreamingGraphDelete.deleteEpoch(spark, oversized, sf, idx, 0L)
    }
    assert(e.getMessage.contains("intake budget"))
    // nothing was committed — the epoch failed before any append
    assert(!Files.exists(java.nio.file.Paths.get(s"$idx/deleted")),
      "an over-budget epoch must not leave a partial tombstone commit")
  }
}

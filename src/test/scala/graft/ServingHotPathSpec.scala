package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.SnapshotTable

/** Round-17 serving hot-path work (the latency budget's measured
  * scaling term was `walk_hops` — the per-hop corpus probe):
  *
  *   - the serving snapshot stores the SYMMETRIZED maintained graph
  *     (union+distinct paid once per index state, not once per hop
  *     per search), format-marked in its meta so a mixed-version
  *     deployment can never adopt a snapshot in the other format;
  *   - the retired-filtered quantized corpus every hop probes is
  *     PERSISTED once per retired-state: one cache entry per
  *     (application, index), keyed by the retired-table version —
  *     surviving insert/fold advances, replaced (old blocks
  *     unpersisted) only when a delete epoch moves the retired set,
  *     swept with the centroid cache at the state-change boundary,
  *     and re-pinned if a batch harness's PersistRegistry.release()
  *     uncached an identical plan.
  *
  * Correctness never depends on either: results are pinned by the
  * version capture, and the existing vacuum-race / cross-process
  * specs re-run green on top of this (same suite).
  */
class ServingHotPathSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def searchQueries = emb
    .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
    .select("vec_id", "embedding")

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  private def freshIndex(): String = {
    val idx = tmp("graft-srvhot-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  private def edgePairs(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  // one live vec_id per call — distinct delete batches that each
  // advance the retired set
  private def delOne(id: Long) =
    emb.filter(col("vec_id") === id).select("vec_id")

  test("the serving snapshot stores exactly the SYMMETRIZED " +
      "maintained graph, and its meta carries the format marker") {
    val idx = freshIndex()
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val sTab = LifecycleIndex.servingTab(idx)
    val sv = SnapshotTable.currentVersionOf(sTab).get
    val stored = edgePairs(SnapshotTable.read(spark, sTab, sv))
    val m = LifecycleIndex.maintainedEdges(spark, sf, idx)
    val want = edgePairs(m) ++ edgePairs(m).map(_.swap)
    assert(stored === want,
      "serving graph must be union(maintained, reverse(maintained))")
    assert(SnapshotTable.metaOf(sTab, sv).exists(_.endsWith("|sym1")),
      "serving meta must carry the pre-symmetrized format marker")
    PersistRegistry.release()
  }

  test("search rows are identical to the in-walk-symmetrize path " +
      "walked over the same maintained graph (the format change is " +
      "plan-only)") {
    val idx = freshIndex()
    StreamingGraphInsert.insertEpoch(spark,
      emb.filter(SimilarityQueries.v21BatchFilter)
        .select("vec_id", "embedding", "label"), sf, idx, 0L)
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(SimilarityQueries.v23DeleteFilter)
        .select("vec_id"), sf, idx, 0L)
    val served = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    // the pre-change walk: same corpus filter, same maintained graph,
    // symmetrize INSIDE the walk (preSymmetrized = false)
    import spark.implicits._
    val qrows = searchQueries
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 10000).cast("long")).as("r"))
      .withColumn("nn", aggregate(transform(col("r"), x => x * x),
        lit(0L), (acc, v) => acc + v))
      .select("vec_id", "r", "nn")
      .as[(Long, Array[Long], Long)].collect()
    val nAll = graft.operators.DedupQueries.quantized(spark, sf)
    val retired = SnapshotTable
      .read(spark, LifecycleIndex.retiredTab(idx))
      .select("vec_id").distinct()
    val n = nAll.join(retired, Seq("vec_id"), "left_anti")
    val knobs = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
    val legacy = searchRows(SimilarityQueries.beamWalkCore(spark, n,
      qrows, LifecycleIndex.maintainedEdges(spark, sf, idx), knobs, 4096))
    assert(served === legacy,
      "pre-symmetrized serving walk diverged from the in-walk-" +
      "symmetrize rule")
    PersistRegistry.release()
  }

  test("the corpus cache holds ONE persisted entry per served index, " +
      "keyed by the retired-table version: it survives an insert " +
      "epoch, is replaced on a delete epoch, and repeated state " +
      "advances do not grow the persisted-RDD census (old blocks are " +
      "unpersisted, not leaked)") {
    val idx = freshIndex()
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val key = Resident.key(spark, idx)
    val st0 = LifecycleIndex.servingCorpus.entries(key)
    val level = st0.df.storageLevel.description
    assert(st0.tag === "-", "no delete epoch yet: tag must be '-'")
    assert(level.toLowerCase.contains("memory"),
      s"corpus entry must be persisted, got level '$level'")
    // an INSERT epoch advances vI but not the retired set — the
    // cached corpus must survive (no unpersist/re-persist churn)
    StreamingGraphInsert.insertEpoch(spark,
      emb.filter(SimilarityQueries.v21BatchFilter)
        .select("vec_id", "embedding", "label"), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    assert(LifecycleIndex.servingCorpus.entries(key).tag === "-",
      "insert epoch must not rotate the corpus cache entry")
    // DELETE epochs advance the retired set: tag rotates, old blocks
    // are unpersisted — the persisted-RDD census stays bounded across
    // repeated advances instead of growing one corpus per state
    StreamingGraphDelete.deleteEpoch(spark, delOne(3L), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val tag1 = LifecycleIndex.servingCorpus.entries(key).tag
    assert(tag1 !== "-", "delete epoch must rotate the corpus entry")
    PersistRegistry.release() // epoch/search TRACKED intermediates
    val census = spark.sparkContext.getPersistentRDDs.size
    for ((id, ep) <- Seq((5L, 1L), (7L, 2L), (11L, 3L))) {
      StreamingGraphDelete.deleteEpoch(spark, delOne(id), sf, idx, ep)
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      PersistRegistry.release() // isolate the census to cache entries
    }
    val census2 = spark.sparkContext.getPersistentRDDs.size
    assert(census2 <= census,
      s"persisted-RDD census grew with state advances " +
      s"($census -> $census2): rotated corpus entries are leaking")
    assert(LifecycleIndex.servingCorpus.entries(key).tag !== tag1,
      "the tag must track the latest retired version")
    PersistRegistry.release()
  }

  test("a corpus entry uncached out from under the serving path " +
      "(a batch harness releasing an identical plan) is re-pinned by " +
      "the next search on the same state") {
    val idx = freshIndex()
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val key = Resident.key(spark, idx)
    assert(LifecycleIndex.servingCorpus.entries(key).df.storageLevel
      .description.toLowerCase.contains("memory"))
    spark.catalog.clearCache() // what a foreign release() can do
    val rows1 = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    assert(LifecycleIndex.servingCorpus.entries(key).df.storageLevel
      .description.toLowerCase.contains("memory"),
      "the entry must be re-pinned after a foreign uncache")
    // and the unpersisted window never affected results
    val rows2 = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    assert(rows1 === rows2)
    PersistRegistry.release()
  }

  test("the corpus cache is LRU-bounded for LIVE indexes: with " +
      "corpusCacheMax=1, serving a second index evicts the first's " +
      "persisted corpus, and a later search on the first simply " +
      "re-persists — identical rows") {
    val prev = spark.conf.getOption("spark.graft.serving.corpusCacheMax")
    spark.conf.set("spark.graft.serving.corpusCacheMax", "1")
    try {
      val a = freshIndex()
      val b = freshIndex()
      val rowsA = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      val keyA = Resident.key(spark, a)
      val keyB = Resident.key(spark, b)
      assert(LifecycleIndex.servingCorpus.entries.contains(keyA))
      LifecycleIndex.search(spark, sf, b, searchQueries).count()
      val st = LifecycleIndex.servingCorpus.entries
      assert(st.contains(keyB) && !st.contains(keyA),
        s"LRU bound must keep only the latest served index: $st")
      val again = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      assert(again === rowsA,
        "an evicted index must recompute to identical rows")
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.graft.serving.corpusCacheMax", v)
        case None =>
          spark.conf.unset("spark.graft.serving.corpusCacheMax")
      }
      PersistRegistry.release()
    }
  }

  test("the centroid cache keys by the RETIRED-STATE, not the full " +
      "version tag: an insert epoch reuses the held table, a delete " +
      "epoch rotates it") {
    val idx = freshIndex()
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val key = Resident.key(spark, idx)
    assert(LifecycleIndex.centroids.entries(key)._1 === "-")
    StreamingGraphInsert.insertEpoch(spark,
      emb.filter(SimilarityQueries.v21BatchFilter)
        .select("vec_id", "embedding", "label"), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    assert(LifecycleIndex.centroids.entries(key)._1 === "-",
      "an insert epoch must not rotate the centroid entry (the " +
      "table depends only on the retired set)")
    StreamingGraphDelete.deleteEpoch(spark, delOne(3L), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    assert(LifecycleIndex.centroids.entries(key)._1 !== "-",
      "a delete epoch must rotate the centroid entry")
    PersistRegistry.release()
  }

  test("an index DROPPED and RECREATED at the same dir heals both " +
      "serving caches: the dead incarnation's newer-tagged entries " +
      "are rotated out (not kept forever by the forward-only rule), " +
      "and the recreated index serves rows identical to a pristine " +
      "twin") {
    import scala.jdk.CollectionConverters._
    def deleteRec(dir: String): Unit =
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    val idx = freshIndex()
    // give the first incarnation a retired state (tag "0")
    StreamingGraphDelete.deleteEpoch(spark, delOne(3L), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    val key = Resident.key(spark, idx)
    val oldTag = LifecycleIndex.servingCorpus.entries(key).tag
    assert(oldTag !== "-")
    // drop + recreate at the SAME path, with NO Resident.release
    // and no intervening search (the eviction sweep never sees the
    // dead window) — the recreated index has no retired table, so
    // its tag '-' is OLDER than the residue's
    deleteRec(idx)
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val rows = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    assert(LifecycleIndex.servingCorpus.entries(key).tag === "-",
      "the dead incarnation's corpus entry must rotate out")
    assert(LifecycleIndex.centroids.entries(key)._1 === "-",
      "the dead incarnation's centroid entry must rotate out")
    val twin = freshIndex()
    val want = searchRows(
      LifecycleIndex.search(spark, sf, twin, searchQueries))
    assert(rows === want,
      "the recreated index must serve pristine rows")
    // and when the NEW incarnation's delete epochs catch up to the
    // old incarnation's version count, the digest-qualified tag
    // still cannot collide (a bare version number would: both
    // incarnations would be at retired v0 here, and a tag match
    // would serve the dead incarnation's cached corpus)
    StreamingGraphDelete.deleteEpoch(spark, delOne(3L), sf, idx, 0L)
    val rows2 = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    val newTag = LifecycleIndex.servingCorpus.entries(key).tag
    assert(newTag.startsWith("0@") && oldTag.startsWith("0@") &&
      newTag != oldTag,
      s"equal retired versions across incarnations must yield " +
      s"distinct tags: $oldTag vs $newTag")
    StreamingGraphDelete.deleteEpoch(spark, delOne(3L), sf, twin, 0L)
    val want2 = searchRows(
      LifecycleIndex.search(spark, sf, twin, searchQueries))
    assert(rows2 === want2,
      "post-catch-up rows must match the twin's")
    PersistRegistry.release()
  }

  test("the streaming insert hook's corpus is RESIDENT across " +
      "epochs: a harness release() between epochs does not strip " +
      "it, and a vanished corpus dir evicts + unpersists the entry") {
    val idx = freshIndex()
    StreamingGraphInsert.insertEpoch(spark,
      emb.filter(SimilarityQueries.v21BatchFilter)
        .select("vec_id", "embedding", "label"), sf, idx, 0L)
    val key = Resident.key(spark, sf)
    assert(SimilarityQueries.streamCorpora.entries(key)
      .df.storageLevel.description.toLowerCase.contains("memory"),
      "the first epoch must leave the stream corpus resident")
    PersistRegistry.release() // what a harness does between epochs
    // the entry survives the release (it is deliberately untracked);
    // even if an identical foreign plan was uncached, the next
    // epoch's streamCorpus call re-pins it
    SimilarityQueries.streamCorpus(spark, sf)
    assert(SimilarityQueries.streamCorpora.entries(key)
      .df.storageLevel.description.toLowerCase.contains("memory"),
      "the stream corpus must stay resident across epoch boundaries")
    // eviction: a throwaway corpus COPY vanishes -> its entry (and
    // blocks) go with it, the real corpus's entry survives
    val corp = tmp("graft-srvhot-corp-")
    val src = java.nio.file.Paths.get(s"$sf/embeddings.parquet")
    val dst = java.nio.file.Paths.get(s"$corp/embeddings.parquet")
    import scala.jdk.CollectionConverters._
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).iterator().asScala.foreach { p =>
        Files.copy(p, dst.resolve(p.getFileName.toString))
      }
    } else Files.copy(src, dst)
    SimilarityQueries.streamCorpus(spark, corp)
    val copyKey = Resident.key(spark, corp)
    assert(SimilarityQueries.streamCorpora.entries.contains(copyKey))
    Files.walk(Paths.get(corp)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    Resident.sweep(spark) // what the next insert epoch runs first
    val st = SimilarityQueries.streamCorpora.entries
    assert(!st.contains(copyKey),
      s"vanished corpus's entry survived the sweep: $st")
    assert(st.contains(key), "the live corpus's entry must survive")
    PersistRegistry.release()
  }

  test("the state-change sweep evicts a dead index's corpus entry " +
      "and unpersists its blocks") {
    def deleteRec(dir: String): Unit = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }
    val dead = freshIndex()
    LifecycleIndex.search(spark, sf, dead, searchQueries).count()
    val deadKey = Resident.key(spark, dead)
    assert(LifecycleIndex.servingCorpus.entries.contains(deadKey))
    deleteRec(dead)
    // the next MATERIALIZE (a cold search on a live index) sweeps
    val live = freshIndex()
    LifecycleIndex.search(spark, sf, live, searchQueries).count()
    val state = LifecycleIndex.servingCorpus.entries
    assert(!state.contains(deadKey),
      s"dead index's corpus entry survived the sweep: $state")
    assert(state.contains(Resident.key(spark, live)))
    PersistRegistry.release()
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.LifecycleIndex
import graft.warehouse.{CommitBackends, ObjectStoreSimBackend, SnapshotTable}

/** Round-17 items:
  *   - verdict 2: the serving cache's liveness sweep left the
  *     per-search hot path (it runs at the materialize state-change
  *     boundary) — a WARM search issues a CONSTANT number of
  *     control-plane reads, independent of how many indexes the
  *     process ever served;
  *   - vacuum concurrency (needed by the cross-process
  *     serving-vs-vacuum shape, LifecycleCrossProcessSpec): the
  *     fresh-file grace protects a racing commit's just-written data
  *     files from a stale-view sweep, and a sweep whose keep-manifest
  *     vanished mid-read (a NEWER sweep superseded it) aborts quietly
  *     having deleted nothing.
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  private def searchQueries = emb
    .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
    .select("vec_id", "embedding")

  private def freshIndex(): String = {
    val idx = tmp("graft-r17-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  // ---------------------------------------------------------------
  // verdict 2: warm-search control-plane read budget is a constant
  // ---------------------------------------------------------------

  test("a WARM search issues a constant number of control-plane " +
      "reads — independent of how many indexes the process ever " +
      "served (the liveness sweep moved to the materialize boundary)") {
    // measured against the PER-INDEX counter (round-18 verdict 3):
    // the budget a multi-index serving process actually bills per
    // index. The process-global counter is asserted alongside — a
    // warm search must not read ANY other index's control plane
    // either (that is what "sweep off the hot path" means).
    val a = freshIndex()
    def reads(f: => Unit): (Long, Long) = {
      val s = LifecycleIndex.controlPlaneReadsFor(a)
      val g = CommitBackends.controlPlaneReads.get()
      f
      (LifecycleIndex.controlPlaneReadsFor(a) - s,
        CommitBackends.controlPlaneReads.get() - g)
    }
    // cold: materializes the serving state + centroid table
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    val (warm1, warm1g) = reads {
      LifecycleIndex.search(spark, sf, a, searchQueries).count()
    }
    assert(warm1 === warm1g,
      s"a warm search read control planes outside its own index " +
      s"(index: $warm1, process: $warm1g)")
    // grow the cache: two more served indexes (what v28's sweeps
    // leave behind) — round 16 paid up to 4 liveness reads per
    // cached entry per search, so this would have RAISED the warm cost
    Seq(freshIndex(), freshIndex()).foreach { idx =>
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    }
    assert(LifecycleIndex.centroids.entries.size >= 3,
      "the cache must actually hold the three served indexes")
    val (warm2, warm2g) = reads {
      LifecycleIndex.search(spark, sf, a, searchQueries).count()
    }
    assert(warm2 === warm1,
      s"warm-search control-plane reads grew with the cache " +
      s"($warm1 -> $warm2) — liveness probing is back on the hot path")
    assert(warm2g === warm1g,
      s"warm-search PROCESS-WIDE reads grew with the cache " +
      s"($warm1g -> $warm2g) — something probes foreign indexes")
    assert(warm1 <= 24,
      s"warm-search control-plane read budget blew past the pinned " +
      s"constant: $warm1 (each is an HTTP GET on an object store)")
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // stretch 8: the WHOLE index lifecycle on the object-store backend
  // ---------------------------------------------------------------

  test("the full lifecycle-index run — bootstrap, insert epoch, " +
      "delete epoch, fold, serve (with serving vacuum) — works with " +
      "its control plane ENTIRELY on the object-store backend (zero " +
      "_versions/ on local disk), row-identical to a local-FS twin") {
    import graft.streaming.{StreamingGraphDelete, StreamingGraphInsert}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val insBatch = emb.filter(SimilarityQueries.v21BatchFilter)
      .select("vec_id", "embedding", "label")
    val delBatch = emb.filter(SimilarityQueries.v23DeleteFilter)
      .select("vec_id")
    def drive(idx: String): Seq[(Long, Long, Int)] = {
      LifecycleIndex.bootstrap(spark, idx,
        SimilarityQueries.insertFreeBaseGraph(spark, sf))
      StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
      StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L)
      LifecycleIndex.foldTombstones(spark, sf, idx)
      // two searches: the cold one materializes serving/ and VACUUMS
      // it (keepVersions=2) — the vacuum's manifest expiry also runs
      // through the backend; the warm one adopts
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      LifecycleIndex.search(spark, sf, idx, searchQueries)
        .select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSeq.sorted
    }
    val objRoot = tmp("graft-r17-objidx-")
    CommitBackends.register(objRoot, new ObjectStoreSimBackend)
    val objRows =
      try drive(objRoot + "/idx")
      finally CommitBackends.unregister(objRoot)
    import scala.jdk.CollectionConverters._
    val versionsDirsOnDisk = Files.walk(Paths.get(objRoot))
      .iterator().asScala
      .filter(p => p.getFileName != null &&
        p.getFileName.toString == "_versions").toSeq
    assert(versionsDirsOnDisk.isEmpty,
      s"control-plane objects leaked onto the local FS: " +
      s"$versionsDirsOnDisk — the backend abstraction has a hole")
    val fsRows = drive(tmp("graft-r17-fsidx-") + "/idx")
    assert(objRows === fsRows,
      "the object-store-backed index must serve rows identical to " +
      "the local-FS twin")
    assert(objRows.nonEmpty)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // vacuum concurrency: fresh-file grace + stale-view quiet abort
  // ---------------------------------------------------------------

  private def backdate(p: java.nio.file.Path): Unit = {
    Files.setLastModifiedTime(p,
      FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    ()
  }

  test("vacuum's fresh-file grace protects a concurrent commit's " +
      "just-written data files from a stale-view sweep; aged " +
      "unreferenced files still sweep") {
    import spark.implicits._
    val tab = tmp("graft-r17-vac-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab)  // v0
    SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab)  // v1
    // age v0's now-unreferenced files so the grace does not shield
    // them (a real sweep runs long after the versions it expires)
    import scala.jdk.CollectionConverters._
    val dataDir = Paths.get(tab, "data")
    Files.walk(dataDir).iterator().asScala
      .filter(Files.isRegularFile(_)).foreach(backdate)
    // the racing commit's in-flight write: a fresh file referenced by
    // no manifest THIS sweep can see
    val strayDir = Paths.get(tab, "data", "in-flight-commit")
    Files.createDirectories(strayDir)
    val stray = strayDir.resolve("part-00000.parquet")
    Files.write(stray, "fresh".getBytes("UTF-8"))
    val deleted = SnapshotTable.vacuum(tab, keepVersions = 1,
      freshGraceMs = 60000L)
    assert(deleted >= 1, "the aged expired files must sweep")
    assert(Files.exists(stray),
      "a fresh unreferenced file is a RACING COMMIT's write — a " +
      "graced sweep must never delete it")
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // one grace later the file is a crashed commit's garbage: swept
    backdate(stray)
    assert(SnapshotTable.vacuum(tab, keepVersions = 1,
      freshGraceMs = 60000L) === 1)
    assert(!Files.exists(stray))
  }

  // ---------------------------------------------------------------
  // verdict 4: commit-backend selection by registered dir prefix
  // ---------------------------------------------------------------

  test("commit-backend selection is PREFIX-ROUTED: a table under a " +
      "registered prefix opens on the object-store backend (zero " +
      "control files on local disk), one outside it stays local-FS") {
    import spark.implicits._
    val root = tmp("graft-r17-confbe-")
    CommitBackends.register(root, new ObjectStoreSimBackend)
    try {
      val tab = root + "/t"
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("e0"))
      SnapshotTable.append(spark, Seq(2L).toDF("x"), tab, Some("e1"))
      assert(SnapshotTable.read(spark, tab).count() === 2L)
      assert(SnapshotTable.committedMetas(tab) === Seq("e0", "e1"))
      assert(!Files.exists(Paths.get(tab, "_versions")),
        "the registered prefix must route the ENTIRE control plane " +
        "through the object-store backend — no _versions/ on disk")
      // outside the prefix: the local-FS default, untouched
      val other = tmp("graft-r17-confbe-other-") + "/t"
      SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), other)
      assert(Files.exists(Paths.get(other, "_versions", "CURRENT")))
    } finally CommitBackends.unregister(root)
  }

  test("a vacuum whose keep-manifest vanished mid-read (a newer " +
      "sweep with a newer CURRENT view superseded it) aborts quietly " +
      "with nothing deleted on the stale view") {
    import spark.implicits._
    val tab = tmp("graft-r17-vacq-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab)  // v0
    SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab)  // v1
    val files0 = SnapshotTable.dataFiles(tab, 0)
    // the supersession: the newer sweep already dropped v0's manifest
    // (from ITS view v0 was expired); this sweep still holds the old
    // CURRENT=v1... emulate its stale keep set by asking it to keep 2
    Files.delete(Paths.get(s"$tab/_versions/" + f"v${0}%05d.manifest"))
    assert(SnapshotTable.vacuum(tab, keepVersions = 2) === 0,
      "a sweep that lost a keep-manifest to a newer sweep must " +
      "delete nothing")
    assert(files0.forall(f => Files.exists(Paths.get(f))),
      "the aborted sweep must leave every data file of its stale " +
      "view intact — the newer sweep owns the job")
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }
}

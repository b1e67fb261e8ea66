package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LifecycleIndex, StreamingGraphDelete}
import graft.warehouse.{CommitBackends, SnapshotTable}

/** The auto-fold defers only a lost commit race: a fold whose commit
  * another writer beat (SnapshotTable.CommitConflictException) leaves
  * the epoch applied and the fold for the next trigger, while any other
  * IllegalStateException inside the fold — a ghost meta the commit
  * cannot clear — fails the epoch instead of being logged as a
  * concurrent commit. Faults come from FaultBackend. */
class CommitConflictSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  test("an auto-fold that loses its base commit is deferred; a ghost " +
      "meta inside the fold propagates") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-conflict-").toString
    CommitBackends.register(root, new FaultBackend(CommitBackends.localFs))
    val idx = s"$root/idx"
    val ctl = s"${LifecycleIndex.baseTab(idx)}/_versions"
    def wave(id: Long) = Seq(300L + id, 400L + id).toDF("vec_id")
    try {
      // (a) the fold's first base commit reads back no manifest: a
      // reclaiming collider took the version — a conflict, deferred
      FaultBackend.arm("readIfExists", s"$ctl/v00000.manifest",
        vanish = true)
      StreamingGraphDelete.deleteEpoch(spark, wave(0), sf, idx, 0L,
        foldAt = 0)
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0, "injection must engage")
      assert(SnapshotTable.currentVersionOf(LifecycleIndex.baseTab(idx))
        .isEmpty, "the lost fold must publish no base")
      assert(SnapshotTable.read(spark, LifecycleIndex.delTab(idx))
        .count() === 2L, "the epoch itself must have applied")
      // (b) the lost commit left its manifest claim and meta behind;
      // with the claim gone, the next fold finds the meta as a ghost it
      // cannot clear (its read vanishes) — not a conflict, so it fails
      CommitBackends.localFs.delete(s"$ctl/v00000.manifest")
      FaultBackend.arm("readIfExists", s"$ctl/v00000.meta", vanish = true)
      val e = intercept[IllegalStateException] {
        StreamingGraphDelete.deleteEpoch(spark, wave(1), sf, idx, 1L,
          foldAt = 0)
      }
      assert(!e.isInstanceOf[SnapshotTable.CommitConflictException])
      assert(e.getMessage.contains("stale meta object"), e.getMessage)
    } finally {
      FaultBackend.disarm()
      CommitBackends.unregister(root)
    }
  }
}

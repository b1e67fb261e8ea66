package graft.warehouse

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 verdict 1: the commit protocol's races, re-proven against
  * the [[CommitBackend]] abstraction on BOTH shipped backends — the
  * local FS (POSIX CREATE_NEW/ATOMIC_MOVE/mtime) and the
  * object-store-shaped conditional-put backend (no rename, no
  * directories, no FS mtimes — the primitive set S3/GCS/Azure
  * actually expose). Same protocol, two primitive sets, identical
  * guarantees:
  *   - a STALE orphaned claim is reclaimed, a FRESH one fails the
  *     single-writer collision loudly (round-14 advice, now
  *     backend-parameterized);
  *   - a committer STALLED past the grace whose claim was reclaimed
  *     fails its ownership read-back instead of publishing the
  *     reclaimer's files under its own meta (round-15 review item,
  *     previously untestable deterministically — now driven through
  *     the prePublishTestHook seam);
  *   - the full table lifecycle works with ZERO control files on the
  *     local filesystem (object-store backend), proving nothing
  *     outside the five primitives is assumed;
  *   - verdict 3: TWO PROCESSES contending on one table serialize
  *     every commit exactly-once across a real process boundary, and
  *     a child process that dies mid-commit (a genuine crashed
  *     claim, not a simulated file drop) is reclaimed by the
  *     surviving process.
  */
class CommitBackendSpec extends AnyFunSuite {
  import graft.TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def manPath(tab: String, v: Int): String =
    s"$tab/_versions/" + f"v$v%05d.manifest"

  private def metaPath(tab: String, v: Int): String =
    s"$tab/_versions/" + f"v$v%05d.meta"

  /** One backend under test: how to make a table on it and how to age
    * a control object past the orphan grace (FS: mtime; store:
    * store-authoritative creation timestamp, backdated). */
  private trait Fixture {
    def name: String
    def mkTable(): String
    def age(path: String): Unit
  }

  private def localFx: Fixture = new Fixture {
    val name = "local-fs"
    def mkTable(): String = tmp("graft-cb-local-") + "/t"
    def age(path: String): Unit = {
      Files.setLastModifiedTime(Paths.get(path),
        FileTime.fromMillis(System.currentTimeMillis() - 60000L))
      ()
    }
  }

  private def objectStoreFx: Fixture = new Fixture {
    val name = "object-store-sim"
    private val be = new ObjectStoreSimBackend
    def mkTable(): String = {
      val root = tmp("graft-cb-obj-")
      CommitBackends.register(root, be)
      root + "/t"
    }
    def age(path: String): Unit = be.backdate(path, 60000L)
  }

  for (mk <- Seq(() => localFx, () => objectStoreFx)) {
    val fxName = mk().name

    test(s"[$fxName] a STALE orphaned claim past CURRENT is reclaimed " +
        "and the version reused; a FRESH one still fails the " +
        "single-writer collision loudly (append AND pinned paths)") {
      import spark.implicits._
      val fx = mk()
      val tab = fx.mkTable()
      val be = CommitBackends.forDir(tab)
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
      // the crash: v1 claimed (manifest + meta), CURRENT never
      // published — planted through the backend's own conditional put
      assert(be.putIfAbsent(manPath(tab, 1), "phantom".getBytes("UTF-8")))
      assert(be.putIfAbsent(metaPath(tab, 1), "ghost-epoch".getBytes("UTF-8")))
      intercept[IllegalStateException] {
        SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
      }
      assert(be.exists(manPath(tab, 1)),
        "an in-flight-looking claim must never be reclaimed")
      fx.age(manPath(tab, 1))
      SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
      assert(SnapshotTable.currentVersionOf(tab) === Some(1),
        "the reclaimed version number must be reused, not skipped")
      assert(SnapshotTable.read(spark, tab).count() === 2L)
      assert(!SnapshotTable.committedMetas(tab).contains("ghost-epoch"),
        "the crashed commit's meta must not resurface as committed")
      // pinned (CAS) path recovers identically
      assert(be.putIfAbsent(manPath(tab, 2), "phantom2".getBytes("UTF-8")))
      fx.age(manPath(tab, 2))
      SnapshotTable.overwriteFrom(spark, Seq(9L).toDF("x"), tab,
        SnapshotTable.currentVersionOf(tab))
      assert(SnapshotTable.read(spark, tab)
        .collect().map(_.getLong(0)).toSeq === Seq(9L))
    }

    test(s"[$fxName] a committer STALLED past the grace whose claim " +
        "was reclaimed fails its ownership read-back loudly — the " +
        "reclaimer's files are never published under the stalled " +
        "commit's meta") {
      import spark.implicits._
      val fx = mk()
      val tab = fx.mkTable()
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("v0"))
      val reached = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val armed = new AtomicBoolean(true)
      // park ONLY the first commit through the seam (writer A); the
      // reclaiming winner (writer B) passes through un-stalled
      SnapshotTable.prePublishTestHook = Some { (_, _) =>
        if (armed.compareAndSet(true, false)) {
          reached.countDown()
          release.await(60, TimeUnit.SECONDS)
          ()
        }
      }
      try {
        val aErr = new AtomicReference[Throwable](null)
        val a = new Thread(() =>
          try {
            SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab,
              Some("stalled-A"))
            ()
          } catch { case t: Throwable => aErr.set(t) })
        a.start()
        assert(reached.await(60, TimeUnit.SECONDS),
          "writer A never reached its claim")
        // A holds the v1 claim and is stalled; cross the grace, then
        // writer B collides, reclaims, and wins the same version
        fx.age(manPath(tab, 1))
        SnapshotTable.overwrite(spark, Seq(3L).toDF("x"), tab,
          Some("winner-B"))
        release.countDown()
        a.join(60000)
        assert(aErr.get() != null,
          "the stalled committer must fail, not publish")
        assert(aErr.get().isInstanceOf[IllegalStateException] &&
          aErr.get().getMessage.contains("lost its manifest"),
          s"wrong failure shape: ${aErr.get()}")
        assert(SnapshotTable.currentVersionOf(tab) === Some(1))
        assert(SnapshotTable.currentMeta(tab) === Some("winner-B"))
        assert(SnapshotTable.read(spark, tab)
          .collect().map(_.getLong(0)).toSeq === Seq(3L),
          "the published rows must be the winner's")
        assert(!SnapshotTable.committedMetas(tab).contains("stalled-A"),
          "the stalled commit's meta must never enter the ledger")
      } finally SnapshotTable.prePublishTestHook = None
    }

    test(s"[$fxName] a reclaimer STALLED between its staleness " +
        "decision and its deletes cannot destroy a version another " +
        "process reclaimed, re-claimed and PUBLISHED — the " +
        "conditional delete refuses and the stalled commit fails " +
        "loudly with the winner intact") {
      import spark.implicits._
      val fx = mk()
      val tab = fx.mkTable()
      val be = CommitBackends.forDir(tab)
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("v0"))
      // the ghost: a crashed commit's claim at v1, aged past grace
      assert(be.putIfAbsent(manPath(tab, 1), "phantom".getBytes("UTF-8")))
      assert(be.putIfAbsent(metaPath(tab, 1), "epoch-7".getBytes("UTF-8")))
      fx.age(manPath(tab, 1))
      val reached = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val armed = new AtomicBoolean(true)
      SnapshotTable.preReclaimTestHook = Some { (_, _) =>
        if (armed.compareAndSet(true, false)) {
          reached.countDown()
          release.await(60, TimeUnit.SECONDS)
          ()
        }
      }
      try {
        val rErr = new AtomicReference[Throwable](null)
        // R2 collides at v1, decides the ghost is stale, and stalls
        // at the narrowest point: AFTER its revalidation, BEFORE its
        // deletes
        val r2 = new Thread(() =>
          try {
            SnapshotTable.append(spark, Seq(2L).toDF("x"), tab,
              Some("stalled-R2"))
            ()
          } catch { case t: Throwable => rErr.set(t) })
        r2.start()
        assert(reached.await(60, TimeUnit.SECONDS),
          "R2 never reached its reclaim decision")
        // R1 (hook disarmed): reclaims the same ghost, re-claims v1
        // with its own files, and PUBLISHES — all while R2 is stalled
        SnapshotTable.append(spark, Seq(3L).toDF("x"), tab,
          Some("winner-R1"))
        assert(SnapshotTable.currentVersionOf(tab) === Some(1))
        release.countDown()
        r2.join(60000)
        // R2's conditional delete must refuse (the committed manifest
        // is not the phantom it decided on) and its commit fail loudly
        assert(rErr.get() != null &&
          rErr.get().isInstanceOf[IllegalStateException],
          s"the stalled reclaimer must fail loudly, got: ${rErr.get()}")
        // the WINNER is untouched: rows, pointer, and ledger intact
        assert(SnapshotTable.currentMeta(tab) === Some("winner-R1"))
        assert(SnapshotTable.read(spark, tab)
          .collect().map(_.getLong(0)).toSeq.sorted === Seq(1L, 3L))
        assert(SnapshotTable.committedMetas(tab) ===
          Seq("v0", "winner-R1"),
          "the committed ledger must survive the stalled reclaimer")
      } finally SnapshotTable.preReclaimTestHook = None
    }
  }

  test("deleteIfMatches is content-conditional on both backends: " +
      "wrong content refuses, matching content deletes exactly once") {
    val objBe = new ObjectStoreSimBackend
    val dir = tmp("graft-difm-")
    for ((be, path) <- Seq(
        (CommitBackends.localFs: CommitBackend, s"$dir/f"),
        (objBe: CommitBackend, "mem/f"))) {
      assert(be.putIfAbsent(path, "aaa".getBytes("UTF-8")))
      assert(!be.deleteIfMatches(path, "bbb".getBytes("UTF-8")),
        "mismatched content must refuse")
      assert(be.exists(path))
      assert(be.deleteIfMatches(path, "aaa".getBytes("UTF-8")))
      assert(!be.exists(path))
      assert(!be.deleteIfMatches(path, "aaa".getBytes("UTF-8")),
        "a second delete must report false")
    }
  }

  test("the FULL table lifecycle runs on the object-store backend " +
      "with ZERO control files on the local filesystem — nothing " +
      "outside the five primitives is assumed") {
    import spark.implicits._
    val root = tmp("graft-obj-life-")
    val be = new ObjectStoreSimBackend
    CommitBackends.register(root, be)
    try {
      val tab = s"$root/t"
      SnapshotTable.overwrite(spark, Seq(1L, 2L).toDF("x"), tab, Some("a"))
      SnapshotTable.append(spark, Seq(3L).toDF("x"), tab, Some("b"))
      assert(SnapshotTable.read(spark, tab).count() === 3L)
      assert(SnapshotTable.read(spark, tab, 0).count() === 2L,
        "time travel must work through the backend")
      assert(SnapshotTable.serveResolve(tab, "a").matched === Some(0))
      assert(SnapshotTable.currentMeta(tab) === Some("b"))
      assert(SnapshotTable.committedMetas(tab) === Seq("a", "b"))
      val upd = SnapshotTable.upsert(spark, Seq(3L).toDF("x"), tab,
        Seq("x"), Some("c"))
      assert(upd === 2)
      assert(SnapshotTable.read(spark, tab).count() === 3L)
      SnapshotTable.vacuum(tab, keepVersions = 1)
      assert(SnapshotTable.serveResolve(tab, "a").matched === None,
        "a vacuumed version must resolve as a miss")
      assert(SnapshotTable.committedMetas(tab) === Seq("a", "b", "c"),
        "the meta ledger must survive vacuum")
      // the control plane never touched the local FS
      assert(!Files.exists(Paths.get(tab, "_versions")),
        "object-store tables must write no _versions/ directory")
      assert(be.keys.exists(_.endsWith("CURRENT")),
        "control objects must live in the store")
      // the data plane is plain immutable parquet on the data store
      assert(Files.exists(Paths.get(tab, "data")))
    } finally CommitBackends.unregister(root)
  }

  test("releaseDir drops the per-dir read counters of a dropped " +
      "table tree and only that tree's (a long-lived process opening " +
      "many temp tables must not keep one counter per dir forever)") {
    import spark.implicits._
    val root = tmp("graft-release-dir-")
    for (t <- Seq("t1", "t2"); x <- 1L to 2L) {
      SnapshotTable.overwrite(spark, Seq(x).toDF("x"), s"$root/$t")
    }
    Seq("t1", "t2").foreach { t =>
      assert(SnapshotTable.read(spark, s"$root/$t").count() === 1L)
      SnapshotTable.vacuum(s"$root/$t")
      assert(SnapshotTable.cachedTrimFloor(s"$root/$t").nonEmpty,
        s"a completed sweep must cache $t's floor")
    }
    assert(CommitBackends.controlPlaneReadsFor(s"$root/t1") > 0)
    val t2Reads = CommitBackends.controlPlaneReadsFor(s"$root/t2")
    assert(t2Reads > 0)
    CommitBackends.releaseDir(s"$root/t1")
    assert(CommitBackends.controlPlaneReadsFor(s"$root/t1") === 0L,
      "releaseDir must drop the dropped tree's counters")
    assert(SnapshotTable.cachedTrimFloor(s"$root/t1").isEmpty,
      "releaseDir must drop the dropped tree's trim floor")
    assert(CommitBackends.controlPlaneReadsFor(s"$root/t2") === t2Reads,
      "releaseDir must leave a sibling tree's counters alone")
    assert(SnapshotTable.cachedTrimFloor(s"$root/t2").nonEmpty,
      "releaseDir must leave a sibling tree's trim floor alone")
    CommitBackends.releaseDir(root)
    assert(CommitBackends.controlPlaneReadsFor(root) === 0L)
    assert(SnapshotTable.cachedTrimFloor(s"$root/t2").isEmpty)
  }

  // ---------------------------------------------------------------
  // verdict 3: cross-process evidence
  // ---------------------------------------------------------------

  private def javaBin: String =
    System.getProperty("java.home") + "/bin/java"

  test("TWO PROCESSES contending on one table serialize every commit " +
      "exactly-once: 25 commits per process, all 50 land at distinct " +
      "versions with a complete meta ledger and no corruption") {
    val tab = tmp("graft-xproc-") + "/t"
    SnapshotTable.commit(tab, Seq("data/seed"), Some("seed"),
      retryOnCollision = true) // v0
    val n = 25
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.warehouse.CommitContender", "contend", tab, "B",
      n.toString, "2")
    pb.redirectErrorStream(true)
    val child = pb.start()
    // wait for the child's first commit so the two processes GENUINELY
    // overlap (a child JVM takes ~1 s to start; racing a finished
    // writer would prove nothing), then contend at the same pace
    val t0 = System.currentTimeMillis()
    while (!SnapshotTable.committedMetas(tab).contains("wB:0") &&
        System.currentTimeMillis() - t0 < 60000) Thread.sleep(10)
    assert(SnapshotTable.committedMetas(tab).contains("wB:0"),
      "child process never committed")
    for (i <- 0 until n) {
      SnapshotTable.commit(tab,
        Seq(s"data/A-$i-${java.util.UUID.randomUUID()}"),
        Some(s"wA:$i"), retryOnCollision = true)
      Thread.sleep(2)
    }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(120, TimeUnit.SECONDS), s"child timed out: $out")
    assert(child.exitValue() === 0, s"child process failed:\n$out")
    // claims serialize across the process boundary: versions are
    // contiguous, CURRENT saw every commit, and the ledger holds each
    // writer's every commit exactly once
    assert(SnapshotTable.currentVersionOf(tab) === Some(2 * n),
      "seed + 2x25 commits must land at exactly versions 0..50")
    val metas = SnapshotTable.committedMetas(tab)
    val expected = (0 until n).map(i => s"wA:$i") ++
      (0 until n).map(i => s"wB:$i")
    assert(metas.size === 2 * n + 1)
    assert(expected.forall(metas.contains),
      s"lost commits: ${expected.filterNot(metas.contains)}")
    assert(metas.distinct.size === metas.size,
      "a meta committed twice — a version was double-published")
  }

  test("a child process that DIES mid-commit (claim published, " +
      "CURRENT not) is reclaimed by the surviving process after the " +
      "grace — cross-process crash recovery, not a simulated drop") {
    import spark.implicits._
    val tab = tmp("graft-xproc-orphan-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"),
      "graft.warehouse.CommitContender", "orphan", tab)
    pb.redirectErrorStream(true)
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(60, TimeUnit.SECONDS) && child.exitValue() === 0,
      s"orphan-planting child failed:\n$out")
    assert(Files.exists(Paths.get(manPath(tab, 1))),
      "the dead process's claim must be on disk")
    // fresh orphan from a real process death: still a loud collision
    intercept[IllegalStateException] {
      SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
    }
    // past the grace: the survivor reclaims and the table lives on
    Files.setLastModifiedTime(Paths.get(manPath(tab, 1)),
      FileTime.fromMillis(System.currentTimeMillis() - 60000L))
    SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
    assert(SnapshotTable.currentVersionOf(tab) === Some(1))
    assert(SnapshotTable.read(spark, tab).count() === 2L)
  }
}

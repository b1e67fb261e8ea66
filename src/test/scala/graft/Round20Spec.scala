package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.{CommitBackends, SnapshotTable}

/** Round-20 items:
  *   - verdict 2: the serving corpus cache is bounded in BYTES
  *     (`spark.graft.serving.corpusCacheMaxMb`), not just entries —
  *     eviction must ENGAGE at a configured MB bound, least-recently-
  *     searched first, with the evicted index's next search paying
  *     one re-fill and returning identical rows;
  *   - verdict 3: the remaining two serve-mode read budgets (cold,
  *     post-fold full) are pinned absolutely in CI, alongside
  *     Round19Spec's delta ≤ full and warm ≤ 8 pins;
  *   - verdict 4: the FaultFs-style injection matrix extends to the
  *     CONTROL-plane call sites of the serving verbs — serveResolve,
  *     appendFromKnown (via the commit protocol under it) and
  *     vacuumPinned — via [[FaultBackend]], asserting
  *     recapture/clean-miss or loud-unpublished at each site
  *     (vacuumPinned's DATA-plane sites are vacuum's, already swept
  *     by Round19Spec's FaultFs matrix);
  *   - advice 1: MaterializedAgg's exactly-once check is BOUNDED — a
  *     normal new batch issues ZERO per-version meta reads (the old
  *     committedMetas scan read one meta per version 0..CURRENT on
  *     every batch), while the meta-less-compact skip stays correct;
  *   - advice 2: manifest-trim crash holes self-heal — every 16th
  *     version's sweep walks unbounded, so stubs stranded behind a
  *     hole wider than the 3-miss tolerance are eventually trimmed;
  *   - advice 3: serveResolve early stops are counted per index
  *     (`resolveEarlyStopsFor`) so the SCALE_STREAM stamps would
  *     surface the cross-process interleaving verTagOlder accepts.
  */
class Round20Spec extends AnyFunSuite {
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
    val idx = tmp("graft-r20-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  private def insBatch(ep: Int) = emb
    .filter(SimilarityQueries.v21BatchFilter &&
      pmod(col("vec_id"), lit(2)) === ep % 2)
    .select("vec_id", "embedding", "label")

  // ---------------------------------------------------------------
  // verdict 3: absolute read-budget pins for cold and post-fold full
  // ---------------------------------------------------------------

  test("serving read budgets, absolute: a COLD serve resolves in " +
      "<= 12 control-plane reads and a POST-FOLD full rewrite in " +
      "<= 17 — the ReadTraceProbe numbers pinned so a re-read " +
      "creeping into either mode trips CI, not a SCALE_STREAM diff") {
    val idx = freshIndex()
    def served(expectMode: String): (Long, Seq[String]) = {
      val paths = scala.collection.mutable.Buffer.empty[String]
      CommitBackends.readProbe =
        p => paths.synchronized { paths += p; () }
      val s = LifecycleIndex.controlPlaneReadsFor(idx)
      try LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      finally CommitBackends.readProbe = null
      assert(LifecycleIndex.lastServeModeFor(idx) === expectMode)
      (LifecycleIndex.controlPlaneReadsFor(idx) - s,
        paths.toSeq.map(_.stripPrefix(idx)))
    }
    val (cold, coldPaths) = served("full")
    assert(cold <= 12, s"cold serve read budget regressed: $cold " +
      s"reads (r19 measured 12) —\n  ${coldPaths.mkString("\n  ")}")
    // fold moves the base: the next serve is the full-rewrite mode
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(SimilarityQueries.v23DeleteFilter).select("vec_id"),
      sf, idx, 0L)
    LifecycleIndex.foldTombstones(spark, sf, idx)
    val (postFold, pfPaths) = served("full")
    assert(postFold <= 17, s"post-fold full-serve read budget " +
      s"regressed: $postFold reads (r19 measured 17) —\n  " +
      pfPaths.mkString("\n  "))
    Resident.release(idx)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // verdict 2: corpus cache byte budget
  // ---------------------------------------------------------------

  test("corpus cache BYTE budget: with corpusCacheMaxMb configured " +
      "below the resident set, serving a second index evicts the " +
      "least-recently-searched entry; the evicted index's next " +
      "search re-fills and returns identical rows") {
    // under the walk caps the corpus entry is the driver-held walk
    // graph; the byte bound counts its driver bytes
    val appId = spark.sparkContext.applicationId
    val a = freshIndex()
    val before = searchRows(
      LifecycleIndex.search(spark, sf, a, searchQueries))
    assert(LifecycleIndex.servingWalks.entries.contains(
      Resident.key(spark, a)),
      "index A's serving corpus must be cached after its search")
    val aResident = LifecycleIndex.corpusCacheResidentBytes
      .getOrElse(s"$appId|$a", 0L)
    assert(aResident > 0L,
      "A's entry must have materialized resident bytes to size from")
    val b = freshIndex()
    val ev0 = Resident.byteEvictions.get()
    // bound well below A's resident bytes: serving B must evict A
    spark.conf.set("spark.graft.serving.corpusCacheMaxMb",
      (aResident / 1e6 / 2).toString)
    try {
      LifecycleIndex.search(spark, sf, b, searchQueries).count()
      assert(Resident.byteEvictions.get() > ev0,
        "the byte bound must have engaged (eviction counter)")
      assert(!LifecycleIndex.servingWalks.entries.contains(
        Resident.key(spark, a)),
        "A's entry (least recently searched) must be evicted")
      assert(LifecycleIndex.servingWalks.entries.contains(
        Resident.key(spark, b)),
        "a search's OWN entry is never a byte victim")
      // correctness unaffected: A re-fills on its next search
      assert(searchRows(LifecycleIndex.search(
        spark, sf, a, searchQueries)) === before)
    } finally {
      spark.conf.set("spark.graft.serving.corpusCacheMaxMb", "4096")
      Resident.release(a)
      Resident.release(b)
      PersistRegistry.release()
    }
  }

  // ---------------------------------------------------------------
  // round-20 review: the STREAM corpus cache gets the missing bound
  // ---------------------------------------------------------------

  test("the stream corpus cache is BOUNDED too (it had eviction and " +
      "re-pin but no bound — the repo's three-part rule for " +
      "long-lived persists): the byte budget evicts the LRU " +
      "materialized entry, the entry cap evicts beyond the count, " +
      "and the caller's own entry always survives") {
    // a second corpus dir: the same embeddings fixture under a new
    // path (distinct cache key, identical content)
    val d2 = tmp("graft-r20-streamcorp-")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$d2/embeddings.parquet"))
    try {
      SimilarityQueries.streamCorpus(spark, sf).count() // materialize
      val kA = Resident.key(spark, sf)
      val kB = Resident.key(spark, d2)
      def held = SimilarityQueries.streamCorpora.entries
      assert(held.contains(kA))
      val ev0 = Resident.byteEvictions.get()
      // byte budget: far below A's resident bytes → serving B's
      // stream must evict A, never B itself
      spark.conf.set("spark.graft.serving.corpusCacheMaxMb", "0.0001")
      SimilarityQueries.streamCorpus(spark, d2).count()
      assert(Resident.byteEvictions.get() > ev0,
        "the byte bound must engage")
      assert(!held.contains(kA),
        "A (LRU, materialized) must be the victim")
      assert(held.contains(kB),
        "the caller's own entry is never a byte victim")
      // entry cap: cap 1 → a third fetch (A again) evicts B
      spark.conf.set("spark.graft.serving.corpusCacheMaxMb", "4096")
      spark.conf.set("spark.graft.serving.corpusCacheMax", "1")
      SimilarityQueries.streamCorpus(spark, sf).count()
      assert(!held.contains(kB),
        "the entry cap must evict beyond the count")
      assert(held.contains(kA))
    } finally {
      spark.conf.unset("spark.graft.serving.corpusCacheMax")
      spark.conf.set("spark.graft.serving.corpusCacheMaxMb", "4096")
      SimilarityQueries.streamCorpora.remove(Resident.key(spark, sf))
      SimilarityQueries.streamCorpora.remove(Resident.key(spark, d2))
      PersistRegistry.release()
    }
  }

  // ---------------------------------------------------------------
  // advice 3: early-stop observability
  // ---------------------------------------------------------------

  test("serveResolve early stops are counted per index: one per " +
      "state-change miss, none on a warm adopt") {
    val idx = freshIndex()
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    // cold serve: serving table empty — no CURRENT meta, no early stop
    assert(LifecycleIndex.resolveEarlyStopsFor(idx) === 0L)
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, idx, 0L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    // state-change miss: CURRENT's meta is strictly older → ONE stop
    assert(LifecycleIndex.resolveEarlyStopsFor(idx) === 1L)
    LifecycleIndex.search(spark, sf, idx, searchQueries).count()
    assert(LifecycleIndex.resolveEarlyStopsFor(idx) === 1L,
      "a warm adopt must not early-stop")
    Resident.release(idx)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // verdict 4: control-plane fault matrix — serveResolve
  // ---------------------------------------------------------------

  private def faultTable(prefix: String): String = {
    val root = tmp(prefix)
    CommitBackends.register(root, new FaultBackend(CommitBackends.localFs))
    root + "/t"
  }

  private def releaseFaultTable(dir: String): Unit = {
    FaultBackend.disarm()
    CommitBackends.unregister(
      dir.stripSuffix("/t"))
  }

  test("serveResolve under injected control-plane faults: a " +
      "vanished CURRENT is a clean empty resolve, a vanished " +
      "matched manifest is a miss (the caller's rematerialize " +
      "path), a vanished below-CURRENT manifest stops the scan as " +
      "a vacuumed boundary, and a transient store error fails " +
      "LOUDLY — never a torn resolve") {
    import spark.implicits._
    val dir = faultTable("graft-r20-fb-resolve-")
    try {
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), dir,
        Some("0_0_0_0|sym1"))
      SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), dir,
        Some("1_0_0_0|sym1"))
      // (a) CURRENT vanishes: empty resolve, no exception
      FaultBackend.arm("readIfExists", "CURRENT", vanish = true)
      val r1 = SnapshotTable.serveResolve(dir, "1_0_0_0|sym1")
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0, "injection must engage")
      assert(r1.cur.isEmpty && r1.matched.isEmpty)
      // (b) CURRENT read throws: loud, never a guessed resolve
      FaultBackend.arm("readIfExists", "CURRENT")
      intercept[java.io.IOException] {
        SnapshotTable.serveResolve(dir, "1_0_0_0|sym1")
      }
      FaultBackend.disarm()
      // (c) the MATCHED version's manifest vanishes (concurrent
      // drop): a miss — the serving caller rematerializes — not a
      // match with no files
      FaultBackend.arm("readIfExists", "v00001.manifest", vanish = true)
      val r3 = SnapshotTable.serveResolve(dir, "1_0_0_0|sym1")
      FaultBackend.disarm()
      assert(r3.cur.contains(1) && r3.matched.isEmpty,
        "a vanished matched manifest must resolve as a miss")
      // (d) a BELOW-CURRENT manifest vanishes mid-scan: the vacuumed
      // suffix boundary — scan stops, miss, no exception
      FaultBackend.arm("readIfExists", "v00000.manifest", vanish = true)
      val r4 = SnapshotTable.serveResolve(dir, "0_0_0_0|sym1")
      FaultBackend.disarm()
      assert(r4.matched.isEmpty)
      // (e) a below-CURRENT meta read throws: loud
      FaultBackend.arm("readIfExists", "v00000.meta")
      intercept[java.io.IOException] {
        SnapshotTable.serveResolve(dir, "0_0_0_0|sym1")
      }
      FaultBackend.disarm()
      // disarmed: both targets resolve exactly
      assert(SnapshotTable.serveResolve(dir, "1_0_0_0|sym1")
        .matched.contains(1))
      assert(SnapshotTable.serveResolve(dir, "0_0_0_0|sym1")
        .matched.contains(0))
    } finally releaseFaultTable(dir)
  }

  // ---------------------------------------------------------------
  // verdict 4: control-plane fault matrix — appendFromKnown
  // ---------------------------------------------------------------

  test("appendFromKnown under injected faults at every commit call " +
      "site — claim, meta persist, ownership read-back, pointer " +
      "publish — fails LOUDLY with nothing published and the prior " +
      "version intact; the documented fallback (re-derive + " +
      "overwrite) recovers after orphan aging") {
    import spark.implicits._
    def fresh(): (String, Seq[String]) = {
      val dir = faultTable("graft-r20-fb-append-")
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), dir, Some("m0"))
      (dir, SnapshotTable.dataFiles(dir))
    }
    def assertUnpublished(dir: String): Unit = {
      assert(SnapshotTable.currentVersionOf(dir).contains(0),
        "nothing may be published over an injected commit fault")
      assert(SnapshotTable.read(spark, dir)
        .collect().map(_.getLong(0)).toSeq === Seq(1L))
    }
    // age a crashed claim's orphan past the reclaim grace so the
    // disarmed recovery can proceed without waiting 30 s (the spec's
    // clock lever: local-FS ageMs is mtime)
    def ageOrphans(dir: String): Unit =
      Seq("v00001.manifest", "v00001.meta").foreach { n =>
        val p = Paths.get(s"$dir/_versions/$n")
        if (Files.exists(p))
          Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - 120000L))
      }
    def recoverAndCheck(dir: String): Unit = {
      ageOrphans(dir)
      SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), dir, Some("m9"))
      assert(SnapshotTable.read(spark, dir)
        .collect().map(_.getLong(0)).toSeq === Seq(9L))
      releaseFaultTable(dir)
    }

    // (a) the version CLAIM faults: loud, nothing claimed
    locally {
      val (dir, prev) = fresh()
      FaultBackend.arm("putIfAbsent", "v00001.manifest")
      intercept[java.io.IOException] {
        SnapshotTable.appendFromKnown(spark, Seq(2L).toDF("x"), dir,
          0, prev, Some("m1"))
      }
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0)
      assertUnpublished(dir)
      recoverAndCheck(dir)
    }
    // (b) the META persist faults: loud, claim withdrawn or orphaned
    // unpublished either way
    locally {
      val (dir, prev) = fresh()
      FaultBackend.arm("putIfAbsent", "v00001.meta")
      intercept[java.io.IOException] {
        SnapshotTable.appendFromKnown(spark, Seq(2L).toDF("x"), dir,
          0, prev, Some("m1"))
      }
      FaultBackend.disarm()
      assertUnpublished(dir)
      recoverAndCheck(dir)
    }
    // (c) the ownership READ-BACK sees the manifest vanished (a
    // reclaiming collider's signature): loud IllegalStateException,
    // nothing published
    locally {
      val (dir, prev) = fresh()
      FaultBackend.arm("readIfExists", "v00001.manifest", vanish = true)
      val e = intercept[IllegalStateException] {
        SnapshotTable.appendFromKnown(spark, Seq(2L).toDF("x"), dir,
          0, prev, Some("m1"))
      }
      FaultBackend.disarm()
      assert(e.getMessage.contains("lost its manifest"))
      assertUnpublished(dir)
      recoverAndCheck(dir)
    }
    // (d) the CURRENT pointer publish faults: loud, pointer unmoved
    // (the claimed manifest+meta are a reclaimable orphan, not a
    // published version)
    locally {
      val (dir, prev) = fresh()
      FaultBackend.arm("put", "CURRENT")
      intercept[java.io.IOException] {
        SnapshotTable.appendFromKnown(spark, Seq(2L).toDF("x"), dir,
          0, prev, Some("m1"))
      }
      FaultBackend.disarm()
      assertUnpublished(dir)
      recoverAndCheck(dir)
    }
  }

  // ---------------------------------------------------------------
  // verdict 4: control-plane fault matrix — vacuumPinned
  // ---------------------------------------------------------------

  test("vacuumPinned under injected control-plane faults: a " +
      "transient live-set manifest read defers the whole sweep " +
      "(nothing deleted, caller unaffected), and a transient trim " +
      "delete defers the remaining stubs — the disarmed re-sweep " +
      "finishes both jobs") {
    import spark.implicits._
    val dir = faultTable("graft-r20-fb-vac-")
    try {
      (0 to 4).foreach { i =>
        SnapshotTable.overwrite(spark, Seq(i.toLong).toDF("x"), dir)
      }
      val allFiles = (0 to 4).flatMap(v =>
        SnapshotTable.dataFiles(dir, v))
      val keepKnown = Map(4 -> SnapshotTable.dataFiles(dir, 4))
      // (a) live-set read fault (keep window v3..v4; v3 must be
      // READ): the sweep defers — zero deletes, no exception out of
      // the caller's path
      FaultBackend.arm("readIfExists", "v00003.manifest")
      assert(SnapshotTable.vacuumPinned(dir, 4, 2, keepKnown) === 0)
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0)
      assert(allFiles.forall(f => Files.exists(Paths.get(f))),
        "a deferred sweep deletes NOTHING")
      // (b) trim delete fault: the data sweep still runs (v0..v2
      // files reclaimed), the manifest trim defers quietly
      FaultBackend.arm("delete", ".manifest")
      val n = SnapshotTable.vacuumPinned(dir, 4, 2, keepKnown)
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0)
      assert(n > 0, "the data sweep must proceed past a trim fault")
      assert(Files.exists(
        Paths.get(s"$dir/_versions/v00002.manifest")),
        "the faulted trim defers the stubs")
      // kept versions stay readable throughout
      assert(SnapshotTable.read(spark, dir)
        .collect().map(_.getLong(0)).toSeq === Seq(4L))
      // disarmed re-sweep trims the deferred stubs
      SnapshotTable.vacuumPinned(dir, 4, 2, keepKnown)
      assert(!Files.exists(
        Paths.get(s"$dir/_versions/v00002.manifest")))
    } finally releaseFaultTable(dir)
  }

  // ---------------------------------------------------------------
  // advice 2: manifest-trim crash holes self-heal
  // ---------------------------------------------------------------

  test("a crashed trim sweep's stranded stubs heal STRUCTURALLY via " +
      "the durable TRIMFLOOR (round-20 review, third design: a " +
      "crashed sweep strands stubs just BELOW its deleted run — " +
      "anywhere in the range, not at v0 — and no probing heuristic " +
      "can tell a crash hole from a cleared range; the floor can)") {
    import spark.implicits._
    val dir = tmp("graft-r20-trim-") + "/t"
    // commits carry ledger metas so the test can prove the trim
    // sweeps MANIFEST stubs only, never the exactly-once ledger
    def commit(i: Int): Unit =
      SnapshotTable.overwrite(spark, Seq(i.toLong).toDF("x"), dir,
        Some(s"batch=$i"))
    (0 to 10).foreach(commit)
    // a COMPLETED sweep establishes the durable floor at its edge
    SnapshotTable.vacuum(dir, keepVersions = 1)
    assert(java.nio.file.Files.readString(
      Paths.get(s"$dir/_versions/TRIMFLOOR")).trim === "10",
      "a completed sweep must record its edge as the floor")
    // the table advances; a later sweep CRASHES mid-walk having
    // deleted v19..v14 — stranding stubs v10..v13 below a 6-wide
    // hole (wider than the 3-miss tolerance), with the floor still
    // naming 10 (it is written only after a COMPLETED walk)
    (11 to 20).foreach(commit)
    (14 to 19).foreach { v =>
      Files.delete(Paths.get(f"$dir/_versions/v$v%05d.manifest"))
    }
    SnapshotTable.forgetTrimFloors() // the crashed process is gone
    // recovery is an ORDINARY sweep in a fresh process: the bounded
    // walk stops at the hole (3 misses at v19..v17), the durable
    // floor proves everything down to 10 should be clean, and the
    // floor re-walk clears the stranded stubs
    commit(21)
    SnapshotTable.vacuum(dir, keepVersions = 1)
    (10 to 13).foreach { v =>
      assert(!Files.exists(
        Paths.get(f"$dir/_versions/v$v%05d.manifest")),
        s"stub v$v must heal via the TRIMFLOOR re-walk")
    }
    assert(java.nio.file.Files.readString(
      Paths.get(s"$dir/_versions/TRIMFLOOR")).trim === "21",
      "the completed recovery sweep advances the floor to its edge")
    // the exactly-once ledger survives every sweep shape: all 22
    // epoch metas intact, including those whose manifests the floor
    // walk just trimmed
    assert(SnapshotTable.committedMetas(dir) ===
      (0 to 21).map(i => s"batch=$i"),
      "the trim must sweep manifest stubs only, never the ledger")
    assert(SnapshotTable.read(spark, dir)
      .collect().map(_.getLong(0)).toSeq === Seq(21L))
  }

  // ---------------------------------------------------------------
  // advice 1: MaterializedAgg bounded exactly-once check
  // ---------------------------------------------------------------

  test("MaterializedAgg's exactly-once check is BOUNDED: a normal " +
      "new batch reads ZERO per-version metas (the pointer meta " +
      "decides), a retried epoch still skips, and the meta-less-" +
      "compact fallback stops at the first ledger line instead of " +
      "scanning 0..CURRENT") {
    import spark.implicits._
    val dir = tmp("graft-r20-magg-") + "/st"
    def batch(id: Long) = Seq(("k", 1.0 + id)).toDF("k", "v")
    (0L to 7L).foreach { i =>
      graft.warehouse.MaterializedAgg.refresh(spark, dir, batch(i),
        Seq("k"), "v", batchId = i)
    }
    // normal new batch: count .meta GETs during the refresh — the
    // pointer meta is `batch=7`, a ledger line, so the dedup check
    // must read NO per-version metas (the old scan read one per
    // version, every batch, forever)
    val metaReads = scala.collection.mutable.Buffer.empty[String]
    CommitBackends.readProbe = p =>
      metaReads.synchronized { if (p.endsWith(".meta")) metaReads += p; () }
    try graft.warehouse.MaterializedAgg.refresh(spark, dir, batch(8),
      Seq("k"), "v", batchId = 8L)
    finally CommitBackends.readProbe = null
    assert(metaReads.isEmpty,
      s"a normal batch must read zero per-version metas, read: " +
      metaReads.mkString(", "))
    // retried epoch: pointer fast path, skipped, state unchanged
    val v0 = SnapshotTable.versions(dir).last
    graft.warehouse.MaterializedAgg.refresh(spark, dir, batch(8),
      Seq("k"), "v", batchId = 8L)
    assert(SnapshotTable.versions(dir).last === v0, "retried epoch skips")
    // meta-less compact moves the pointer meta off the ledger; the
    // retried epoch must STILL skip, via the downward scan stopping
    // at the first `batch=` line — count the metas it reads
    SnapshotTable.compact(spark, dir)
    val scanReads = scala.collection.mutable.Buffer.empty[String]
    CommitBackends.readProbe = p =>
      scanReads.synchronized { if (p.endsWith(".meta")) scanReads += p; () }
    val v1 = SnapshotTable.versions(dir).last
    try graft.warehouse.MaterializedAgg.refresh(spark, dir, batch(8),
      Seq("k"), "v", batchId = 8L)
    finally CommitBackends.readProbe = null
    assert(SnapshotTable.versions(dir).last === v1,
      "a retried epoch behind a meta-less compact must still skip")
    assert(scanReads.size <= 2,
      s"the fallback scan must stop at the first ledger line, " +
      s"read ${scanReads.size} metas: ${scanReads.mkString(", ")}")
    // the state is the exact sum of batches 0..8, applied once each
    val state = graft.warehouse.MaterializedAgg.read(spark, dir)
      .select("sum_value", "n").collect().head
    assert(state.getDouble(0) === (0L to 8L).map(1.0 + _).sum)
    assert(state.getLong(1) === 9L)
  }

  // ---------------------------------------------------------------
  // advice 1, extended: the graph streams' epoch dedup is bounded too
  // ---------------------------------------------------------------

  test("graph-stream epoch dedup is BOUNDED like MaterializedAgg's: " +
      "a re-delivered delete epoch skips with ZERO per-version meta " +
      "reads (the pointer's inline ledger line decides), and still " +
      "skips behind a meta-less compact at <= 2 meta reads") {
    import spark.implicits._
    val idx = tmp("graft-r20-sgd-")
    def wave(id: Long) = Seq(100L + id, 200L + id).toDF("vec_id")
    (0L to 5L).foreach(i => StreamingGraphDelete.deleteEpoch(
      spark, wave(i), sf, idx, i, foldAt = Long.MaxValue))
    val delTab = LifecycleIndex.delTab(idx)
    val before = SnapshotTable.read(spark, delTab).count()
    assert(before === 12L, "six 2-row epochs applied once each")
    // steady state: CURRENT's line IS `del:batch=5` — re-delivering
    // epoch 3 must skip on that one control read, no .meta GETs (the
    // pre-sweep check read one meta per version, every epoch, forever)
    val metaReads = scala.collection.mutable.Buffer.empty[String]
    CommitBackends.readProbe = p =>
      metaReads.synchronized { if (p.endsWith(".meta")) metaReads += p; () }
    try StreamingGraphDelete.deleteEpoch(spark, wave(3), sf, idx, 3L,
      foldAt = Long.MaxValue)
    finally CommitBackends.readProbe = null
    assert(metaReads.isEmpty,
      s"a re-delivered epoch must skip on the pointer's inline " +
      s"ledger line alone, read: ${metaReads.mkString(", ")}")
    assert(SnapshotTable.read(spark, delTab).count() === before)
    // a meta-less compact moves the pointer meta off the ledger: the
    // skip must hold via the downward walk stopping at the first
    // `del:batch=` line — the compact's own absent meta plus one
    assert(SnapshotTable.currentMeta(delTab).contains("del:batch=5"))
    SnapshotTable.compact(spark, delTab)
    assert(SnapshotTable.currentMeta(delTab).isEmpty)
    val scanReads = scala.collection.mutable.Buffer.empty[String]
    CommitBackends.readProbe = p =>
      scanReads.synchronized { if (p.endsWith(".meta")) scanReads += p; () }
    try StreamingGraphDelete.deleteEpoch(spark, wave(5), sf, idx, 5L,
      foldAt = Long.MaxValue)
    finally CommitBackends.readProbe = null
    assert(SnapshotTable.read(spark, delTab).count() === before,
      "a re-delivered epoch behind a meta-less compact must still skip")
    assert(scanReads.size <= 2,
      s"the walk must stop at the first ledger line below the " +
      s"compact, read ${scanReads.size} metas: ${scanReads.mkString(", ")}")
  }

  test("the bounded ledger walk joins the control-plane fault sweep " +
      "(round-20 rule: a NEW control-plane call site is swept in its " +
      "round): a transient CURRENT or meta read during an epoch's " +
      "dedup check is LOUD — the epoch retries — and a VANISHED " +
      "CURRENT cannot double-append, because the commit's " +
      "conditional claim collides with the existing manifest") {
    import spark.implicits._
    val root = tmp("graft-r20-fb-ledger-")
    CommitBackends.register(root, new FaultBackend(CommitBackends.localFs))
    val idx = s"$root/idx"
    try {
      def wave(id: Long) = Seq(300L + id, 400L + id).toDF("vec_id")
      def redeliver(): Unit = StreamingGraphDelete.deleteEpoch(
        spark, wave(2), sf, idx, 2L, foldAt = Long.MaxValue)
      (0L to 2L).foreach(i => StreamingGraphDelete.deleteEpoch(
        spark, wave(i), sf, idx, i, foldAt = Long.MaxValue))
      val delTab = LifecycleIndex.delTab(idx)
      val before = SnapshotTable.read(spark, delTab).count()
      // (a) transient CURRENT read inside the dedup check: loud,
      // nothing appended — the streaming engine just retries the epoch
      FaultBackend.arm("readIfExists", "deleted/_versions/CURRENT")
      intercept[java.io.IOException] { redeliver() }
      FaultBackend.disarm()
      assert(FaultBackend.hits.get() > 0, "injection must engage")
      assert(SnapshotTable.read(spark, delTab).count() === before)
      // (b) transient meta read inside the post-compact downward
      // walk: loud, nothing appended
      SnapshotTable.compact(spark, delTab)
      FaultBackend.arm("readIfExists", "deleted/_versions/v00002.meta")
      intercept[java.io.IOException] { redeliver() }
      FaultBackend.disarm()
      assert(SnapshotTable.read(spark, delTab).count() === before)
      // (c) CURRENT VANISHES (eventually-consistent read) on a
      // re-delivered epoch: the dedup check wrongly answers "not
      // applied" and the append proceeds — but its fresh-slot claim
      // collides with the existing v0 manifest via putIfAbsent, so
      // the epoch fails LOUDLY with nothing published: the commit
      // protocol backstops the ledger read, double-append is
      // structurally impossible
      FaultBackend.arm("readIfExists", "deleted/_versions/CURRENT",
        vanish = true)
      intercept[Exception] { redeliver() }
      FaultBackend.disarm()
      assert(SnapshotTable.read(spark, delTab).count() === before,
        "a vanished CURRENT must never let a re-delivered epoch " +
        "double-append")
      // disarmed: the re-delivery skips normally, and a genuinely
      // NEW epoch still lands
      redeliver()
      assert(SnapshotTable.read(spark, delTab).count() === before)
      StreamingGraphDelete.deleteEpoch(spark, wave(3), sf, idx, 3L,
        foldAt = Long.MaxValue)
      assert(SnapshotTable.read(spark, delTab).count() === before + 2)
    } finally {
      FaultBackend.disarm()
      CommitBackends.unregister(root)
    }
  }
}

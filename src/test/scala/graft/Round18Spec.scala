package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.{CommitBackend, CommitBackends, ObjectStoreSimBackend, SnapshotTable}

/** Round-18 items:
  *   - verdict 1: the vacuum DATA-plane sweep is backend-portable —
  *     walk, mtime and deletes go through the Hadoop FileSystem API,
  *     proven under a NON-LOCAL scheme (graftfs://, a scheme java.nio
  *     cannot address) with the control plane on the object-store
  *     backend: the store-addressed warehouse deployment shape;
  *   - verdict 3: serving observability is keyed PER INDEX
  *     (control-plane reads, retries, phase budget) so a process
  *     serving many indexes can attribute its budgets;
  *   - verdict 5: INCREMENTAL serve-materialize — an insert-epoch
  *     state change appends the epoch's edge delta onto the previous
  *     serving snapshot instead of re-symmetrizing and rewriting the
  *     whole graph; row-identity against the full-rewrite path is
  *     pinned here, and every guard failure (pending tombstones,
  *     fold, foreign commit) falls back to the full path;
  *   - round-17 advice: evicting/rotating a corpus-cache entry must
  *     not strip an identical-plan twin's cached blocks (CacheManager
  *     is plan-keyed), and an unreadable retired manifest can never
  *     produce a torn or degraded serve — since round 19 the digest
  *     and pinned file list come from ONE read, so the failure is the
  *     loud retryable missing-file shape, absorbed once and then
  *     propagated (the last test below pins that contract).
  */
class Round18Spec extends AnyFunSuite {
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

  private def freshIndex(prefix: String = ""): String = {
    val idx = prefix + tmp("graft-r18-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  // the serving table's rows as a MULTISET (sorted seq keeps
  // duplicates visible — the delta path must never introduce one)
  private def servingRows(idx: String): Seq[(Long, Long)] = {
    val sTab = LifecycleIndex.servingTab(idx)
    SnapshotTable.read(spark, sTab)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private def insBatch(ep: Int) = emb
    .filter(SimilarityQueries.v21BatchFilter &&
      pmod(col("vec_id"), lit(2)) === ep % 2)
    .select("vec_id", "embedding", "label")

  private def registerGraftFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)

  // ---------------------------------------------------------------
  // verdict 1: backend-portable vacuum data plane
  // ---------------------------------------------------------------

  test("vacuum sweeps DATA files of a table addressed through a " +
      "NON-LOCAL Hadoop scheme (graftfs://) with its control plane " +
      "on the object-store backend — the java.nio walk would have " +
      "silently no-op'd here") {
    import spark.implicits._
    registerGraftFs()
    val localRoot = tmp("graft-r18-gfsvac-")
    val tab = "graftfs:" + localRoot + "/t"
    CommitBackends.register("graftfs:" + localRoot,
      new ObjectStoreSimBackend)
    try {
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
      SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab) // v1
      val files0 = SnapshotTable.dataFiles(tab, 0)
      assert(files0.nonEmpty && files0.forall(_.startsWith("graftfs:")),
        s"data files must be store-addressed: $files0")
      // the local mirror: graftfs:/x stores at /x
      def local(f: String) = Paths.get(f.stripPrefix("graftfs:"))
      assert(files0.forall(f => Files.exists(local(f))))
      val deleted = SnapshotTable.vacuum(tab, keepVersions = 1)
      assert(deleted >= files0.size,
        s"expected >=${files0.size} store-addressed deletes, " +
        s"got $deleted")
      assert(files0.forall(f => !Files.exists(local(f))),
        "v0's expired data files must be GONE from the store")
      assert(SnapshotTable.read(spark, tab)
        .collect().map(_.getLong(0)).toSeq === Seq(2L),
        "the kept version must stay readable")
      // the fresh-file grace holds on the non-local scheme too
      val stray = Paths.get(localRoot, "t", "data", "in-flight")
      Files.createDirectories(stray)
      Files.write(stray.resolve("part-0.parquet"), "x".getBytes("UTF-8"))
      SnapshotTable.vacuum(tab, keepVersions = 1, freshGraceMs = 60000L)
      assert(Files.exists(stray.resolve("part-0.parquet")),
        "a fresh unreferenced file is a racing commit's write")
      assert(SnapshotTable.vacuum(tab, keepVersions = 1) >= 1)
      assert(!Files.exists(stray.resolve("part-0.parquet")))
    } finally CommitBackends.unregister("graftfs:" + localRoot)
  }

  test("the FULL index lifecycle — bootstrap, epochs, fold, serve — " +
      "runs with the index dir on the non-local scheme, serves rows " +
      "identical to a local twin, and the serving vacuum actually " +
      "bounds the store's data files to the retained manifests") {
    registerGraftFs()
    val localRoot = tmp("graft-r18-gfslife-")
    CommitBackends.register("graftfs:" + localRoot,
      new ObjectStoreSimBackend)
    val prevGrace = spark.conf
      .getOption("spark.graft.serving.vacuumGraceMs")
    spark.conf.set("spark.graft.serving.vacuumGraceMs", "0")
    try {
      def drive(idx: String): Seq[Seq[(Long, Long, Int)]] = {
        LifecycleIndex.bootstrap(spark, idx,
          SimilarityQueries.insertFreeBaseGraph(spark, sf))
        val out = scala.collection.mutable.Buffer.empty[Seq[(Long, Long, Int)]]
        out += searchRows(LifecycleIndex.search(spark, sf, idx, searchQueries))
        StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, idx, 0L)
        out += searchRows(LifecycleIndex.search(spark, sf, idx, searchQueries))
        StreamingGraphDelete.deleteEpoch(spark,
          emb.filter(SimilarityQueries.v23DeleteFilter).select("vec_id"),
          sf, idx, 0L)
        out += searchRows(LifecycleIndex.search(spark, sf, idx, searchQueries))
        LifecycleIndex.foldTombstones(spark, sf, idx)
        out += searchRows(LifecycleIndex.search(spark, sf, idx, searchQueries))
        StreamingGraphInsert.insertEpoch(spark, insBatch(1), sf, idx, 1L)
        out += searchRows(LifecycleIndex.search(spark, sf, idx, searchQueries))
        out.toSeq
      }
      val gfsIdx = "graftfs:" + localRoot + "/idx"
      val gfsRows = drive(gfsIdx)
      val fsRows = drive(tmp("graft-r18-fslife-") + "/idx")
      assert(gfsRows === fsRows,
        "the store-addressed index must serve rows identical to the " +
        "local twin at every state")
      assert(gfsRows.forall(_.nonEmpty))
      // vacuum bound: after 5 serving states (keepVersions=2, grace
      // 0), every *.parquet under serving/data on the store must be
      // referenced by one of the TWO retained manifests — earlier
      // full-materialize states' files must actually be gone
      val sTab = LifecycleIndex.servingTab(gfsIdx)
      val cur = SnapshotTable.currentVersionOf(sTab).get
      assert(cur >= 3, s"expected >=4 serving states, got ${cur + 1}")
      val retained = (math.max(0, cur - 1) to cur)
        .flatMap(v => SnapshotTable.dataFiles(sTab, v))
        .map(_.stripPrefix("graftfs:")).toSet
      import scala.jdk.CollectionConverters._
      val onDisk = Files.walk(
          Paths.get(localRoot, "idx", "serving", "data"))
        .iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet"))
        .map(_.toString).toSet
      assert(onDisk === retained,
        s"serving data files on the store must be exactly the " +
        s"retained manifests' (expired states unswept?): " +
        s"disk-extra=${onDisk -- retained}, " +
        s"missing=${retained -- onDisk}")
      Resident.release(gfsIdx)
    } finally {
      CommitBackends.unregister("graftfs:" + localRoot)
      prevGrace match {
        case Some(v) =>
          spark.conf.set("spark.graft.serving.vacuumGraceMs", v)
        case None =>
          spark.conf.unset("spark.graft.serving.vacuumGraceMs")
      }
      PersistRegistry.release()
    }
  }

  // ---------------------------------------------------------------
  // verdict 5: incremental serve-materialize
  // ---------------------------------------------------------------

  test("an insert-epoch state change serve-materializes as a DELTA " +
      "APPEND onto the previous snapshot — serving content and " +
      "search rows identical to a full-rewrite twin, across two " +
      "consecutive delta states; a delete epoch falls back to the " +
      "full path (monotonicity gone)") {
    val a = freshIndex() // delta path
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    assert(LifecycleIndex.lastServeModeFor(a) === "full",
      "a cold first serve has no previous snapshot to delta onto")
    for (ep <- 0 to 1) {
      StreamingGraphInsert.insertEpoch(spark, insBatch(ep), sf, a,
        ep.toLong)
      val rowsA = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      assert(LifecycleIndex.lastServeModeFor(a) === "delta",
        s"epoch $ep: expected the incremental path")
      // the full-rewrite reference: a twin bootstrapped fresh with the
      // same epochs — its first serve is cold, so always full
      val b = freshIndex()
      (0 to ep).foreach(e => StreamingGraphInsert.insertEpoch(spark,
        insBatch(e), sf, b, e.toLong))
      val rowsB =
        searchRows(LifecycleIndex.search(spark, sf, b, searchQueries))
      assert(LifecycleIndex.lastServeModeFor(b) === "full")
      assert(servingRows(a) === servingRows(b),
        s"epoch $ep: delta-applied serving content diverged from the " +
        "full rewrite (multiset compare — duplicates count)")
      assert(rowsA === rowsB, s"epoch $ep: served rows diverged")
      // the delta commit APPENDS: the new manifest extends the
      // previous one instead of rewriting the graph
      val sTab = LifecycleIndex.servingTab(a)
      val cur = SnapshotTable.currentVersionOf(sTab).get
      val prevFiles = SnapshotTable.dataFiles(sTab, cur - 1).toSet
      val curFiles = SnapshotTable.dataFiles(sTab, cur).toSet
      assert(prevFiles.subsetOf(curFiles),
        "the delta state must reuse the previous snapshot's files")
      Resident.release(b)
    }
    // a delete epoch breaks set-monotonicity — the guard must decline
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(col("vec_id") === 3L).select("vec_id"), sf, a, 0L)
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    assert(LifecycleIndex.lastServeModeFor(a) === "full",
      "pending tombstones must force the full rewrite")
    Resident.release(a)
    PersistRegistry.release()
  }

  test("appendFromKnown is a PINNED append: the new version extends " +
      "exactly the parent's manifest, and deriving from a stale " +
      "parent throws with nothing clobbered") {
    import spark.implicits._
    val tab = tmp("graft-r18-appendfrom-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
    val v0Files = SnapshotTable.dataFiles(tab, 0).toSet
    val (v1, _) = SnapshotTable.appendFromKnown(spark, Seq(2L).toDF("x"),
      tab, expectedCurrent = 0, SnapshotTable.dataFiles(tab, 0),
      Some("delta1"))
    assert(v1 === 1)
    assert(v0Files.subsetOf(SnapshotTable.dataFiles(tab, 1).toSet),
      "the appended version must reuse the parent's files")
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // the table moves on; an append still derived from v1 is stale —
    // committing it would silently drop v2's rows (a lost update)
    SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), tab) // v2
    intercept[IllegalStateException] {
      SnapshotTable.appendFromKnown(spark, Seq(3L).toDF("x"), tab,
        expectedCurrent = 1, SnapshotTable.dataFiles(tab, 1),
        Some("stale"))
    }
    assert(SnapshotTable.currentVersionOf(tab) === Some(2))
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(9L),
      "the stale append must publish nothing")
  }

  // ---------------------------------------------------------------
  // verdict 3: per-index observability
  // ---------------------------------------------------------------

  test("serving observability is keyed PER INDEX: a warm search's " +
      "control-plane reads are fully attributed to its own index, " +
      "another index's warm serve moves neither the first's read " +
      "counter nor its phase budget, and releaseIndexCaches drops " +
      "the bookkeeping") {
    val a = freshIndex()
    LifecycleIndex.search(spark, sf, a, searchQueries).count() // cold
    val g0 = CommitBackends.controlPlaneReads.get()
    val a0 = LifecycleIndex.controlPlaneReadsFor(a)
    LifecycleIndex.search(spark, sf, a, searchQueries).count() // warm
    val gWarm = CommitBackends.controlPlaneReads.get() - g0
    val aWarm = LifecycleIndex.controlPlaneReadsFor(a) - a0
    assert(aWarm === gWarm,
      s"every control read a warm search issues must be attributed " +
      s"to its own index (index: $aWarm, process: $gWarm)")
    assert(aWarm > 0L && aWarm <= 24L)
    val phasesA = LifecycleIndex.lastSearchPhasesFor(a)
    assert(phasesA.nonEmpty)
    // a second index: cold serve may sweep (reads other dirs by
    // design); its WARM serve must not touch index a's bookkeeping
    val b = freshIndex()
    LifecycleIndex.search(spark, sf, b, searchQueries).count() // cold
    val a1 = LifecycleIndex.controlPlaneReadsFor(a)
    LifecycleIndex.search(spark, sf, b, searchQueries).count() // warm
    assert(LifecycleIndex.controlPlaneReadsFor(a) === a1,
      "index b's warm serve leaked reads into index a's counter")
    assert(LifecycleIndex.lastSearchPhasesFor(a) === phasesA,
      "index b's serve overwrote index a's phase budget")
    assert(LifecycleIndex.lastSearchPhasesFor(b).nonEmpty)
    assert(LifecycleIndex.searchRetriesFor(a) === 0L &&
      LifecycleIndex.searchRetriesFor(b) === 0L)
    // release drops the per-index bookkeeping (counters)
    Resident.release(a)
    assert(LifecycleIndex.controlPlaneReadsFor(a) === 0L)
    assert(LifecycleIndex.lastSearchPhasesFor(a).isEmpty)
    Resident.release(b)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // round-17 advice: shared-plan unpersist guard
  // ---------------------------------------------------------------

  test("LRU-evicting one index's corpus entry must NOT strip an " +
      "identical-plan twin's cached blocks (CacheManager is " +
      "plan-keyed): the survivor stays persisted and serves " +
      "identical rows") {
    val prev = spark.conf.getOption("spark.graft.serving.corpusCacheMax")
    spark.conf.set("spark.graft.serving.corpusCacheMax", "1")
    try {
      // two indexes over the SAME dataset with no retired set: their
      // corpus plans are identical — the exact reuse ensurePinned
      // deliberately enables
      val a = freshIndex()
      val b = freshIndex()
      val rowsA = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      val keyB = Resident.key(spark, b)
      val rowsB = searchRows(
        LifecycleIndex.search(spark, sf, b, searchQueries))
      // serving b evicted a's entry (cap 1) — before the guard, that
      // unpersist stripped the shared plan's blocks and b's entry
      // silently served unpinned
      val st = LifecycleIndex.servingCorpus.entries
      val level = st(keyB).df.storageLevel.description
      assert(st.keySet === Set(keyB), s"LRU must keep only b: $st")
      assert(level.toLowerCase.contains("memory"),
        s"evicting a's entry stripped b's shared-plan blocks: " +
        s"level '$level'")
      assert(searchRows(LifecycleIndex.search(spark, sf, a,
        searchQueries)) === rowsA)
      assert(searchRows(LifecycleIndex.search(spark, sf, b,
        searchQueries)) === rowsB)
      Resident.release(a)
      Resident.release(b)
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

  // ---------------------------------------------------------------
  // round-17 advice: unreliable incarnation digest bypasses caches
  // ---------------------------------------------------------------

  test("a retired manifest that cannot be read fails the search " +
      "LOUDLY through the retry-once contract — the incarnation " +
      "digest and the pinned file list come from ONE read (round 19), " +
      "so the round-17 torn window (corpus read succeeds, digest " +
      "read races a vacuum) is structurally closed; caches stay " +
      "unpoisoned and the search heals when the manifest returns") {
    // a delegating backend that hides the retired table's manifests
    // entirely while armed — the racing vacuum/drop, now hitting the
    // single combined read
    final class HidingBackend(u: CommitBackend) extends CommitBackend {
      @volatile var armed = false
      override def readIfExists(path: String): Option[Array[Byte]] =
        if (armed && path.endsWith(".manifest")) None
        else u.readIfExists(path)
      def putIfAbsent(path: String, bytes: Array[Byte]): Boolean =
        u.putIfAbsent(path, bytes)
      def put(path: String, bytes: Array[Byte]): Unit = u.put(path, bytes)
      def delete(path: String): Boolean = u.delete(path)
      def ageMs(path: String): Option[Long] = u.ageMs(path)
      override def ensureDir(dir: String): Unit = u.ensureDir(dir)
    }
    val idx = freshIndex()
    val twin = freshIndex()
    val del = emb.filter(col("vec_id") === 3L).select("vec_id")
    StreamingGraphDelete.deleteEpoch(spark, del, sf, idx, 0L)
    StreamingGraphDelete.deleteEpoch(spark, del, sf, twin, 0L)
    val want = searchRows(
      LifecycleIndex.search(spark, sf, twin, searchQueries))
    val hiding = new HidingBackend(CommitBackends.localFs)
    val rTab = LifecycleIndex.retiredTab(idx)
    CommitBackends.register(rTab, hiding)
    try {
      hiding.armed = true
      val r0 = LifecycleIndex.searchRetriesFor(idx)
      // both attempts hit the hidden manifest: the first failure is
      // absorbed by the retry-once contract, the second propagates
      // with the missing-file shape — never a torn or degraded serve
      intercept[java.nio.file.NoSuchFileException] {
        LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      }
      assert(LifecycleIndex.searchRetriesFor(idx) === r0 + 1,
        "exactly one retry must be absorbed before propagating")
      hiding.armed = false
      val key = Resident.key(spark, idx)
      assert(!LifecycleIndex.servingCorpus.entries.contains(key),
        "a failed pin must never poison the corpus cache")
      assert(!LifecycleIndex.centroids.entries.contains(key),
        "a failed pin must never poison the centroid cache")
      // healed: the manifest is readable again — correct rows, cached
      assert(searchRows(LifecycleIndex.search(spark, sf, idx,
        searchQueries)) === want)
      assert(LifecycleIndex.servingCorpus.entries.contains(key))
    } finally {
      CommitBackends.unregister(rTab)
      Resident.release(idx)
      Resident.release(twin)
      PersistRegistry.release()
    }
  }
}

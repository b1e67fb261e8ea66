package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.{CommitBackends, ObjectStoreSimBackend, SnapshotTable}

/** Round-19 items:
  *   - verdict 1: the state-change DELTA serve's control-plane read
  *     budget is AT OR BELOW the full rewrite's (it was 33 vs 27) —
  *     pinned here per serve mode, with the warm adopt single-digit;
  *   - verdict 3: fault-injection canary for the portable data
  *     plane — a missing-file / transient-IO fault at EVERY
  *     FileSystem call site of the vacuum sweep (exists probe,
  *     recursive listing mid-iteration, per-victim delete) and the
  *     writeData listing must yield quiet-abort / deferred-sweep /
  *     loud-unpublished, never a torn table;
  *   - verdict 4: the d18 hot-band salt is gated in CI — a planted
  *     hot band at spec scale must ENGAGE the salt (plan-visible)
  *     and salted/unsalted outputs must be identical;
  *   - round-18 advice: the delta serve falls back to the full
  *     rewrite on an over-byte-budget epoch instead of planning a
  *     doomed broadcast, and serve-mode observability is per-index.
  */
class Round19Spec extends AnyFunSuite {
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
    val idx = tmp("graft-r19-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    idx
  }

  private def insBatch(ep: Int) = emb
    .filter(SimilarityQueries.v21BatchFilter &&
      pmod(col("vec_id"), lit(2)) === ep % 2)
    .select("vec_id", "embedding", "label")

  // ---------------------------------------------------------------
  // verdict 1: delta-serve control-plane budget <= full rewrite's
  // ---------------------------------------------------------------

  test("serving read budgets: a state-change DELTA serve issues NO " +
      "MORE control-plane reads than the full rewrite it replaces, " +
      "and a warm adopt stays single-digit — the SCALE_STREAM stamp's " +
      "invariant, pinned per serve mode") {
    val idx = freshIndex()
    def served(expectMode: String): Long = {
      val s = LifecycleIndex.controlPlaneReadsFor(idx)
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      assert(LifecycleIndex.lastServeModeFor(idx) === expectMode)
      LifecycleIndex.controlPlaneReadsFor(idx) - s
    }
    served("full") // cold
    val warm = served("adopt")
    assert(warm > 0 && warm <= 8,
      s"a warm adopt must stay single-digit, read $warm")
    // reach the insert-turnover steady state the SCALE stamp measures:
    // delete epoch + fold (empty tombstone delta), then insert epochs
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(SimilarityQueries.v23DeleteFilter).select("vec_id"),
      sf, idx, 0L)
    LifecycleIndex.foldTombstones(spark, sf, idx)
    val full = served("full") // the fold moved the base: full rewrite
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, idx, 0L)
    val delta = served("delta")
    StreamingGraphInsert.insertEpoch(spark, insBatch(1), sf, idx, 1L)
    val delta2 = served("delta")
    assert(delta <= full && delta2 <= full,
      s"the steady-state cheap path must not read more control plane " +
      s"than the rewrite it replaces: delta=$delta delta2=$delta2 " +
      s"full=$full")
    assert(full <= 24 && delta2 <= 20,
      s"gross budget regression: full=$full delta2=$delta2 " +
      s"(round-19 measured full=16, delta=15, warm=6)")
    LifecycleIndex.releaseIndexCaches(spark, idx)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // round-18 advice: per-index serve mode; delta fallback guards
  // ---------------------------------------------------------------

  test("serve-mode observability is PER INDEX: another index's " +
      "materialize does not clobber the first's mode, and " +
      "releaseIndexCaches drops it") {
    val a = freshIndex()
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, a, 0L)
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    assert(LifecycleIndex.lastServeModeFor(a) === "adopt")
    val b = freshIndex()
    LifecycleIndex.search(spark, sf, b, searchQueries).count() // full
    assert(LifecycleIndex.lastServeModeFor(b) === "full")
    assert(LifecycleIndex.lastServeModeFor(a) === "adopt",
      "index b's materialize clobbered index a's serve mode")
    LifecycleIndex.releaseIndexCaches(spark, a)
    assert(LifecycleIndex.lastServeModeFor(a) === "")
    LifecycleIndex.releaseIndexCaches(spark, b)
    PersistRegistry.release()
  }

  test("an insert epoch past the delta BYTE budget falls back to the " +
      "full rewrite (never a doomed broadcast plan)") {
    val a = freshIndex()
    LifecycleIndex.search(spark, sf, a, searchQueries).count() // cold
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, a, 0L)
    spark.conf.set("spark.graft.serving.deltaMaxBytes", "1")
    try {
      val rows = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      assert(LifecycleIndex.lastServeModeFor(a) === "full",
        "an over-budget epoch must take the full rewrite")
      assert(rows.nonEmpty)
    } finally spark.conf.unset("spark.graft.serving.deltaMaxBytes")
    LifecycleIndex.releaseIndexCaches(spark, a)
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // verdict 3: fault-injection canary for the portable data plane
  // ---------------------------------------------------------------

  private def registerFaultFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[FaultFs].getName)

  test("vacuum data-plane faults at EVERY FileSystem call site — " +
      "exists probe, mid-listing vanish, per-victim delete — defer " +
      "or quiet-abort the sweep with the kept version intact, and a " +
      "disarmed re-sweep reclaims; a writeData listing fault fails " +
      "the commit LOUDLY with nothing published") {
    import spark.implicits._
    registerFaultFs()
    val localRoot = tmp("graft-r19-fault-")
    val tab = "faultfs:" + localRoot + "/t"
    CommitBackends.register("faultfs:" + localRoot,
      new ObjectStoreSimBackend)
    def liveOk(want: Seq[Long]): Unit =
      assert(SnapshotTable.read(spark, tab)
        .collect().map(_.getLong(0)).toSeq.sorted === want,
        "the kept version must stay readable after an injected fault")
    def freshVersions(): Seq[String] = {
      SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab)
      val expired = SnapshotTable.dataFiles(tab)
      SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab)
      expired
    }
    def onDisk(f: String): Boolean =
      Files.exists(Paths.get(f.stripPrefix("faultfs:")))
    try {
      // (a) exists-probe fault (transient IOException): the whole
      // data sweep defers — nothing deleted, retried next sweep
      val exp1 = freshVersions()
      FaultFs.arm("exists", "/t/data", notFound = false)
      try assert(SnapshotTable.vacuum(tab, keepVersions = 1) === 0)
      finally FaultFs.disarm()
      assert(FaultFs.hits.get() > 0, "the fault must actually fire")
      assert(exp1.forall(onDisk), "a deferred sweep deletes NOTHING")
      liveOk(Seq(2L))
      assert(SnapshotTable.vacuum(tab, keepVersions = 1) >= exp1.size,
        "the disarmed re-sweep must reclaim the deferred files")
      assert(exp1.forall(f => !onDisk(f)))

      // (b) the listing vanishes MID-ITERATION (the concurrent-drop
      // race): quiet abort — only already-collected victims may go,
      // the kept version is untouched, the re-sweep finishes the job
      val exp2 = freshVersions()
      FaultFs.arm("listFiles", "/t/data", after = 1)
      try SnapshotTable.vacuum(tab, keepVersions = 1)
      finally FaultFs.disarm()
      assert(FaultFs.hits.get() > 0)
      liveOk(Seq(2L))
      SnapshotTable.vacuum(tab, keepVersions = 1)
      assert(exp2.forall(f => !onDisk(f)))

      // (c) per-victim delete fault: absorbed per file (the count
      // stays honest), kept version intact, re-sweep reclaims
      val exp3 = freshVersions()
      FaultFs.arm("delete", "/t/data", notFound = false)
      try assert(SnapshotTable.vacuum(tab, keepVersions = 1) === 0,
        "a victim whose delete failed must not be COUNTED deleted")
      finally FaultFs.disarm()
      assert(FaultFs.hits.get() > 0)
      assert(exp3.forall(onDisk))
      liveOk(Seq(2L))
      assert(SnapshotTable.vacuum(tab, keepVersions = 1) >= exp3.size)

      // (d) writeData-listing fault: the commit fails LOUDLY and
      // publishes nothing — the table stays at its version, and a
      // disarmed retry commits normally
      val curBefore = SnapshotTable.currentVersionOf(tab)
      FaultFs.arm("listStatus", "/t/data")
      val failed =
        try { SnapshotTable.overwrite(spark, Seq(3L).toDF("x"), tab);
          false }
        catch { case _: Throwable => true }
        finally FaultFs.disarm()
      assert(failed, "a vanished write listing must fail the commit")
      assert(FaultFs.hits.get() > 0)
      assert(SnapshotTable.currentVersionOf(tab) === curBefore,
        "nothing may be published over an injected write fault")
      liveOk(Seq(2L))
      SnapshotTable.overwrite(spark, Seq(3L).toDF("x"), tab)
      liveOk(Seq(3L))
    } finally {
      FaultFs.disarm()
      CommitBackends.unregister("faultfs:" + localRoot)
    }
  }

  // ---------------------------------------------------------------
  // verdict 4: the d18 hot-band salt, gated in CI
  // ---------------------------------------------------------------

  test("d18 hot-band salt gate: a planted boilerplate band ENGAGES " +
      "the adaptive salt in the shuffled regime (plan-visible) and " +
      "salted vs unsalted outputs are row-identical") {
    // plant a family of equal-length titles sharing the boilerplate
    // prefix — the drill's adversary at spec scale
    val dir = tmp("graft-r19-skew-")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val planted = docs.limit(40)
      .coalesce(1)
      .withColumn("__r", monotonically_increasing_id())
      .withColumn("doc_id", lit(5000000000L) + col("__r"))
      .withColumn("text",
        concat(lit("terms of service "),
          substring(md5(col("doc_id").cast("string")), 1, 8),
          lit(" "), col("text")))
      .drop("__r")
    docs.unionByName(planted)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(): Set[(Long, Long, Int)] =
      SparkEntry.queries("d18_editdistance_neardup")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // force the shuffled regime (the straggler only exists there) and
    // a spec-sized hot threshold: the planted band's pair product
    // (~40 x 40+) crosses it, the organic corpus does not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.d18.saltPairThreshold", "100")
    try {
      val salted = SparkEntry
        .queries("d18_editdistance_neardup")(spark, dir)
      assert(salted.queryExecution.executedPlan.toString
          .contains("__salt"),
        "the planted hot band must engage the salt split — if this " +
        "fails, the adaptive per-band salt regressed (the 1e8-pair " +
        "drill's 556s->73s lever)")
      val saltedRows = rows()
      // the unsalted reference: the default threshold (10^6 pairs),
      // which no spec band reaches
      spark.conf.unset("spark.graft.d18.saltPairThreshold")
      val unsalted = SparkEntry
        .queries("d18_editdistance_neardup")(spark, dir)
      assert(!unsalted.queryExecution.executedPlan.toString
        .contains("__salt"))
      assert(rows() === saltedRows,
        "the salt lever changed the OUTPUT — it must be invariant")
      assert(saltedRows.nonEmpty,
        "spec corpus must produce near-duplicates to compare")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.graft.d18.saltPairThreshold")
      PersistRegistry.release()
    }
  }

  // ---------------------------------------------------------------
  // round-19 plumbing: vacuum's manifest trim; the edge-prefix marker
  // ---------------------------------------------------------------

  test("vacuum expires old manifests with a BOUNDED downward walk " +
      "(not O(versions) deletes per sweep) and still clears them " +
      "across repeated sweeps") {
    import spark.implicits._
    val tab = tmp("graft-r19-trim-") + "/t"
    (0 to 5).foreach(i =>
      SnapshotTable.overwrite(spark, Seq(i.toLong).toDF("x"), tab))
    SnapshotTable.vacuum(tab, keepVersions = 2)
    (0 to 3).foreach(v =>
      assert(SnapshotTable.manifestDigestOf(tab, v).isEmpty,
        s"manifest v$v must be expired"))
    (4 to 5).foreach(v =>
      assert(SnapshotTable.manifestDigestOf(tab, v).isDefined))
    // metas (the exactly-once ledger) survive; later sweeps stay clean
    SnapshotTable.overwrite(spark, Seq(9L).toDF("x"), tab)
    SnapshotTable.vacuum(tab, keepVersions = 2)
    assert(SnapshotTable.manifestDigestOf(tab, 4).isEmpty)
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  // ---------------------------------------------------------------
  // round-19 review findings: torn capture, derive-window interleave,
  // ledger-vs-compact double apply, empty-layout robustness
  // ---------------------------------------------------------------

  test("a FOLD landing inside the serve's four-pointer version " +
      "capture (base read, then fold, then delta reads) is detected " +
      "by the torn-capture guard and absorbed by one retry — the " +
      "serve returns the same rows as a clean serve instead of " +
      "silently dropping every pre-fold insert") {
    val a = freshIndex()
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, a, 0L)
    val want = searchRows(
      LifecycleIndex.search(spark, sf, a, searchQueries))
    // second epoch so the post-fold state change has real content
    StreamingGraphInsert.insertEpoch(spark, insBatch(1), sf, a, 1L)
    val clean = searchRows(
      LifecycleIndex.search(spark, sf, a, searchQueries))
    assert(want.nonEmpty && clean.nonEmpty)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val r0 = LifecycleIndex.searchRetriesFor(a)
    LifecycleIndex.midCaptureTestHook = Some(() =>
      if (fired.compareAndSet(false, true))
        LifecycleIndex.foldTombstones(spark, sf, a))
    try {
      val rows = searchRows(
        LifecycleIndex.search(spark, sf, a, searchQueries))
      assert(fired.get(), "the straddle never fired — seam moved")
      assert(LifecycleIndex.searchRetriesFor(a) === r0 + 1,
        "the torn capture must be absorbed by exactly one retry")
      // the fold is a semantic no-op, so the straddled serve must
      // return exactly the clean pre-fold rows — a torn serve would
      // have dropped the streamed inserts' neighbors
      assert(rows === clean,
        "the straddled serve's rows diverged from the clean serve")
    } finally {
      LifecycleIndex.midCaptureTestHook = None
      LifecycleIndex.releaseIndexCaches(spark, a)
      PersistRegistry.release()
    }
  }

  test("a FOLD landing inside maintainedEdges' pointer capture is " +
      "recaptured transparently — the public read-resolve verb " +
      "returns the same graph as a clean read instead of composing " +
      "old base + restarted delta (the serving path's torn-capture " +
      "class, closed for the utility verbs too)") {
    val a = freshIndex()
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, a, 0L)
    def edgeSet() = LifecycleIndex.maintainedEdges(spark, sf, a)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val clean = edgeSet()
    assert(clean.nonEmpty)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    LifecycleIndex.midCaptureTestHook = Some(() =>
      if (fired.compareAndSet(false, true))
        LifecycleIndex.foldTombstones(spark, sf, a))
    try {
      val straddled = edgeSet()
      assert(fired.get(), "the straddle never fired — seam moved")
      // the fold is a semantic no-op: the recaptured read must equal
      // the clean pre-fold graph; the torn composition would have
      // dropped every streamed insert's edges
      assert(straddled === clean,
        "maintainedEdges under a fold straddle diverged from the " +
        "clean graph")
    } finally {
      LifecycleIndex.midCaptureTestHook = None
      LifecycleIndex.releaseIndexCaches(spark, a)
      PersistRegistry.release()
    }
  }

  test("MaterializedAgg.refresh stays exactly-once when a meta-less " +
      "maintenance compact moves the pointer meta off the epoch id: " +
      "the re-delivered batch is skipped via the per-version ledger") {
    import spark.implicits._
    val dir = tmp("graft-r19-magg-") + "/agg"
    val batch = Seq(("a", 1.00), ("a", 2.00), ("b", 5.00))
      .toDF("k", "amount")
    graft.warehouse.MaterializedAgg.refresh(spark, dir, batch,
      Seq("k"), "amount", batchId = 7L)
    def state() = graft.warehouse.MaterializedAgg.read(spark, dir)
      .select("k", "sum_value", "n").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val want = state()
    assert(want === Set(("a", 3.0, 2L), ("b", 5.0, 1L)))
    // maintenance compact WITHOUT preserving the ledger meta — the
    // pointer no longer names batch=7, but the per-version ledger does
    SnapshotTable.compact(spark, dir)
    graft.warehouse.MaterializedAgg.refresh(spark, dir, batch,
      Seq("k"), "amount", batchId = 7L) // foreachBatch re-delivery
    assert(state() === want,
      "the re-delivered epoch was double-applied — the exactly-once " +
      "check must consult ALL committed metas, not just the pointer")
  }

  test("zorderLayout on an empty input returns it unchanged instead " +
      "of NPEing on the null max row") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(graft.warehouse.LayoutOps
      .zorderLayout(empty, 2, "a", "b").count() === 0)
  }

  test("the serving meta's edge-prefix marker survives a round trip: " +
      "a delta state's meta carries |e<count>@<digest> and the next " +
      "delta derives its diff from it (no previous-manifest read), " +
      "while an edges-table REWRITE fails the digest and falls back " +
      "to the full path") {
    val a = freshIndex()
    LifecycleIndex.search(spark, sf, a, searchQueries).count() // cold
    StreamingGraphInsert.insertEpoch(spark, insBatch(0), sf, a, 0L)
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    assert(LifecycleIndex.lastServeModeFor(a) === "delta")
    val sTab = LifecycleIndex.servingTab(a)
    val sv = SnapshotTable.currentVersionOf(sTab).get
    val meta = SnapshotTable.metaOf(sTab, sv).get
    assert(meta.matches(".*\\|sym1\\|e\\d+@[0-9a-f]{16}$"),
      s"serving meta must carry the edge-prefix marker, got: $meta")
    // compact the edges table (rewrites its file list): the marker's
    // digest no longer matches the current manifest prefix — the next
    // state change must decline the delta and take the full rewrite
    val eTab = LifecycleIndex.edgesTab(a)
    SnapshotTable.compact(spark, eTab, numFiles = 1,
      meta = SnapshotTable.currentMeta(eTab))
    LifecycleIndex.search(spark, sf, a, searchQueries).count()
    assert(LifecycleIndex.lastServeModeFor(a) === "full",
      "a rewritten edges manifest must fail the prefix digest")
    LifecycleIndex.releaseIndexCaches(spark, a)
    PersistRegistry.release()
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.SnapshotTable

/** Round-15 items, each pinned to the verdict/advice finding it
  * closes:
  *   - d18 PassJoin exactness for ed ≤ 3 (verdict 3: the old
  *     3-equal-position-segment rule missed boundary-shifting
  *     insertions) — planted typos vs brute force;
  *   - SnapshotTable orphan-manifest recovery (advice medium 2: a
  *     crash between manifest CREATE_NEW and the CURRENT swap
  *     bricked the table forever);
  *   - fold-cut subtraction skipped once the delta restart is
  *     visible (verdict 4 / advice low 1: every post-fold read paid
  *     an except-scan of the folded prefix forever);
  *   - serving read pinned to its matched version (verdict 6 /
  *     advice medium 1: the unpinned CURRENT read raced newer
  *     searches' overwrite+vacuum);
  *   - re-insert of a retired id: delete-wins set semantics made
  *     explicit, with unretire() as the operator resurrection verb
  *     (verdict 7);
  *   - the inferred-full-corpus base rejects insert epochs loudly
  *     (advice low 2);
  *   - v28_streaming_serve ≡ v27 row-for-row (verdict 2: the serving
  *     verb gets an oracled entry).
  */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  // ---------------------------------------------------------------
  // d18: PassJoin exactness
  // ---------------------------------------------------------------

  test("d18 finds EVERY pair at edit distance <= 3 — planted " +
      "insertion/deletion/substitution typos vs brute force (the old " +
      "equal-position segment rule provably missed the insertions)") {
    import spark.implicits._
    val docs = Seq(
      // the round-13 carried blind spot: a single LEADING insertion
      // shifts every equal-position segment, so the old rule found
      // no block for (10, 11) / (20, 21) despite edit distance 1
      (10L, "alpha beta gamma delta tail ignored"),
      (11L, "xalpha beta gamma delta other tail"),
      (20L, "quick brown fox jumps"),
      (21L, "quick bbrown fox jumps"), // mid-title insertion
      (22L, "quick brown fox jump"),   // trailing deletion
      (23L, "quick crown fax jumps"),  // 2 substitutions
      (24L, "quik brwn fx jumps"),     // 3 deletions
      (30L, "entirely unrelated words here"),
      (40L, "zz xx"),                  // title < 9 chars: excluded
      (50L, "quick brown foxes leaping far") // ed > 3 from the 2x family
    ).toDF("doc_id", "text")
    val dir = tmp("graft-d18-fx-")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")

    val got = SparkEntry.queries("d18_editdistance_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

    // brute force: ALL pairs of qualifying titles at levenshtein <= 3
    val t = docs.select(col("doc_id"),
        concat_ws(" ", slice(split(trim(col("text")), "\\s+"), 1, 4))
          .as("title"))
      .filter(length(col("title")) >= 9)
    val want = t.as("a").crossJoin(t.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.title"), col("b.title")).cast("int").as("ed"))
      .filter(col("ed") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

    assert(got === want,
      s"d18 must equal brute force exactly; missing=" +
      s"${(want.toSet -- got.toSet).toSeq.sorted} extra=" +
      s"${(got.toSet -- want.toSet).toSeq.sorted}")
    // the specific shapes the old rule missed must be present
    assert(got.exists(p => p._1 == 10L && p._2 == 11L),
      "leading-insertion pair escaped candidate generation")
    assert(got.exists(p => p._1 == 20L && p._2 == 21L),
      "mid-title-insertion pair escaped candidate generation")
    assert(got.exists(p => p._1 == 20L && p._2 == 24L),
      "triple-deletion pair escaped candidate generation")
  }

  // ---------------------------------------------------------------
  // SnapshotTable: orphan-manifest recovery
  // ---------------------------------------------------------------

  test("a STALE orphaned manifest past CURRENT (crashed commit) is " +
      "reclaimed and the version reused; a FRESH one (in-flight " +
      "commit) still fails the single-writer collision loudly") {
    import spark.implicits._
    val tab = tmp("graft-orphan-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab) // v0
    val vd = Paths.get(tab, "_versions")
    // simulate the crash: v1 manifest (+meta) written, CURRENT never
    // swapped — the round-14 advice scenario that bricked every
    // later commit (pinned and unpinned alike)
    Files.write(vd.resolve("v00001.manifest"), "phantom".getBytes)
    Files.write(vd.resolve("v00001.meta"), "ghost-epoch".getBytes)
    // fresh orphan = indistinguishable from an in-flight commit:
    // a base-dependent append must STILL throw, nothing reclaimed
    intercept[IllegalStateException] {
      SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
    }
    assert(Files.exists(vd.resolve("v00001.manifest")),
      "an in-flight-looking manifest must never be reclaimed")
    // age it past the grace window: now it is provably a crash orphan
    val stale = FileTime.fromMillis(System.currentTimeMillis() - 60000L)
    Files.setLastModifiedTime(vd.resolve("v00001.manifest"), stale)
    SnapshotTable.append(spark, Seq(2L).toDF("x"), tab)
    assert(SnapshotTable.currentVersionOf(tab) === Some(1),
      "the reclaimed version number must be reused, not skipped")
    assert(SnapshotTable.read(spark, tab).count() === 2L)
    assert(!SnapshotTable.committedMetas(tab).contains("ghost-epoch"),
      "the crashed commit's meta must not resurface as committed")
    // and the PINNED (CAS) path recovers identically — the fold's
    // 'recovery by construction' depends on it
    Files.write(vd.resolve("v00002.manifest"), "phantom2".getBytes)
    Files.setLastModifiedTime(vd.resolve("v00002.manifest"), stale)
    SnapshotTable.overwriteFrom(spark, Seq(9L).toDF("x"), tab,
      SnapshotTable.currentVersionOf(tab))
    assert(SnapshotTable.read(spark, tab)
      .collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("serveResolve resolves the committed version carrying a " +
      "tag and skips vacuumed manifests") {
    import spark.implicits._
    val tab = tmp("graft-vwm-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("a"))
    SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab, Some("b"))
    def matched(meta: String) = SnapshotTable.serveResolve(tab, meta).matched
    assert(matched("a") === Some(0))
    assert(matched("b") === Some(1))
    assert(matched("zzz") === None)
    SnapshotTable.vacuum(tab, keepVersions = 1)
    // v0's manifest is gone; its .meta survives (the exactly-once
    // ledger) — the resolver must treat it as unreadable
    assert(matched("a") === None,
      "a vacuumed version must resolve as a miss, not a torn read")
  }

  // ---------------------------------------------------------------
  // LifecycleIndex fixtures (small: one insert + one delete epoch)
  // ---------------------------------------------------------------

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val insBatch = emb
    .filter(SimilarityQueries.v21BatchFilter)
    .select("vec_id", "embedding", "label")
  private lazy val delBatch = emb
    .filter(SimilarityQueries.v23DeleteFilter)
    .select("vec_id")

  private def smallIndex(): String = {
    val idx = tmp("graft-r15-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
    StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L)
    idx
  }

  private def hasExcept(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Except => e
    }.nonEmpty

  test("post-fold reads skip the fold-cut subtraction (no Except — " +
      "the folded prefix is never scanned again) while the crash " +
      "window still subtracts it, and the maintained graph is " +
      "unchanged either way") {
    val idx = smallIndex()
    val preFold = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    LifecycleIndex.foldTombstones(spark, sf, idx)
    // healthy post-fold index: the restarts landed, so the delta
    // reads must NOT carry the except-subtraction (round-14 read tax)
    StreamingGraphInsert.insertEpoch(spark, insBatch.limit(3)
      .withColumn("vec_id", col("vec_id") + 2000000000L), sf, idx, 7L)
    val ins = LifecycleIndex.insertEdges(spark, idx)
    val del = LifecycleIndex.tombstones(spark, idx)
    assert(ins.isDefined && del.isDefined)
    assert(!hasExcept(ins.get),
      "a post-restart delta read must not except-scan the folded prefix")
    assert(!hasExcept(del.get),
      "a post-restart tombstone read must not except-scan the prefix")
    // the skip is an optimization, not a semantics change
    val postFold = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .filter(col("vec_id") < 2000000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(postFold === preFold,
      "fold + epoch must preserve the pre-fold maintained graph " +
      "(modulo the new epoch's own edges)")
    // crash window: folded base committed, restarts NOT landed — the
    // subtraction is what keeps reads exact, so it must be present
    val idx2 = smallIndex()
    val through = LifecycleIndex.pendingFoldMarker(idx2).get
    SnapshotTable.overwrite(spark,
      LifecycleIndex.maintainedEdges(spark, sf, idx2).distinct(),
      LifecycleIndex.baseTab(idx2), Some(through))
    // a post-abort epoch appends past the cut — the except branch
    StreamingGraphInsert.insertEpoch(spark, insBatch.limit(3)
      .withColumn("vec_id", col("vec_id") + 2000000000L), sf, idx2, 8L)
    val ins2 = LifecycleIndex.insertEdges(spark, idx2)
    assert(ins2.isDefined && hasExcept(ins2.get),
      "the crash window must still subtract the folded prefix")
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // serving read pinned to its matched version
  // ---------------------------------------------------------------

  private def searchQueries = emb
    .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
    .select("vec_id", "embedding")

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  test("search() reads the serving version it MATCHED, never " +
      "CURRENT: after two forced serving advances + vacuum between " +
      "materialize and read, a repeat search rematerializes and " +
      "returns identical rows instead of adopting a newer state's " +
      "graph (round-14 advice: the torn-view race)") {
    import spark.implicits._
    val idx = smallIndex()
    val first = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    // two quick 'state advances' on the serving table (what two
    // concurrent searches for newer index states would leave
    // behind), then the vacuum that deletes the matched version's
    // files — the exact interleaving the advice traced
    val sTab = LifecycleIndex.servingTab(idx)
    val junk = Seq((0L, 0L), (1L, 0L)).toDF("vec_id", "neighbor_id")
    SnapshotTable.overwrite(spark, junk, sTab, Some("newer-state-1"))
    SnapshotTable.overwrite(spark, junk, sTab, Some("newer-state-2"))
    SnapshotTable.vacuum(sTab, keepVersions = 2)
    val again = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    PersistRegistry.release()
    assert(again === first,
      "the repeat search must rematerialize its own version — an " +
      "unpinned CURRENT read would have walked the junk graph")
  }

  // ---------------------------------------------------------------
  // re-insert of a retired id: delete-wins, and unretire()
  // ---------------------------------------------------------------

  test("re-inserting a RETIRED id is accepted and stays dead " +
      "(delete-wins set semantics — the only rule consistent with " +
      "order independence); unretire() + the already-committed epoch " +
      "edges resurrect it explicitly") {
    val idx = tmp("graft-r15-reins-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L)
    val x = delBatch.filter(col("vec_id") =!= 0)
      .orderBy("vec_id").limit(1)
      .collect().head.getLong(0)
    // the 're-insert': a later insert epoch carrying the retired id —
    // intake ACCEPTS (no loud failure: this is a legitimate
    // interleaving, not an error), the epoch commits its edges
    val reins = emb.filter(col("vec_id") === x)
      .select("vec_id", "embedding", "label")
    StreamingGraphInsert.insertEpoch(spark, reins, sf, idx, 1L)
    assert(SnapshotTable.committedMetas(LifecycleIndex.edgesTab(idx))
      .contains("ins:batch=1"), "the re-insert epoch must commit")
    // ... but the id stays dead everywhere a user can observe
    val maintained = LifecycleIndex.maintainedEdges(spark, sf, idx)
    assert(maintained.filter(col("vec_id") === x ||
      col("neighbor_id") === x).count() === 0L,
      "a retired id must not resurface in the maintained graph")
    assert(LifecycleIndex.retiredIds(spark, idx).get
      .filter(col("vec_id") === x).count() === 1L)
    // explicit operator resurrection: unretire + the epoch's edges
    import spark.implicits._
    LifecycleIndex.unretire(spark, idx, Seq(x).toDF("vec_id"))
    assert(LifecycleIndex.retiredIds(spark, idx).get
      .filter(col("vec_id") === x).count() === 0L,
      "unretire must remove the id from the cumulative retired set")
    val revived = LifecycleIndex.maintainedEdges(spark, sf, idx)
    assert(revived.filter(col("vec_id") === x).count() > 0L,
      "after unretire the id's committed epoch edges must be live")
    // the OTHER retired ids stay dead — unretire is surgical
    val stillDead = delBatch.filter(col("vec_id") =!= x)
      .limit(1).collect().head.getLong(0)
    assert(revived.filter(col("vec_id") === stillDead).count() === 0L)
    PersistRegistry.release()
  }

  test("re-basing an index whose fold already baked insert epochs " +
      "into the base is REFUSED loudly — those edges exist nowhere " +
      "else and the epoch ledger blocks re-delivery (review-caught)") {
    val idx = smallIndex() // bootstrap + ins epoch 0 + del epoch 0
    LifecycleIndex.foldTombstones(spark, sf, idx)
    val e = intercept[IllegalArgumentException] {
      LifecycleIndex.bootstrap(spark, idx,
        SimilarityQueries.insertFreeBaseGraph(spark, sf))
    }
    assert(e.getMessage.contains("FOLDED"),
      s"the refusal must name the hazard, got: ${e.getMessage}")
    // an UN-folded live index re-bases fine (delta edges survive the
    // swap, and the reseed keeps the tombstones applied)
    val idx2 = smallIndex()
    LifecycleIndex.bootstrap(spark, idx2,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val got = LifecycleIndex.maintainedEdges(spark, sf, idx2)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = edgeSetOf(
      operators.SimilarityQueries.lifecycleMaintainedGraph(spark, sf))
    PersistRegistry.release()
    assert(got === want,
      "a re-base of an un-folded index must preserve the composed state")
  }

  private def edgeSetOf(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  // ---------------------------------------------------------------
  // inferred-full-corpus base rejects insert epochs
  // ---------------------------------------------------------------

  test("a delete-only auto-fold on an UN-bootstrapped index stamps " +
      "the inferred-full-corpus provenance, later insert epochs fail " +
      "loudly against it, and bootstrap() cures the index " +
      "(round-14 advice: the silent-divergence hazard)") {
    val idx = tmp("graft-r15-infer-")
    // delete-only stream, no bootstrap; tiny foldAt forces the
    // auto-fold to bake the INFERRED full-corpus base
    StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L,
      foldAt = 1L)
    val bTab = LifecycleIndex.baseTab(idx)
    val vB = SnapshotTable.currentVersionOf(bTab)
    assert(vB.isDefined, "the auto-fold must have committed a base")
    assert(SnapshotTable.metaOf(bTab, vB.get)
      .exists(_.contains(LifecycleIndex.InferredFullTag)),
      "the fold must stamp the base's inferred provenance")
    val e = intercept[IllegalArgumentException] {
      StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
    }
    assert(e.getMessage.contains("INFERRED"),
      s"the guard must name the hazard, got: ${e.getMessage}")
    // bootstrap replaces the base (and its meta) — inserts flow again
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
    assert(SnapshotTable.committedMetas(LifecycleIndex.edgesTab(idx))
      .contains("ins:batch=0"))
    // and the CURE IS COHERENT (review-caught): the replaced base had
    // FOLDED the tombstones into itself; the fresh base contains
    // their edges again, so bootstrap must reseed the delta from
    // retired/ or re-basing silently resurrects every folded deletion
    val delSet = delBatch.collect().map(_.getLong(0)).toSet
    val maintained = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!maintained.exists { case (u, w) => delSet(u) || delSet(w) },
      "re-basing resurrected folded tombstones into the maintained graph")
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // v28: the oracled serving entry
  // ---------------------------------------------------------------

  test("v28_streaming_serve (the oracled serving entry) is " +
      "row-identical to v27's batch lifecycle search, and its oracle " +
      "SQL is registered") {
    val v28 = searchRows(
      SparkEntry.queries("v28_streaming_serve")(spark, sf))
    val v27 = searchRows(
      SparkEntry.queries("v27_lifecycle_search")(spark, sf))
    PersistRegistry.release()
    assert(v28.nonEmpty, "the serving entry must return results")
    assert(v28 === v27,
      "the streamed-then-served state must equal the batch rule")
    assert(SparkEntry.oracleSql.contains("v28_streaming_serve"),
      "the serving entry must carry a DuckDB oracle")
  }
}

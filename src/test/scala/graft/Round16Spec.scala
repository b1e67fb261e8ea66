package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.SnapshotTable

/** Round-16 items, each pinned to the verdict/advice finding it
  * closes:
  *   - the serving-read vacuum-race catch now includes
  *     java.nio.file.NoSuchFileException — the shape
  *     SnapshotTable.read actually throws on a vacuumed manifest,
  *     which does NOT extend FileNotFoundException (advice medium 1);
  *   - search() retries ONCE when a vacuum kills its pinned files
  *     MID-WALK (not just at read-resolve), returning a consistent
  *     newer-state result instead of a loud crash (verdict 4);
  *   - bootstrap()'s tombstone reseed commits BEFORE the base
  *     overwrite, so a crash between the two non-atomic commits can
  *     never resurrect folded deletions (advice low 2);
  *   - centsCache evicts entries whose index directory is gone — the
  *     bench's throwaway indexes no longer accrue dead coordinator
  *     state for the application's life (advice low 3 / verdict 6).
  *
  * The commit-backend abstraction (verdict 1) and cross-process
  * evidence (verdict 3) live in warehouse.CommitBackendSpec.
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val insBatch = emb
    .filter(SimilarityQueries.v21BatchFilter)
    .select("vec_id", "embedding", "label")
  private lazy val delBatch = emb
    .filter(SimilarityQueries.v23DeleteFilter)
    .select("vec_id")

  private def smallIndex(): String = {
    val idx = tmp("graft-r16-idx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
    StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L)
    idx
  }

  private def searchQueries = emb
    .filter(col("vec_id") < 20 && pmod(col("vec_id"), lit(97)) =!= 0)
    .select("vec_id", "embedding")

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  // ---------------------------------------------------------------
  // advice medium: the vacuumed-manifest read shape is caught
  // ---------------------------------------------------------------

  test("SnapshotTable.read on a vacuumed version throws " +
      "NoSuchFileException (not FileNotFoundException) and the " +
      "serving retry classifier recognizes it — bare, wrapped, and " +
      "nested; bound violations and real failures stay un-retried") {
    import spark.implicits._
    val tab = tmp("graft-r16-nsf-") + "/t"
    SnapshotTable.overwrite(spark, Seq(1L).toDF("x"), tab, Some("a"))
    SnapshotTable.overwrite(spark, Seq(2L).toDF("x"), tab, Some("b"))
    SnapshotTable.vacuum(tab, keepVersions = 1)
    val e = intercept[Exception] { SnapshotTable.read(spark, tab, 0) }
    assert(e.isInstanceOf[java.nio.file.NoSuchFileException],
      s"the vacuumed-manifest read shape changed: ${e.getClass}")
    assert(LifecycleIndex.isMissingFileFailure(e),
      "the retry classifier must catch the shape reads actually throw")
    // executor-wrapped shapes (what a mid-walk task failure looks like)
    assert(LifecycleIndex.isMissingFileFailure(
      new org.apache.spark.SparkException("job aborted",
        new java.io.FileNotFoundException("part-0000.parquet"))))
    assert(LifecycleIndex.isMissingFileFailure(
      new RuntimeException("outer",
        new java.nio.file.NoSuchFileException("v00000.manifest"))))
    // NON-missing-file failures must propagate, not retry
    assert(!LifecycleIndex.isMissingFileFailure(
      new IllegalArgumentException("query set exceeds the 4096 bound")))
    assert(!LifecycleIndex.isMissingFileFailure(
      new org.apache.spark.SparkException("arithmetic overflow")))
  }

  // ---------------------------------------------------------------
  // verdict 4: retry-once on a vacuum landing MID-WALK
  // ---------------------------------------------------------------

  test("a vacuum that deletes the pinned serving files MID-WALK " +
      "(after the attempt resolved and read its version) fails the " +
      "attempt, and search() retries once against the then-current " +
      "state — identical rows, no loud crash") {
    import spark.implicits._
    val idx = smallIndex()
    val first = searchRows(
      LifecycleIndex.search(spark, sf, idx, searchQueries))
    val sTab = LifecycleIndex.servingTab(idx)
    val junk = Seq((0L, 0L), (1L, 0L)).toDF("vec_id", "neighbor_id")
    val fired = new AtomicBoolean(false)
    // the race, landed deterministically through the seam: the NEXT
    // attempt pins and reads its serving version, then two newer
    // states commit and the vacuum deletes the pinned files before
    // the walk's first job scans them
    LifecycleIndex.midSearchTestHook = Some { () =>
      if (fired.compareAndSet(false, true)) {
        SnapshotTable.overwrite(spark, junk, sTab, Some("newer-state-1"))
        SnapshotTable.overwrite(spark, junk, sTab, Some("newer-state-2"))
        SnapshotTable.vacuum(sTab, keepVersions = 2)
        ()
      }
    }
    try {
      val again = searchRows(
        LifecycleIndex.search(spark, sf, idx, searchQueries))
      assert(fired.get(), "the race never fired — the seam moved")
      assert(again === first,
        "the retried search must rematerialize the SAME index state " +
        "and return identical rows")
    } finally LifecycleIndex.midSearchTestHook = None
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // advice low: bootstrap's two commits are crash-consistent
  // ---------------------------------------------------------------

  test("bootstrap() reseeds the tombstone delta BEFORE swapping the " +
      "base: the reseed alone (a bootstrap that crashed between its " +
      "two commits) leaves the maintained graph unchanged, and " +
      "re-running bootstrap completes the re-base with every folded " +
      "deletion still dead") {
    val idx = tmp("graft-r16-boot-")
    // delete-only index whose auto-fold BAKED the tombstones into the
    // (inferred) base — the state where a base swap without a reseed
    // resurrects them
    StreamingGraphDelete.deleteEpoch(spark, delBatch, sf, idx, 0L,
      foldAt = 1L)
    val pre = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // CRASH WINDOW: exactly what bootstrap() commits first — the
    // delta reseed from the cumulative retired set — with the base
    // swap never landing. Pruning ids the current base already folded
    // out must be a no-op (the order's safety argument).
    SnapshotTable.overwrite(spark,
      SnapshotTable.read(spark, LifecycleIndex.retiredTab(idx))
        .select("vec_id").distinct().repartition(1),
      LifecycleIndex.delTab(idx), Some("bootstrap-reseed"))
    val mid = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(mid === pre,
      "the reseed-first crash window must not change the maintained " +
      "graph (over-complete tombstones are idempotent)")
    // recovery = re-run bootstrap (the documented cure): the re-base
    // completes, folded deletions stay dead, inserts flow again
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val delSet = delBatch.collect().map(_.getLong(0)).toSet
    val cured = LifecycleIndex.maintainedEdges(spark, sf, idx)
      .select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!cured.exists { case (u, w) => delSet(u) || delSet(w) },
      "the completed re-base resurrected folded deletions")
    StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx, 0L)
    assert(SnapshotTable.committedMetas(LifecycleIndex.edgesTab(idx))
      .contains("ins:batch=0"))
    PersistRegistry.release()
  }

  // ---------------------------------------------------------------
  // verdict stretch 8: d18's hot-band salt split is output-invariant
  // ---------------------------------------------------------------

  test("d18's hot-band salt split engages on a planted boilerplate " +
      "band (above the pair-product threshold) and is OUTPUT-INVARIANT: " +
      "salted and unsalted runs equal each other and brute force") {
    import spark.implicits._
    // 300 docs sharing the 3-token boilerplate prefix + equal-length
    // unique 4th tokens — one (m, i, seg) band of 300 for the
    // boilerplate segments, the adversary the retired d18 skew drill
    // planted at 50x scale
    val planted = (0 until 300).map { i =>
      val tok = f"u$i%07d"
      (1000L + i, s"terms of service $tok trailing words here")
    }
    val organic = Seq(
      (1L, "alpha beta gamma delta tail"),
      (2L, "quick brown fox jumps over"))
    val docs = (planted ++ organic).toDF("doc_id", "text")
    val dir = tmp("graft-r16-d18skew-")
    docs.coalesce(1).write.parquet(s"$dir/documents.parquet")
    // the lever's regime guard correctly disengages when a side is
    // broadcastable (a BHJ has no reducers to skew) — force the
    // shuffled regime, and lower the pair-product threshold so this
    // SMALL corpus's 300² = 90k-pair band actually exercises the
    // salt path, exactly like the 50x drill's 4M-pair band does at
    // the default threshold. The unsalted reference runs at the
    // default threshold (10^6 pairs), which the band does not reach.
    // Returns (rows, whether the plan carries the salt).
    def run(pairThreshold: Option[String]) = {
      val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      pairThreshold.foreach(
        spark.conf.set("spark.graft.d18.saltPairThreshold", _))
      try {
        val df = SparkEntry.queries("d18_editdistance_neardup")(spark, dir)
        (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .toSeq.sorted,
          df.queryExecution.executedPlan.toString.contains("__salt"))
      } finally {
        spark.conf.unset("spark.graft.d18.saltPairThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      }
    }
    val (salted, saltedPlan) = run(Some("10000"))
    val (unsalted, unsaltedPlan) = run(None)
    assert(saltedPlan, "the planted band must engage the salt split")
    assert(!unsaltedPlan,
      "the default threshold must leave the spec band unsalted")
    assert(salted === unsalted,
      "the salt lever must not change the output")
    // brute force over the planted corpus
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
    assert(salted === want,
      "the salted path must stay EXACT for ed <= 3")
    assert(salted.nonEmpty,
      "zero-padded planted tokens must yield some ed<=3 pairs — the " +
      "band must actually exercise the verification")
  }

  // ---------------------------------------------------------------
  // advice low / verdict 6: centsCache bounded by live index dirs
  // ---------------------------------------------------------------

  private def deleteRec(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
  }

  test("the serving centroid cache evicts entries whose index " +
      "directory was deleted: two throwaway-index sweeps leave no " +
      "dead entries, only the surviving index's one") {
    def freshIndex(): String = {
      val idx = tmp("graft-r16-cache-")
      LifecycleIndex.bootstrap(spark, idx,
        SimilarityQueries.insertFreeBaseGraph(spark, sf))
      idx
    }
    // two throwaway sweeps (what v28 leaves behind)
    val dead = (1 to 2).map { _ =>
      val idx = freshIndex()
      LifecycleIndex.search(spark, sf, idx, searchQueries).count()
      assert(LifecycleIndex.centroids.entries.keySet.exists(_.dir == idx),
        "a served index must hold a centroid entry")
      deleteRec(idx)
      idx
    }
    // the next search on a LIVE index sweeps the dead entries
    val live = freshIndex()
    LifecycleIndex.search(spark, sf, live, searchQueries).count()
    val keys = LifecycleIndex.centroids.entries.keySet.map(_.dir)
    assert(dead.forall(d => !keys.exists(_.endsWith(d))),
      s"dead index entries survived eviction: $keys")
    assert(keys.exists(_.endsWith(live)),
      "the live index's entry must survive")
    PersistRegistry.release()
  }

  test("the streaming-insert quantizer cache evicts entries whose " +
      "corpus dir is gone, keeping the live corpus's entry — the " +
      "stream-side analog of the serving cache's bound") {
    import scala.jdk.CollectionConverters._
    // a throwaway COPY of the corpus: the quantizer cache is keyed by
    // corpus dir, so a spec/bench fixture corpus leaves a dead entry
    val corp = tmp("graft-r16-scorp-")
    val src = Paths.get(s"$sf/embeddings.parquet")
    val dst = Paths.get(s"$corp/embeddings.parquet")
    if (Files.isDirectory(src)) {
      Files.createDirectories(dst)
      Files.list(src).iterator().asScala.foreach { p =>
        Files.copy(p, dst.resolve(p.getFileName.toString))
      }
    } else Files.copy(src, dst) // single-file parquet fixture
    val idx = tmp("graft-r16-scidx-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, corp))
    val batch = spark.read.parquet(s"$corp/embeddings.parquet")
      .filter(SimilarityQueries.v21BatchFilter)
      .select("vec_id", "embedding", "label")
    StreamingGraphInsert.insertEpoch(spark, batch, corp, idx, 0L)
    assert(SimilarityQueries.streamCentroids.entries.keySet.map(_.dir)
      .exists(_.contains(corp)),
      "an insert epoch must hold its corpus's quantizer entry")
    deleteRec(corp)
    // an epoch against the LIVE corpus sweeps the dead entry
    val idx2 = tmp("graft-r16-scidx2-")
    LifecycleIndex.bootstrap(spark, idx2,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphInsert.insertEpoch(spark, insBatch, sf, idx2, 0L)
    val keys = SimilarityQueries.streamCentroids.entries.keySet.map(_.dir)
    assert(!keys.exists(_.contains(corp)),
      s"dead corpus entry survived eviction: $keys")
    assert(keys.exists(_.contains(sf)),
      "the live corpus's entry must survive")
    PersistRegistry.release()
  }
}

package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Ledger, PersistRegistry, Resident, TestSpark}
import graft.streaming.{LifecycleIndex, StreamingGraphDelete,
  StreamingGraphInsert}

/** The held walk (WalkGraph: the corpus and graph on the driver)
  * against the per-hop walk (one key-pruned fetch job a hop) on the
  * same inputs: the same rows and the same recorded knobs for the
  * batch walks, a stream insert epoch and serving searches in every
  * serve mode; the same hub failures; and each cap declining its fill
  * before anything is read, the walk then fetching per hop. */
class WalkGraphSpec extends AnyFunSuite {
  private object Aqe extends
    org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import TestSpark._

  type Row4 = (Long, Long, Double, Int)

  private def rows(df: DataFrame): Seq[Row4] =
    df.select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("rank").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSeq.sorted

  private def knobs() = new AtomicReference[(Int, Int)]((0, 0))

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  /** A frame whose evaluation fails: proves a fill never read it. */
  private def untouchable(cols: (String, String)*): DataFrame =
    spark.range(1).select(cols.map { case (c, t) =>
      raise_error(lit(s"$c was read")).cast(t).as(c) }: _*)

  /** The batch walk held and per hop: equal rows and knobs, and the
    * held walk runs fewer Spark jobs. */
  private def assertBatchSame(name: String,
      walk: (AtomicReference[(Int, Int)], WalkGraph.Caps) => DataFrame)
      : Seq[Row4] = {
    walk(knobs(), WalkGraph.DefaultCaps).count() // commits the snapshots
    val (hk, pk) = (knobs(), knobs())
    val (held, heldCost) = Ledger.measure(spark, s"$name-held")(
      rows(walk(hk, WalkGraph.DefaultCaps)))
    val (perHop, hopCost) = Ledger.measure(spark, s"$name-per-hop")(
      rows(walk(pk, WalkGraph.PerHop)))
    assert(held.nonEmpty, name)
    assert(held === perHop, s"$name: held and per-hop rows differ")
    assert(hk.get === pk.get, s"$name: recorded knobs differ")
    assert(heldCost.jobs < hopCost.jobs,
      s"$name: held walk ran ${heldCost.jobs} jobs, per hop ${hopCost.jobs}")
    PersistRegistry.release()
    held
  }

  test("v20, v21 and v26 batch walks: the held walk returns the per-hop " +
      "rows and records the same knobs, with fewer jobs") {
    import SimilarityQueries._
    val v20 = assertBatchSame("v20", (k, c) => graphBeamWalk(spark, sf,
      col("vec_id") < Q, lit(true), "knn-graph", k, maxQ = Q, caps = c))
    assertBatchSame("v21", (k, c) => graphBeamWalk(spark, sf,
      v21BatchFilter, !v21BatchFilter, "knn-graph-base", k, maxQ = 64,
      centsTag = "base", caps = c))
    assertBatchSame("v26", (k, c) => graphBeamWalk(spark, sf,
      col("vec_id") < Q, lit(true), "knn-graph", k, maxQ = Q,
      resultKeep = _ % 3 == 0, sizeKnobs = v26SizeKnobs, caps = c))
    // the query itself takes the held path and records the same knobs
    val pk = knobs()
    graphBeamWalk(spark, sf, col("vec_id") < Q, lit(true), "knn-graph", pk,
      maxQ = Q, caps = WalkGraph.PerHop).count()
    assert(rows(graft.SparkEntry.queries("v20_graph_beam_search")(spark,
      sf)) === v20)
    assert(v20Knobs.get === pk.get)
    PersistRegistry.release()
  }

  test("a stream insert epoch's walk: held and per hop give the same " +
      "edges and knobs") {
    import spark.implicits._
    val qrows = DedupQueries.quantized(spark, sf)
      .filter(SimilarityQueries.v21BatchFilter)
      .select("vec_id", "r", "nn").as[(Long, Array[Long], Long)].collect()
    def walk(caps: WalkGraph.Caps) =
      SimilarityQueries.streamInsertEdges(spark, sf, qrows, caps)
    def epoch(caps: WalkGraph.Caps) =
      (rows(walk(caps)), SimilarityQueries.v21Knobs.get)
    val perHop = epoch(WalkGraph.PerHop)
    val held = epoch(WalkGraph.DefaultCaps)
    assert(SimilarityQueries.streamWalks.get(Resident.key(spark, sf))
      .isDefined, "the epoch must hold its walk graph")
    assert(held._1.nonEmpty && held === perHop)
    // the next held epoch reads the held graph and runs no walk job
    val (out, cost) = Ledger.measure(spark, "held-epoch")(
      walk(WalkGraph.DefaultCaps))
    assert(cost.jobs === 0L, s"a held insert walk ran ${cost.jobs} jobs")
    assert((rows(out), SimilarityQueries.v21Knobs.get) === held)
    PersistRegistry.release()
  }

  test("serving searches in adopt, delta and full mode and after a " +
      "fold, over a corpus with retired ids and edges to corpus-absent " +
      "nodes: held and per hop give the same rows and knobs") {
    import spark.implicits._
    def fresh(): String = {
      val idx = Files.createTempDirectory("graft-walk-eq-").toString
      LifecycleIndex.bootstrap(spark, idx,
        SimilarityQueries.insertFreeBaseGraph(spark, sf))
      idx
    }
    val (held, perHop) = (fresh(), fresh())
    val queries = emb.filter(col("vec_id") < 40).select("vec_id", "embedding")
    // inserted ids no corpus row carries: their edges reach nodes the
    // walk corpus does not have
    val inserts = emb.filter(pmod(col("vec_id"), lit(13)) === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
        col("label"))
    val deletes = emb.filter(pmod(col("vec_id"), lit(11)) === 1)
      .select("vec_id")
    val modes = scala.collection.mutable.Buffer.empty[String]
    def both(): Unit = for (_ <- 1 to 2) {
      val h = rows(LifecycleIndex.searchWith(spark, sf, held, queries, 4096,
        WalkGraph.DefaultCaps))
      val hk = LifecycleIndex.searchKnobs.get
      val hm = LifecycleIndex.lastServeModeFor(held)
      val p = rows(LifecycleIndex.searchWith(spark, sf, perHop, queries,
        4096, WalkGraph.PerHop))
      assert(LifecycleIndex.lastServeModeFor(perHop) === hm)
      assert(h.nonEmpty && h === p, s"mode $hm: rows differ")
      assert(hk === LifecycleIndex.searchKnobs.get, s"mode $hm: knobs differ")
      modes += hm
      PersistRegistry.release()
    }
    both()
    for (idx <- Seq(held, perHop))
      StreamingGraphInsert.insertEpoch(spark, inserts, sf, idx, 0L)
    both()
    for (idx <- Seq(held, perHop))
      StreamingGraphDelete.deleteEpoch(spark, deletes, sf, idx, 0L)
    both()
    for (idx <- Seq(held, perHop))
      LifecycleIndex.foldTombstones(spark, sf, idx)
    both()
    assert(Set("full", "delta", "adopt").subsetOf(modes.toSet),
      s"serve modes covered: $modes")
    // the held index really walked held state, with retired ids out of
    // its corpus and inserted neighbours absent from it
    val w = LifecycleIndex.servingWalks.get(Resident.key(spark, held)).get
    assert(w.tag != "-" && w.value.adj.isDefined)
    val retired = deletes.as[Long].collect().toSet
    assert(w.value.corpus.vectors(retired).isEmpty)
    assert(w.value.corpus.vectors(Set(1000000L)).isEmpty &&
      w.value.adj.get._2.edges(Set(1000000L)).nonEmpty)
    Seq(held, perHop).foreach(Resident.release)
  }

  // one 64-dimensional vector pointing along axis `a`, nudged by `b`
  private def vec(a: Int, b: Int): Array[Long] = {
    val r = new Array[Long](64)
    r(a) = 10000L
    r(b) += 100L
    r
  }

  /** Cells 0 (the hub 0 alone), 1 (600 spokes 1..600, each an edge of
    * the hub), 2 (a ring 1001..1010 reaching nothing else) and 3 (seeds
    * 2001..2004, where 2001's neighbour is the second hub 2100 — not a
    * seed, closest to its queries — with 600 spokes 3001..3600 in cell
    * 4). */
  private lazy val hubWorld: (DataFrame, DataFrame) = {
    import spark.implicits._
    val vecs = Seq((0L, 0, vec(0, 1))) ++
      (1L to 600L).map(i => (i, 1, vec(1, (i % 60).toInt + 2))) ++
      (1001L to 1010L).map(i => (i, 2, vec(2, (i % 50).toInt + 3))) ++
      (2001L to 2004L).map(i => (i, 3, vec(3, (i - 1996).toInt))) ++
      Seq((2100L, 3, vec(3, 4))) ++
      (3001L to 3600L).map(i => (i, 4, vec(4, (i % 50).toInt + 5)))
    val n = vecs.map { case (i, l, r) => (i, l, r, r.map(x => x * x).sum) }
      .toDF("vec_id", "label", "r", "nn")
    val edges = (1L to 600L).map(i => (0L, i)) ++
      (1001L to 1010L).map(i => (i, if (i == 1010L) 1001L else i + 1)) ++
      Seq((2001L, 2100L), (2001L, 2002L)) ++
      (3001L to 3600L).map(i => (2100L, i))
    (n, edges.toDF("vec_id", "neighbor_id"))
  }

  private def hubWalk(q: Array[Long], caps: WalkGraph.Caps,
      beam: Int): Try[Seq[Row4]] = {
    val (n, gd) = hubWorld
    val graph = WalkGraph.fill(n, n.count(),
      SimilarityQueries.symmetrized(gd), 2 * gd.count(), caps)
    assert(graph.isDefined === (caps == WalkGraph.DefaultCaps))
    val qrows = Array((-1L, q, q.map(x => x * x).sum))
    val out = Try(rows(SimilarityQueries.beamWalkCore(spark, n, qrows, gd,
      knobs(), 1, sizeKnobs = _ => (3, beam), graph = graph)))
    PersistRegistry.release()
    out
  }

  test("a planted 600-edge hub fails a walk that reaches it with the " +
      "same message on both paths, and no walk that never reaches it") {
    def same(q: Array[Long], beam: Int): Try[Seq[Row4]] = {
      val held = hubWalk(q, WalkGraph.DefaultCaps, beam)
      val perHop = hubWalk(q, WalkGraph.PerHop, beam)
      assert(held.isSuccess === perHop.isSuccess)
      if (held.isSuccess) assert(held.get === perHop.get)
      else assert(held.failed.get.getMessage === perHop.failed.get.getMessage)
      held
    }
    // the hub is the only seed of its cell: its fetch alone holds 600
    val fetch = same(vec(0, 1), beam = 4)
    assert(fetch.failed.get.getMessage.contains("per-fetch edge bound"))
    // the second hub comes in with other sources (that fetch is within
    // its bound) and then makes a beam of its own
    val hop = same(vec(3, 4), beam = 1)
    assert(hop.failed.get.getMessage.contains("per-hop edge bound"))
    // the ring never reaches a hub: the held graph holding both hubs
    // does not fail it
    assert(same(vec(2, 3), beam = 4).get.nonEmpty)
  }

  test("each cap declines its fill before anything is read, and the walk " +
      "then fetches per hop and returns the same rows") {
    val caps = WalkGraph.Caps(100, 100)
    val n = untouchable("vec_id" -> "bigint", "label" -> "int",
      "r" -> "array<bigint>", "nn" -> "bigint")
    val g = untouchable("vec_id" -> "bigint", "neighbor_id" -> "bigint")
    assert(WalkGraph.corpus(n, 101, caps).isEmpty)
    assert(WalkGraph.adjacency(g, 101, caps).isEmpty)
    assert(WalkGraph.fill(n, 100, g, 101, caps).isEmpty)
    assert(WalkGraph.fill(n, 101, g, 100, caps).isEmpty)
    assert(Try(WalkGraph.corpus(n, 100, caps)).isFailure,
      "a frame within the cap is read")
    // the corpus bound is the embeddings' footer row count, the graph's
    // twice the snapshot's: one below either declines the held walk
    val nBound = WalkGraph.corpusBound(spark, sf)
    assert(nBound === emb.count())
    val gBound = 2 * WalkGraph.footerRows(
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    import SimilarityQueries._
    def v21(c: WalkGraph.Caps) = rows(graphBeamWalk(spark, sf,
      v21BatchFilter, !v21BatchFilter, "knn-graph-base", knobs(),
      maxQ = 64, centsTag = "base", caps = c))
    val want = v21(WalkGraph.DefaultCaps)
    for (c <- Seq(WalkGraph.Caps(nBound - 1, gBound),
        WalkGraph.Caps(nBound, gBound - 1))) {
      val (got, cost) = Ledger.measure(spark, "past-cap")(v21(c))
      assert(got === want, s"caps $c")
      val (_, heldCost) = Ledger.measure(spark, "in-cap")(
        v21(WalkGraph.Caps(nBound, gBound)))
      assert(cost.jobs > heldCost.jobs, s"caps $c must take the per-hop walk")
    }
    // serving: past either cap the search walks per hop, same rows
    val idx = Files.createTempDirectory("graft-walk-cap-").toString
    LifecycleIndex.bootstrap(spark, idx, insertFreeBaseGraph(spark, sf))
    val queries = emb.filter(col("vec_id") < 20).select("vec_id", "embedding")
    val served = rows(LifecycleIndex.search(spark, sf, idx, queries))
    val sv = graft.warehouse.SnapshotTable.currentVersionOf(
      LifecycleIndex.servingTab(idx)).get
    val sRows = graft.warehouse.SnapshotTable.read(spark,
      LifecycleIndex.servingTab(idx), sv).count()
    for (c <- Seq(WalkGraph.Caps(nBound - 1, sRows),
        WalkGraph.Caps(nBound, sRows - 1))) {
      Resident.release(idx)
      assert(rows(LifecycleIndex.searchWith(spark, sf, idx, queries, 4096,
        c)) === served, s"caps $c")
      val held = LifecycleIndex.servingWalks.get(Resident.key(spark, idx))
      assert(held.forall(_.value.adj.isEmpty), s"caps $c held a graph")
    }
    Resident.release(idx)
    PersistRegistry.release()
  }

  test("the repair's survivor fetch pushes its id predicate into the " +
      "embeddings scan") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft-walk-push-").toString
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    StreamingGraphDelete.deleteEpoch(spark,
      emb.filter(pmod(col("vec_id"), lit(97)) === 0).select("vec_id"),
      sf, idx, 0L)
    val plans = scala.collection.mutable.Buffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.synchronized {
        plans += Aqe.collect(qe.executedPlan) {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths
                .exists(_.toString.contains("embeddings")) =>
            s.metadata.getOrElse("PushedFilters", "")
        }.mkString("\n")
      }
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try LifecycleIndex.maintainedEdges(spark, sf, idx).as[(Long, Long)]
      .collect()
    finally {
      org.apache.spark.sql.graft.GraftSqlShims
        .drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    val scans = plans.flatMap(_.split("\n")).filter(_.nonEmpty)
    assert(scans.nonEmpty, "the repair read no embeddings")
    assert(scans.forall(_.contains("vec_id")),
      s"an embeddings scan of the repair kept every row: $scans")
    Resident.release(idx)
    PersistRegistry.release()
  }

  test("the footer read is a FileSystem call: a vanished file fails it " +
      "with the missing-file shape the serving retry absorbs, a store " +
      "fault propagates") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.faultfs.impl", classOf[graft.FaultFs].getName)
    val dir = Files.createTempDirectory("graft-walk-footer-").toString
    Seq(1L, 2L, 3L).toDF("x").coalesce(1).write.parquet(s"$dir/t")
    val file = "faultfs:" + Files.list(java.nio.file.Paths.get(s"$dir/t"))
      .iterator().asScala.map(_.toString).find(_.endsWith(".parquet")).get
    assert(graft.sources.Parquet.footerRows(spark, Seq(file)) === 3L)
    try {
      graft.FaultFs.arm("getFileStatus", "/t/")
      val gone = intercept[java.io.FileNotFoundException](
        graft.sources.Parquet.footerRows(spark, Seq(file)))
      assert(graft.FaultFs.hits.get() > 0)
      assert(LifecycleIndex.isMissingFileFailure(gone))
      graft.FaultFs.arm("getFileStatus", "/t/", notFound = false)
      val fault = intercept[java.io.IOException](
        graft.sources.Parquet.footerRows(spark, Seq(file)))
      assert(!LifecycleIndex.isMissingFileFailure(fault))
    } finally graft.FaultFs.disarm()
  }
}

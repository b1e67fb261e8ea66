package graft

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.streaming.{LifecycleIndex, StreamingGraphDelete, StreamingGraphInsert}
import graft.warehouse.SnapshotTable

/** Round-16 verdict 3, the index-level half: TWO JVMs maintaining ONE
  * lifecycle index — a second SparkSession in its own process
  * (streaming.LifecycleContender) repeatedly FOLDS the index while
  * this process streams insert and delete epochs into it. The
  * in-process specs proved the pinned-CAS loud-failure contract
  * between threads; the deployment shape is separate processes whose
  * only shared state is the table directory, which is exactly what
  * this spec exercises. The invariants:
  *
  *   - every cross-process collision is LOUD (IllegalStateException
  *     on one side — counted by both; epochs retry, exactly like a
  *     streaming runtime re-delivers a failed micro-batch, and folds
  *     retry at their next trigger);
  *   - the drained index equals v27's composed batch rule
  *     row-for-row — folds are semantically no-ops, so ANY
  *     interleaving of epochs and cross-process folds that ends
  *     drained must land on the same graph: nothing clobbered,
  *     nothing lost, nothing resurrected;
  *   - the exactly-once ledger holds across re-deliveries: every
  *     epoch's meta appears EXACTLY once among committed versions.
  */
class LifecycleCrossProcessSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def edgeSet(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  // the same wave split StreamingLifecycleSpec drains in-process —
  // union of waves = the full v21 insert set / v23 delete set, so the
  // drained state must equal lifecycleMaintainedGraph
  private lazy val insertWaves: Seq[org.apache.spark.sql.DataFrame] = {
    val schema = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label").schema
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 89 === 0)
      .select("vec_id", "embedding", "label").collect()
    rows.grouped(math.max(rows.length / 3, 1)).map(chunk =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toIndexedSeq), schema))
      .toSeq
  }

  private lazy val deleteWaves: Seq[org.apache.spark.sql.DataFrame] = {
    import spark.implicits._
    val dels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 97 === 0)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    dels.grouped(math.max(dels.length / 3, 1))
      .map(_.toSeq.toDF("vec_id")).toSeq
  }

  // a forked Spark child needs the same JDK-17 module opens the test
  // JVM itself runs with (build.sbt's javaOptions)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  test("a SECOND PROCESS folding the index while this one streams " +
      "epochs: collisions are loud on both sides, every epoch applies " +
      "exactly once, and the drained state equals v27's composed " +
      "batch rule") {
    val idx = tmp("graft-xproc-lc-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g", "-cp",
      System.getProperty("java.class.path"),
      "graft.streaming.LifecycleContender", sf, idx, "12")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val child = pb.start()

    // retry-on-loud-collision, the documented deployment behavior: a
    // pinned CAS loser throws with nothing clobbered, and the
    // exactly-once ledger makes re-delivery safe
    var parentCollisions = 0
    def retried(body: => Unit): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        attempts += 1
        assert(attempts <= 60, "epoch never won against the folder")
        try { body; done = true }
        catch {
          case _: IllegalStateException =>
            parentCollisions += 1
            Thread.sleep(120)
        }
      }
    }
    val schedule: Seq[(Boolean, Int)] =
      (0 until math.max(insertWaves.length, deleteWaves.length))
        .flatMap(i =>
          Seq(true -> i).filter(_ => i < insertWaves.length) ++
            Seq(false -> i).filter(_ => i < deleteWaves.length))
    // GENUINE overlap: a child Spark JVM takes ~20 s to boot — stream
    // the first epoch, then hold until the child's first fold lands
    // (the base version advances) so the remaining epochs race live
    // cross-process folds rather than an unstarted process
    retried(StreamingGraphInsert.insertEpoch(spark,
      insertWaves.head, sf, idx, 0L))
    val bTab = LifecycleIndex.baseTab(idx)
    val vBase0 = SnapshotTable.currentVersionOf(bTab)
    val t0 = System.currentTimeMillis()
    while (SnapshotTable.currentVersionOf(bTab) == vBase0 &&
        child.isAlive && System.currentTimeMillis() - t0 < 120000)
      Thread.sleep(100)
    assert(SnapshotTable.currentVersionOf(bTab) != vBase0,
      "the child never folded — no cross-process overlap to test")
    schedule.drop(1).foreach {
      case (true, i) =>
        retried(StreamingGraphInsert.insertEpoch(spark,
          insertWaves(i), sf, idx, i.toLong))
        Thread.sleep(80)
      case (false, i) =>
        retried(StreamingGraphDelete.deleteEpoch(spark,
          deleteWaves(i), sf, idx, i.toLong))
        Thread.sleep(80)
    }
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(300, TimeUnit.SECONDS), s"child timed out:\n$out")
    assert(child.exitValue() === 0, s"child process failed:\n$out")
    val m = "CONTENDER folds_ok=(\\d+) collisions=(\\d+)".r
      .findFirstMatchIn(out)
    assert(m.isDefined, s"child summary missing:\n$out")
    val foldsOk = m.get.group(1).toInt
    assert(foldsOk >= 1,
      s"the second process must complete at least one fold " +
      s"($out; parent collisions=$parentCollisions)")
    // drained equality: folds are semantic no-ops, so the composed
    // rule must hold whatever interleaving the two processes produced
    val got = edgeSet(LifecycleIndex.maintainedEdges(spark, sf, idx))
    val want =
      edgeSet(SimilarityQueries.lifecycleMaintainedGraph(spark, sf))
    PersistRegistry.release()
    assert(got === want,
      s"cross-process folds corrupted the drained state (child: $out, " +
      s"parent collisions: $parentCollisions)")
    // exactly-once across retries: each epoch's ledger line appears
    // exactly once among committed versions of its stream's table
    val insMetas = SnapshotTable.committedMetas(
      LifecycleIndex.edgesTab(idx))
    val delMetas = SnapshotTable.committedMetas(
      LifecycleIndex.delTab(idx))
    insertWaves.indices.foreach { i =>
      assert(insMetas.count(_ == s"ins:batch=$i") === 1,
        s"insert epoch $i must commit exactly once ($insMetas)")
    }
    deleteWaves.indices.foreach { i =>
      assert(delMetas.count(_ == s"del:batch=$i") === 1,
        s"delete epoch $i must commit exactly once ($delMetas)")
    }
  }

  // ---------------------------------------------------------------
  // round-17 verdict 1: serving vs maintenance+vacuum, cross-process
  // ---------------------------------------------------------------

  private def searchRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  /** The index-state tag search() captures — the four state tables'
    * CURRENT versions (same format as the serving meta tag). */
  private def tag4(idx: String): String =
    Seq(LifecycleIndex.baseTab(idx), LifecycleIndex.edgesTab(idx),
        LifecycleIndex.delTab(idx), LifecycleIndex.retiredTab(idx))
      .map(t => SnapshotTable.currentVersionOf(t)
        .map(_.toString).getOrElse("-")).mkString("_")

  test("a serve whose serving write fails after another serving " +
      "process committed the same state adopts that snapshot") {
    import graft.streaming.ServeVacuumContender
    val (idx, rep) = (tmp("graft-xproc-adopt-"), tmp("graft-xproc-adrep-"))
    Seq(idx, rep).foreach { i =>
      LifecycleIndex.bootstrap(spark, i,
        SimilarityQueries.insertFreeBaseGraph(spark, sf))
      ServeVacuumContender.advance(spark, sf, i, 0)
    }
    val q = ServeVacuumContender.queries(spark, sf)
    val expected = searchRows(LifecycleIndex.search(spark, sf, rep, q))
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    // the other process serves the state first, then its sweep takes
    // this attempt's write before the commit
    LifecycleIndex.materializeTestHook = Some { () =>
      if (fired.compareAndSet(false, true)) {
        val other = new Thread(() =>
          LifecycleIndex.search(spark, sf, idx, q).count(): Unit)
        other.start()
        other.join()
        throw new java.io.IOException("serving write swept mid-commit")
      }
    }
    val rows =
      try searchRows(LifecycleIndex.search(spark, sf, idx, q))
      finally LifecycleIndex.materializeTestHook = None
    assert(fired.get())
    assert(LifecycleIndex.lastServeModeFor(idx) === "adopt")
    assert(rows === expected)
    PersistRegistry.release()
  }

  test("a SECOND PROCESS advancing the index state and VACUUMING the " +
      "serving table while this one loops search(): the mid-walk " +
      "vacuum race is absorbed by the retry-once, and every " +
      "stable-state result equals the quiescent search of exactly " +
      "that state — no torn result, no unbounded retry") {
    import graft.streaming.ServeVacuumContender
    val idx = tmp("graft-xproc-sv-")
    val rep = tmp("graft-xproc-svrep-")
    LifecycleIndex.bootstrap(spark, idx,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    LifecycleIndex.bootstrap(spark, rep,
      SimilarityQueries.insertFreeBaseGraph(spark, sf))
    val q = ServeVacuumContender.queries(spark, sf)
    val nAdv = 6
    // the quiescent truth: replay the child's deterministic advance
    // schedule on a REPLICA index and record each state's search rows
    // keyed by its state tag — bootstrap and epochs are deterministic,
    // so the replica's tags equal the live index's as the child lands
    // the same advances
    val expectedByTag =
      scala.collection.mutable.Map[String, Seq[(Long, Long, Int)]]()
    expectedByTag(tag4(rep)) =
      searchRows(LifecycleIndex.search(spark, sf, rep, q))
    (0 until nAdv).foreach { k =>
      ServeVacuumContender.advance(spark, sf, rep, k)
      expectedByTag(tag4(rep)) =
        searchRows(LifecycleIndex.search(spark, sf, rep, q))
    }
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ addOpens ++ Seq("-Xmx3g", "-cp",
      System.getProperty("java.class.path"),
      "graft.streaming.ServeVacuumContender", sf, idx, nAdv.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val child = pb.start()
    // hold until the child's first advance lands — genuine overlap
    val eTab = LifecycleIndex.edgesTab(idx)
    val t0 = System.currentTimeMillis()
    while (SnapshotTable.currentVersionOf(eTab).isEmpty &&
        child.isAlive && System.currentTimeMillis() - t0 < 120000)
      Thread.sleep(100)
    assert(SnapshotTable.currentVersionOf(eTab).isDefined,
      "the child never advanced the index — no overlap to test")
    // deterministic race on the FIRST search: park the walk through
    // the mid-search seam until the child's sweep (grace 0 in the
    // child's session) has materialized two newer states and deleted
    // the version this attempt pinned — then the walk's jobs hit the
    // missing files and the retry-once must absorb it. The race
    // itself is produced by the REAL second process; the seam only
    // widens this attempt's pin-to-walk window so the test need not
    // gamble on timing.
    val retriesBefore = LifecycleIndex.searchRetriesFor(idx)
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var waitSucceeded = false
    val sTab = LifecycleIndex.servingTab(idx)
    LifecycleIndex.midSearchTestHook = Some { () =>
      if (fired.compareAndSet(false, true)) {
        val v0 = SnapshotTable.currentVersionOf(sTab).getOrElse(0)
        val w0 = System.currentTimeMillis()
        while (SnapshotTable.currentVersionOf(sTab).getOrElse(0) < v0 + 2
            && child.isAlive &&
            System.currentTimeMillis() - w0 < 120000)
          Thread.sleep(50)
        waitSucceeded =
          SnapshotTable.currentVersionOf(sTab).getOrElse(0) >= v0 + 2
      }
    }
    val observed = scala.collection.mutable.Buffer[
      (String, Seq[(Long, Long, Int)], String)]()
    try {
      while (child.isAlive && observed.size < 60) {
        val t1 = tag4(idx)
        val rows = searchRows(LifecycleIndex.search(spark, sf, idx, q))
        val t2 = tag4(idx)
        observed += ((t1, rows, t2))
      }
    } finally LifecycleIndex.midSearchTestHook = None
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(300, TimeUnit.SECONDS), s"child timed out:\n$out")
    assert(child.exitValue() === 0, s"child process failed:\n$out")
    assert(out.contains(s"SVCONTENDER advances=$nAdv"),
      s"child summary missing:\n$out")
    // two quiescent searches of the final state (stable by
    // construction) anchor the comparison set
    (1 to 2).foreach { _ =>
      val t1 = tag4(idx)
      val rows = searchRows(LifecycleIndex.search(spark, sf, idx, q))
      observed += ((t1, rows, tag4(idx)))
    }
    // every search whose capture was STABLE (same state tag before
    // and after — the searches that raced an advance mid-capture are
    // judged by the final-state anchors instead) must equal the
    // replica's quiescent rows for exactly that state
    val stable = observed.filter(o =>
      o._1 == o._3 && expectedByTag.contains(o._1))
    assert(stable.size >= 3,
      s"too few stable-state searches to have teeth " +
      s"(${observed.size} total, tags ${observed.map(_._1).distinct})")
    stable.foreach { case (t, rows, _) =>
      assert(rows === expectedByTag(t),
        s"TORN RESULT: search at stable state $t diverged from the " +
        "quiescent search of that state")
    }
    val finalTag = tag4(idx)
    assert(expectedByTag.contains(finalTag) &&
      stable.exists(_._1 == finalTag),
      s"the drained state $finalTag was never verified " +
      s"(known: ${expectedByTag.keys})")
    if (waitSucceeded)
      assert(LifecycleIndex.searchRetriesFor(idx) > retriesBefore,
        "the child's sweep deleted the pinned serving version but the " +
        "retry-once never fired — the race was not absorbed")
    PersistRegistry.release()
  }
}

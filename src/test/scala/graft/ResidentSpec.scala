package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.boatrace.BoatracePipeline
import graft.operators.{BoatraceQueries, SimilarityQueries, StageSnapshots}
import graft.streaming.LifecycleIndex
import graft.warehouse.{CommitBackends, SnapshotTable}

/** Release completeness of the per-dir process registry: after
  * `Resident.release(dir)`, or a sweep that finds `dir` deleted, no
  * kind holds an entry for it and the warehouse keeps no read counter
  * or trim floor under it, while a sibling dir keeps all of its own. */
class ResidentSpec extends AnyFunSuite {
  import TestSpark.spark

  /** A dir every probe calls live — it exists, and its index base
    * table has a committed version — holding a read counter and a
    * trim floor under it. */
  private def liveDir(prefix: String): String = {
    import spark.implicits._
    val d = Files.createTempDirectory(prefix).toString
    val base = LifecycleIndex.baseTab(d)
    for (x <- 1L to 2L) SnapshotTable.overwrite(spark, Seq(x).toDF("x"), base)
    assert(SnapshotTable.read(spark, base).count() === 1L)
    SnapshotTable.vacuum(base)
    d
  }

  /** One entry of every kind for `dir`; the names of the kinds filled. */
  private def fill(dir: String): Set[String] = {
    import spark.implicits._
    val k = Resident.key(spark, dir)
    val df = spark.range(1).toDF()
    LifecycleIndex.centroids.put(k, ("-", Array.empty))
    LifecycleIndex.servingCorpus.put(k, new Resident.Corpus("-", df))
    LifecycleIndex.stats.put(k, new LifecycleIndex.ServeStats)
    SimilarityQueries.streamCentroids.put(k, Array.empty)
    SimilarityQueries.streamCorpora.put(k, new Resident.Corpus("", df))
    BoatraceQueries.parsed.put(k,
      spark.emptyDataset[BoatracePipeline.ParsedFile])
    StageSnapshots.snapshots.put(Resident.key(spark, dir, "stage"), "path")
    StageSnapshots.fingerprints.put(k, "fp")
    Set(LifecycleIndex.centroids, LifecycleIndex.servingCorpus,
      LifecycleIndex.stats, SimilarityQueries.streamCentroids,
      SimilarityQueries.streamCorpora, BoatraceQueries.parsed,
      StageSnapshots.snapshots, StageSnapshots.fingerprints).map(_.name)
  }

  /** Names of the kinds holding an entry for `dir`. */
  private def kindsHolding(dir: String): Set[String] =
    Resident.registered.filter(_.entries.keys.exists(_.dir == dir))
      .map(_.name).toSet

  private def warehouseHolds(dir: String): (Boolean, Boolean) =
    (CommitBackends.controlPlaneReadsFor(dir) > 0,
      SnapshotTable.cachedTrimFloor(LifecycleIndex.baseTab(dir)).nonEmpty)

  private def deleteRec(dir: String): Unit =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))

  test("release(dirA) leaves no entry for dirA in any kind, nor a read " +
      "counter or trim floor under it, and dirB keeps all of its own") {
    val (a, b) = (liveDir("graft-resident-a-"), liveDir("graft-resident-b-"))
    val kinds = fill(a)
    fill(b)
    assert(Resident.registered.map(_.name).toSet === kinds,
      "every kind must have an entry filled by this spec")
    assert(kindsHolding(a) === kinds && warehouseHolds(a) === (true, true))
    Resident.release(a)
    assert(kindsHolding(a) === Set.empty[String])
    assert(warehouseHolds(a) === (false, false))
    assert(kindsHolding(b) === kinds && warehouseHolds(b) === (true, true))
    Resident.release(b)
    assert(kindsHolding(b) === Set.empty[String])
  }

  test("a sweep after dirA is deleted leaves nothing for dirA and keeps " +
      "dirB's entries; entries of another application go too") {
    val (a, b) = (liveDir("graft-resident-a-"), liveDir("graft-resident-b-"))
    val kinds = fill(a)
    fill(b)
    val stopped = Resident.Key("an-application-since-stopped", b)
    LifecycleIndex.stats.put(stopped, new LifecycleIndex.ServeStats)
    deleteRec(a)
    Resident.sweep(spark)
    assert(kindsHolding(a) === Set.empty[String])
    assert(warehouseHolds(a) === (false, false))
    assert(kindsHolding(b) === kinds && warehouseHolds(b) === (true, true))
    assert(!LifecycleIndex.stats.entries.contains(stopped))
    Resident.release(b)
  }
}

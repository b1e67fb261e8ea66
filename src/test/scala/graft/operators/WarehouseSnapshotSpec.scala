package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Cross-session stage-snapshot persistence: with
  * `spark.graft.snapshotWarehouse` set, a snapshot built in one
  * session is committed through SnapshotTable's ledger and a FRESH
  * session (cold session cache) adopts it with zero recompute — the
  * 100 TB deployment shape, where the IVF index / PQ codebook build
  * dwarfs query cost and a restart must not retrain. Staleness is
  * structural: the commit carries a fingerprint of the input data
  * dir, and a changed corpus mismatches and rebuilds.
  */
class WarehouseSnapshotSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  private def newDataDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("whsnap-data")
    java.nio.file.Files.writeString(d.resolve("corpus.txt"), "v1 content")
    d.toString
  }

  test("a committed snapshot is reused by a fresh session at matching " +
      "fingerprint, and rebuilt when the corpus changes") {
    val wh = java.nio.file.Files.createTempDirectory("whsnap-root").toString
    val data = newDataDir()
    spark.conf.set("spark.graft.snapshotWarehouse", wh)
    try {
      import spark.implicits._
      var builds = 0
      def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }

      // session A: first consumer builds and commits
      val r1 = StageSnapshots.snapshot(spark, data, "test-index")(build)
        .orderBy("id").collect().map(_.getString(1)).toSeq
      assert(builds === 1)
      assert(r1 === Seq("a", "b"))

      // session A again: session cache serves it
      StageSnapshots.snapshot(spark, data, "test-index")(build).count()
      assert(builds === 1)

      // "restart": cold session cache — the warehouse commit, not the
      // builder, must satisfy the read (fingerprint matches)
      StageSnapshots.invalidateSessionCache()
      val r2 = StageSnapshots.snapshot(spark, data, "test-index")(build)
        .orderBy("id").collect().map(_.getString(1)).toSeq
      assert(builds === 1, "restarted session retrained despite a " +
        "committed snapshot at matching fingerprint")
      assert(r2 === r1)

      // corpus changes (new file in the data dir) -> fingerprint
      // mismatch -> the stale commit must NOT be adopted
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(data, "delta.txt"), "new arrivals")
      StageSnapshots.invalidateSessionCache()
      StageSnapshots.snapshot(spark, data, "test-index")(build).count()
      assert(builds === 2, "changed corpus was served a stale snapshot")

      // the rebuild committed a NEW ledger version over the stale one
      val tdirs = new java.io.File(wh).listFiles().filter(_.isDirectory)
      assert(tdirs.length === 1)
      assert(graft.warehouse.SnapshotTable.versions(
        tdirs.head.toString) === Seq(0, 1))
    } finally {
      spark.conf.unset("spark.graft.snapshotWarehouse")
      StageSnapshots.invalidateSessionCache()
    }
  }

  test("a session restarted in the same JVM rebuilds a snapshot whose " +
      "corpus changed after the first session committed it: the input " +
      "fingerprint is scoped to its application, not held per dir " +
      "across sessions") {
    val wh = java.nio.file.Files.createTempDirectory("whsnap-restart").toString
    val data = newDataDir()
    val pb = new ProcessBuilder(graft.ChildJvm.command("1g",
      "graft.operators.SnapshotRestartChild", wh, data): _*)
    pb.redirectErrorStream(true)
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      s"child timed out:\n$out")
    assert(child.exitValue() === 0, s"child failed:\n$out")
    assert(out.linesIterator.contains("BUILDS 2"),
      s"the second session adopted the old corpus's snapshot:\n$out")
  }

  test("without a warehouse, a JVM leaves none of its temp snapshots " +
      "behind at exit, the current one included") {
    val pb = new ProcessBuilder(graft.ChildJvm.command("1g",
      "graft.operators.SnapshotTempChild", newDataDir()): _*)
    pb.redirectErrorStream(true)
    val child = pb.start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
      s"child timed out:\n$out")
    assert(child.exitValue() === 0, s"child failed:\n$out")
    val made = out.linesIterator.filter(_.startsWith("SNAPSHOT ")).toSeq
    assert(made.size === 2 && made.forall(_.endsWith(" true")),
      s"the child must report two written snapshots:\n$out")
    val left = made.map(_.split(" ")(1))
      .filter(d => java.nio.file.Files.exists(java.nio.file.Paths.get(d)))
    assert(left === Nil, "temp snapshots outlived their JVM")
  }

  test("defining queries always recompute and commit a fresh version " +
      "even in warehouse mode (the honest-measurement contract)") {
    val wh = java.nio.file.Files.createTempDirectory("whsnap-root2").toString
    val data = newDataDir()
    spark.conf.set("spark.graft.snapshotWarehouse", wh)
    try {
      import spark.implicits._
      var builds = 0
      def build = { builds += 1; Seq((builds.toLong, "x")).toDF("id", "v") }

      StageSnapshots.define(spark, data, "test-def")(build).count()
      StageSnapshots.define(spark, data, "test-def")(build).count()
      assert(builds === 2, "a DEFINING query must pay its real cost")
      val tdir = new java.io.File(wh).listFiles()
        .filter(_.isDirectory).head.toString
      assert(graft.warehouse.SnapshotTable.versions(tdir) === Seq(0, 1))
      // and a later consumer (fresh session) adopts the LATEST commit
      StageSnapshots.invalidateSessionCache()
      val got = StageSnapshots.snapshot(spark, data, "test-def")(build)
        .collect().map(_.getLong(0)).toSeq
      assert(builds === 2)
      assert(got === Seq(2L))
    } finally {
      spark.conf.unset("spark.graft.snapshotWarehouse")
      StageSnapshots.invalidateSessionCache()
    }
  }

  test("without the warehouse conf, snapshots stay session-scoped " +
      "(temp-dir path, no warehouse directories created)") {
    val data = newDataDir()
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq((1L, "a")).toDF("id", "v") }
    StageSnapshots.snapshot(spark, data, "test-plain")(build).count()
    assert(builds === 1)
    StageSnapshots.invalidateSessionCache()
    // cold cache and no warehouse -> must rebuild
    StageSnapshots.snapshot(spark, data, "test-plain")(build).count()
    assert(builds === 2)
  }

  test("the adoption fingerprint sees SCHEME-addressed corpus dirs " +
      "(round-20 review): a store-shaped dir with content must not " +
      "fingerprint as empty, and a changed file must change it — " +
      "the java.nio walk saw zero files for every such dir, so all " +
      "store corpora shared the empty hash and a CHANGED corpus " +
      "would have adopted a stale index") {
    import java.nio.file.{Files, Paths}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[graft.GraftTestFs].getName)
    val local =
      Files.createTempDirectory("graft-r20-fp-").toString
    Files.writeString(Paths.get(s"$local/part-0.parquet"), "abcdef")
    val schemed = "graftfs:" + local
    val fpEmpty = StageSnapshots.dataFingerprint("graftfs:" +
      Files.createTempDirectory("graft-r20-fp-empty-").toString)
    val fp1 = StageSnapshots.dataFingerprint(schemed)
    assert(fp1 !== fpEmpty,
      "a store dir WITH content must not fingerprint as empty")
    Files.writeString(Paths.get(s"$local/part-0.parquet"), "abcdefgh")
    val fp2 = StageSnapshots.dataFingerprint(schemed)
    assert(fp2 !== fp1, "a changed file must change the fingerprint")
    // unchanged content re-fingerprints identically (adoption works)
    assert(StageSnapshots.dataFingerprint(schemed) === fp2)
  }

  test("an UNREADABLE input fingerprint (unregistered scheme / store " +
      "error) disables adoption for the call instead of failing it: " +
      "the snapshot rebuilds, commits un-stamped, and nothing throws " +
      "(round-20 review — the Hadoop walk can throw where the nio " +
      "walk returned a wrong empty hash)") {
    import spark.implicits._
    val wh = java.nio.file.Files
      .createTempDirectory("whsnap-nofs-root").toString
    // no fs.nofs.impl is registered: getFileSystem throws IOException
    val data = "nofs://unreachable/corpus"
    spark.conf.set("spark.graft.snapshotWarehouse", wh)
    try {
      var builds = 0
      def build = { builds += 1; Seq((7L, "z")).toDF("id", "v") }
      val r1 = StageSnapshots.snapshot(spark, data, "nofs-index")(build)
        .collect().map(_.getString(1)).toSeq
      assert(builds === 1 && r1 === Seq("z"),
        "the snapshot must rebuild, not throw")
      // the commit carries NO fp= stamp — a future session can never
      // adopt against a fingerprint that was unreadable at commit time
      val tdirs = new java.io.File(wh).listFiles().map(_.toString)
        .filter(_.contains("nofs-index"))
      assert(tdirs.length === 1)
      assert(graft.warehouse.SnapshotTable.currentMeta(tdirs.head).isEmpty,
        "an unreadable fingerprint must not be stamped")
      // a FRESH session (cold cache) cannot adopt the unstamped
      // commit: it rebuilds — conservative, never stale
      StageSnapshots.invalidateSessionCache()
      StageSnapshots.snapshot(spark, data, "nofs-index")(build).count()
      assert(builds === 2, "an unstamped commit is never adopted")
    } finally {
      spark.conf.unset("spark.graft.snapshotWarehouse")
      StageSnapshots.invalidateSessionCache()
    }
  }
}

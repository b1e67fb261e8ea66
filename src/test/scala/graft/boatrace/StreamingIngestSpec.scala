package graft.boatrace

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.warehouse.SnapshotTable

/** Streaming LZH ingest (StreamingIngest): drop archives into a
  * watched directory, the warehouse converges to what the batch build
  * over the same archives produces — including the case the batch path
  * never faces, a date's K and B files arriving in DIFFERENT epochs.
  */
class StreamingIngestSpec extends AnyFunSuite {
  import TestSpark.spark

  private val lzhSrc = "/root/reference/lzh"

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def drop(srcNames: Seq[String], dstDir: String): Unit =
    srcNames.foreach { n =>
      Files.copy(Paths.get(lzhSrc, n), Paths.get(dstDir, n),
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  test("streamed warehouse converges to the batch build, " +
      "K/B split across epochs") {
    val in = tmpDir("graft-stream-lzh-in-")
    val wh = tmpDir("graft-stream-lzh-wh-")
    val ckpt = tmpDir("graft-stream-lzh-ckpt-")
    val dates = Seq("2020-08-01", "2020-08-02")

    // epoch 1: only the K files (env/result/odds) — no race rows can
    // form yet for lack of the B-side schedule table
    drop(dates.map(d => s"K$d.lzh"), in)
    val q = StreamingIngest.start(spark, in, wh, ckpt)
    try {
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, s"$wh/env").count() > 0)
      // race table exists but is EMPTY (inner join with an absent side)
      val raceAfterK =
        scala.util.Try(SnapshotTable.read(spark, s"$wh/race").count())
      assert(raceAfterK.getOrElse(0L) === 0L,
        s"race rows before schedules arrived: $raceAfterK")

      // epoch 2: the B files arrive — the touched dates' race rows
      // must now be completed from the earlier K data
      drop(dates.map(d => s"B$d.lzh"), in)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = StreamingIngest.table(spark, wh, "race")

    // batch reference build over the same four archives
    val parsed = BoatracePipeline.parseDir(spark, in)
    val batch = BoatracePipeline.typedRace(BoatracePipeline.raceTable(
      BoatracePipeline.envDf(spark, parsed),
      BoatracePipeline.resultDf(spark, parsed),
      BoatracePipeline.scheduleDf(spark, parsed)))
    try {
      assert(streamed.count() === batch.count())
      assert(sortedRows(streamed) === sortedRows(batch))
    } finally parsed.unpersist()

    // base tables converged too (one spot check)
    assert(SnapshotTable.read(spark, s"$wh/odds").count() ===
      BoatracePipeline.oddsDf(spark,
        BoatracePipeline.parseDir(spark, in)).count())
  }

  test("restart from checkpoint: earlier archives are not re-ingested") {
    val in = tmpDir("graft-restart-in-")
    val wh = tmpDir("graft-restart-wh-")
    val ckpt = tmpDir("graft-restart-ckpt-")
    // session 1 ingests date 1, then STOPS (simulating shutdown)
    drop(Seq("K2020-08-04.lzh", "B2020-08-04.lzh"), in)
    val q1 = StreamingIngest.start(spark, in, wh, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val envAfter1 = SnapshotTable.read(spark, s"$wh/env").count()
    val versionsAfter1 = SnapshotTable.versions(s"$wh/env").size
    // session 2: NEW query, SAME checkpoint — date 2 arrives
    drop(Seq("K2020-08-05.lzh", "B2020-08-05.lzh"), in)
    val q2 = StreamingIngest.start(spark, in, wh, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    // date-1 archives were in the watched dir the whole time; the
    // checkpoint must prevent their re-parse/re-append
    val env = SnapshotTable.read(spark, s"$wh/env")
    assert(SnapshotTable.versions(s"$wh/env").size === versionsAfter1 + 1,
      "restart re-committed already-ingested archives")
    assert(env.filter(org.apache.spark.sql.functions.col("date") ===
      java.sql.Date.valueOf("2020-08-04")).count() === envAfter1)
    // and the final warehouse equals the batch build over both dates
    val parsed = BoatracePipeline.parseDir(spark, in)
    try {
      val batch = BoatracePipeline.typedRace(BoatracePipeline.raceTable(
        BoatracePipeline.envDf(spark, parsed),
        BoatracePipeline.resultDf(spark, parsed),
        BoatracePipeline.scheduleDf(spark, parsed)))
      assert(sortedRows(StreamingIngest.table(spark, wh, "race"))
        === sortedRows(batch))
    } finally parsed.unpersist()
  }

  test("an empty race join is never committed as the table's first " +
      "version (schedule exists, but not for the batch's dates)") {
    val in = tmpDir("graft-emptyrace-in-")
    val wh = tmpDir("graft-emptyrace-wh-")
    def ingest(names: Seq[String], id: Long): Unit = {
      val dir = tmpDir(s"graft-emptyrace-b$id-")
      drop(names, dir)
      StreamingIngest.ingestBatch(spark,
        spark.read.format("binaryFile").option("pathGlobFilter", "*.lzh")
          .load(dir).select("path", "content"), wh, id)
    }
    // epoch 0: only the B file of date 1 — the schedule table commits
    ingest(Seq("B2020-08-01.lzh"), 0L)
    assert(SnapshotTable.read(spark, s"$wh/schedule").count() > 0)
    // epoch 1: only the K file of date 2 — schedule EXISTS but has no
    // rows for this batch's date, so the rebuilt race join is empty.
    // Committing it would write a zero-file first version that breaks
    // every subsequent read; the guard must skip instead (table simply
    // not created yet).
    ingest(Seq("K2020-08-02.lzh"), 1L)
    val raceRead =
      scala.util.Try(SnapshotTable.read(spark, s"$wh/race").count())
    assert(raceRead.getOrElse(0L) === 0L,
      s"race rows from an incompletable date: $raceRead")
    // epoch 2: date 2's B file lands — its race rows must now form
    // normally (a broken zero-file version 0 would make this throw)
    ingest(Seq("B2020-08-02.lzh"), 2L)
    val race = StreamingIngest.table(spark, wh, "race")
    assert(race.count() > 0)
    assert(race.filter(org.apache.spark.sql.functions
      .to_date(org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.col("レースID"), 1, 10)) ===
      java.sql.Date.valueOf("2020-08-02")).count() === race.count())
  }

  test("a replayed epoch is skipped (exactly-once ledger)") {
    val in = tmpDir("graft-replay-in-")
    val wh = tmpDir("graft-replay-wh-")
    drop(Seq("K2020-08-03.lzh", "B2020-08-03.lzh"), in)
    val batchDf = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.lzh").load(in)
      .select("path", "content")
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L)
    val v1 = SnapshotTable.versions(s"$wh/env").last
    val rows1 = SnapshotTable.read(spark, s"$wh/env").count()
    // foreachBatch retries the SAME epoch id after a failure; the
    // ledger must make the re-run a no-op, not a duplicate append
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L)
    assert(SnapshotTable.versions(s"$wh/env").last === v1)
    assert(SnapshotTable.read(spark, s"$wh/env").count() === rows1)
    // a NEW epoch appends
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 1L)
    assert(SnapshotTable.read(spark, s"$wh/env").count() === rows1 * 2)
  }

  test("a replayed epoch is skipped even behind an interleaved " +
      "meta-less compact (round 20: the skip reads the durable " +
      "per-version ledger newest-first, not just the pointer meta — " +
      "a pointer-equality check would re-append here)") {
    val in = tmpDir("graft-replay-cpt-in-")
    val wh = tmpDir("graft-replay-cpt-wh-")
    drop(Seq("K2020-08-03.lzh", "B2020-08-03.lzh"), in)
    val batchDf = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.lzh").load(in)
      .select("path", "content")
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L)
    val envRows = SnapshotTable.read(spark, s"$wh/env").count()
    val raceRows = SnapshotTable.read(spark, s"$wh/race").count()
    // an operator's maintenance compact carries no meta: the CURRENT
    // pointer no longer names epoch 0, but the v0 ledger line does
    SnapshotTable.compact(spark, s"$wh/env")
    assert(SnapshotTable.currentMeta(s"$wh/env").isEmpty,
      "compact without meta should clear the pointer meta")
    // the crash-retry of epoch 0 lands AFTER the compact
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L)
    assert(SnapshotTable.read(spark, s"$wh/env").count() === envRows,
      "a re-delivered epoch must skip via the durable ledger even " +
      "after an interleaved meta-less compact")
    assert(SnapshotTable.read(spark, s"$wh/race").count() === raceRows)
  }

  test("streamId namespaces the ledger: a rotated stream identity " +
      "(fresh checkpoint over existing tables, or a second writer) " +
      "ingests its epoch 0 instead of colliding with the old " +
      "generation's ledger — and stays exactly-once under its own id") {
    val in = tmpDir("graft-sid-in-")
    val wh = tmpDir("graft-sid-wh-")
    drop(Seq("K2020-08-03.lzh", "B2020-08-03.lzh"), in)
    val batchDf = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.lzh").load(in)
      .select("path", "content")
    // generation 1 (default namespace) commits epochs 0..3
    (0L to 3L).foreach(i =>
      StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = i))
    val rows4 = SnapshotTable.read(spark, s"$wh/env").count()
    // the checkpoint is lost; the restarted stream re-counts from 0.
    // Under the OLD identity its epoch 0 collides with the ledger and
    // is skipped (no batch-id scheme can tell it from a re-delivery):
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L)
    assert(SnapshotTable.read(spark, s"$wh/env").count() === rows4,
      "same-identity epoch 0 collides with the old ledger: skipped")
    // rotating the identity (the txnAppId discipline) gives the new
    // generation its own ledger namespace: epoch 0 ingests
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L,
      streamId = "gen2")
    val rows5 = SnapshotTable.read(spark, s"$wh/env").count()
    assert(rows5 > rows4, "a rotated identity's epoch 0 must ingest")
    // and the new identity is itself exactly-once on re-delivery
    StreamingIngest.ingestBatch(spark, batchDf, wh, batchId = 0L,
      streamId = "gen2")
    assert(SnapshotTable.read(spark, s"$wh/env").count() === rows5)
  }
}

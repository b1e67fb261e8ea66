package graft.boatrace

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.warehouse.SnapshotTable

/** The ingest's one decode+parse step (BoatracePipeline.decodeParse)
  * over a generated two-date corpus (BoatraceCorpus): TXT files and
  * LZH archives parse to the same rows, file by file; the streaming
  * ingest and the warehouse build agree with the batch parse; a date's
  * files are selected by name; a corrupt archive fails naming itself.
  */
class BoatraceIngestSpec extends AnyFunSuite {
  import TestSpark.spark
  import BoatracePipeline.{ParsedFile, parseDir}

  private def tmpDir(prefix: String): Path = Files.createTempDirectory(prefix)

  private lazy val txtDir: String = {
    val d = tmpDir("graft-corpus-txt-")
    BoatraceCorpus.writeTxt(d)
    d.toString
  }

  private lazy val lzhDir: String = {
    val d = tmpDir("graft-corpus-lzh-")
    BoatraceCorpus.writeLzh(d)
    d.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.toSeq.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().map(_.toString).toSeq.sorted
  }

  private def raceOf(parsed: Dataset[ParsedFile]): DataFrame =
    BoatracePipeline.typedRace(BoatracePipeline.raceTable(
      BoatracePipeline.envDf(spark, parsed),
      BoatracePipeline.resultDf(spark, parsed),
      BoatracePipeline.scheduleDf(spark, parsed)))

  /** Run `body` over a persisted parse, then release it. */
  private def consume[A](parsed: Dataset[ParsedFile])(
      body: Dataset[ParsedFile] => A): A =
    try body(parsed) finally parsed.unpersist()

  private def binaryFiles(dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob)
      .load(dir).select("path", "content")

  /** Every message along a failure's cause chain. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")

  private val totalRaceRows = BoatraceCorpus.days.map(_.nRaceRows).sum

  test("parseDir reads TXT files and LZH archives to the same rows, " +
      "file by file, with the generator's row counts") {
    def key(p: ParsedFile) = (p.date, p.schedules.nonEmpty)
    val fromTxt = consume(parseDir(spark, txtDir))(_.collect().sortBy(key).toSeq)
    val fromLzh = consume(parseDir(spark, lzhDir))(_.collect().sortBy(key).toSeq)
    assert(fromTxt.map(key) ===
      BoatraceCorpus.days.flatMap(d => Seq(d.date -> false, d.date -> true)))
    assert(fromTxt === fromLzh)
    BoatraceCorpus.days.zipWithIndex.foreach { case (d, i) =>
      val (k, b) = (fromTxt(2 * i), fromTxt(2 * i + 1))
      assert(k.results.size === d.nResults, d.date)
      assert(k.envs.size === d.nRaces, d.date)
      assert(k.odds.size === d.nRaces, d.date)
      assert(k.schedules.isEmpty && b.results.isEmpty, d.date)
      assert(b.schedules.size === d.nSchedules, d.date)
    }
    // the void race's payouts are all -1; the missing 複勝2 is -1
    val odds = fromTxt.flatMap(_.odds).filter(_.raceId.contains("戸　田"))
    assert(odds.count(_.values.forall(_ == "-1")) === 2)
    assert(odds.count(o => o.place2 == "-1" && o.win != "-1") === 2)
  }

  test("streaming ingest with K in epoch 0 and B in epoch 1 converges to " +
      "the batch race table") {
    val wh = tmpDir("graft-corpus-stream-wh-").toString
    StreamingIngest.ingestBatch(spark, binaryFiles(lzhDir, "K*.lzh"), wh, 0L)
    assert(SnapshotTable.read(spark, s"$wh/env").count() ===
      BoatraceCorpus.days.map(_.nRaces).sum)
    assert(scala.util.Try(SnapshotTable.read(spark, s"$wh/race").count())
      .getOrElse(0L) === 0L, "race rows before any schedule arrived")
    StreamingIngest.ingestBatch(spark, binaryFiles(lzhDir, "B*.lzh"), wh, 1L)
    val streamed = sortedRows(StreamingIngest.table(spark, wh, "race"))
    val batch = consume(parseDir(spark, lzhDir))(p => sortedRows(raceOf(p)))
    assert(streamed.size === totalRaceRows)
    assert(streamed === batch)
  }

  test("BoatraceDb.open over TXT files and over archives builds the same " +
      "race table") {
    def race(src: String): Seq[String] = {
      BoatraceDb.open(spark, src, tmpDir("graft-corpus-wh-").toString)
      sortedRows(spark.table("race"))
    }
    val fromTxt = race(txtDir)
    assert(fromTxt.size === totalRaceRows)
    assert(race(lzhDir) === fromTxt)
  }

  test("a date glob reads exactly that date's K and B files") {
    val files =
      consume(parseDir(spark, txtDir, "[KB]200828.TXT"))(_.collect().toSeq)
    assert(files.map(_.date) === Seq("2020-08-28", "2020-08-28"))
    assert(files.map(_.schedules.nonEmpty).toSet === Set(false, true))
  }

  test("a bit-flipped archive fails batch and streaming ingest with a " +
      "message naming its path") {
    val bad = tmpDir("graft-corpus-bad-")
    BoatraceCorpus.writeLzh(bad)
    val victim = bad.resolve("K2020-08-28.lzh")
    val bytes = Files.readAllBytes(victim)
    // the entry's data ends right before the end-of-archive byte
    bytes(bytes.length - 2) = (bytes(bytes.length - 2) ^ 0x01).toByte
    Files.write(victim, bytes)
    val named = "K2020-08-28.lzh: K200828.TXT: CRC mismatch"
    val batch =
      intercept[Exception](consume(parseDir(spark, bad.toString))(_.count()))
    assert(messages(batch).contains(named), messages(batch))
    val wh = tmpDir("graft-corpus-bad-wh-").toString
    val stream = intercept[Exception](StreamingIngest.ingestBatch(spark,
      binaryFiles(bad.toString, "*.lzh"), wh, 0L))
    assert(messages(stream).contains(named), messages(stream))
    assert(!Files.exists(Paths.get(wh, "env")), "nothing committed")
  }
}

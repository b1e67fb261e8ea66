package graft.boatrace

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Value-parity of the Spark race table against the reference's
  * committed golden table CSVs (join outputs). Golden column order
  * is result→env→schedule (an older merge ordering, SURVEY §0);
  * comparison is by column NAME and typed value, order-free.
  */
class BoatracePipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  private val ref = "/root/reference"

  private lazy val parsed = BoatracePipeline.parseDir(spark, s"$ref/txt")
  private lazy val race: DataFrame = BoatracePipeline.raceTable(
    BoatracePipeline.envDf(spark, parsed),
    BoatracePipeline.resultDf(spark, parsed),
    BoatracePipeline.scheduleDf(spark, parsed))

  private val doubleCols = Set("展示", "全国勝率", "全国2率", "当地勝率",
    "当地2率", "モーター2率", "ボート2率")
  private val intCols = Set("順位", "風速", "波高", "艇番", "年齢", "体重")

  /** Canonicalize a value for comparison: numerics via double/int
    * parse (the golden passed through pandas float formatting —
    * "37.50" prints as "37.5"), strings as-is. */
  private def canon(colName: String, v: String): String =
    if (doubleCols(colName)) v.toDouble.toString
    else if (intCols(colName)) v.toDouble.toInt.toString
    else v

  private def goldenRows(date: String): Seq[Map[String, String]] = {
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$ref/table/$date.csv")).asScala.toSeq
    val header = lines.head.split(",", -1)
    lines.tail.filter(_.nonEmpty).map { l =>
      header.zip(l.split(",", -1)).map { case (h, v) => h -> canon(h, v) }.toMap
    }
  }

  private def sparkRows(date: String): Seq[Map[String, String]] = {
    val df = race.filter(org.apache.spark.sql.functions.col("レースID")
      .startsWith(date))
    val cols = df.columns
    df.collect().toSeq.map { r =>
      cols.zipWithIndex.map { case (c, i) => c -> canon(c, r.getString(i)) }.toMap
    }
  }

  private def assertParity(date: String): Unit = {
    val got = sparkRows(date)
    val want = goldenRows(date)
    assert(got.size === want.size, s"$date row count")
    val gotSorted = got.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
    val wantSorted = want.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
    gotSorted.zip(wantSorted).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g === w, s"$date row $i")
    }
  }

  test("race table matches golden table/2020-08-01.csv (854 rows)") {
    assertParity("2020-08-01")
  }

  test("race table matches the goldens for ALL 31 August 2020 dates") {
    val cols = race.columns
    val byDate = race.collect().toSeq
      .map { r =>
        cols.zipWithIndex.map { case (c, i) => c -> canon(c, r.getString(i)) }.toMap
      }
      .groupBy(_("レースID").substring(0, 10))
    (1 to 31).map(d => f"2020-08-$d%02d").foreach { date =>
      val got = byDate.getOrElse(date, Seq.empty)
      val want = goldenRows(date)
      assert(got.size === want.size, s"$date row count")
      val gotSorted = got.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
      val wantSorted = want.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
      assert(gotSorted === wantSorted, s"$date content")
    }
  }

  test("typed race table decomposes the race id for partitioning") {
    val typed = BoatracePipeline.typedRace(race)
    val r = typed.filter(org.apache.spark.sql.functions.col("race_no") === 12)
    assert(r.count() > 0)
    assert(typed.schema("date").dataType.typeName === "date")
    assert(typed.schema("順位").dataType.typeName === "integer")
  }

  test("race join broadcasts env (plan shape)") {
    val plan = race.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("warehouse date filter prunes partitions (the R5 LIKE-prefix upgrade)") {
    val wh = java.nio.file.Files.createTempDirectory("boatrace_wh").toString
    BoatraceDb.open(spark, "/root/reference/txt", wh)
    val q = spark.table("race")
      .filter(org.apache.spark.sql.functions.col("date") === "2020-08-28")
    assert(q.count() > 0)
    val scan = q.queryExecution.executedPlan.toString
    // the date predicate must land in PartitionFilters (pruned scan),
    // not in the data filters of a full scan
    assert(scan.contains("PartitionFilters:") && scan.contains("2020-08-28"),
      s"expected partition pruning in:\n$scan")
    val prunedFiles = q.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .map(_.files.length).sum
      }.sum
    val allFiles = spark.table("race").queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil, Nil).map(_.files.length).sum
      }.sum
    assert(prunedFiles < allFiles,
      s"pruned scan should read fewer files ($prunedFiles vs $allFiles)")
  }

  test("lane bias: the inside lane wins most, far outside least") {
    val rates = graft.SparkEntry.queries("boatrace_lane_bias")(spark, "")
      .collect().map(r => r.getAs[Int]("艇番") -> r.getAs[Double]("win_rate"))
      .toMap
    assert(rates.keySet === Set(1, 2, 3, 4, 5, 6))
    // kyōtei's famous structural fact: lane 1 wins ~50% of races
    assert(rates(1) > 0.4, s"lane-1 rate ${rates(1)}")
    assert(rates(1) > rates(6) * 3, s"rates $rates")
  }

  test("betting simulation metrics are internally consistent") {
    val r = graft.SparkEntry.queries("boatrace_betting_sim")(spark, "")
      .collect().head
    val nRaces = r.getAs[Long]("n_races")
    val nHits = r.getAs[Long]("n_hits")
    val acc = r.getAs[Double]("accuracy")
    val roi = r.getAs[Double]("roi")
    // every race with a result produced exactly one bet
    assert(nRaces > 3000, s"expected the full August corpus, got $nRaces")
    assert(math.abs(acc - nHits.toDouble / nRaces) < 1e-3)
    // the best-win-rate boat wins far more than chance (1/6) but less
    // than the reference's trained model (0.653, README.md:38)
    assert(acc > 1.0 / 6 && acc < 0.653, s"accuracy $acc")
    // favorites pay short odds: ROI must be positive and below break-even
    assert(roi > 0.3 && roi < 1.1, s"roi $roi")
  }

  test("player-form features are leak-free (strictly-prior window)") {
    val form = graft.SparkEntry.queries("boatrace_player_form")(spark, "")
      .collect()
      .map(r => (r.getString(r.fieldIndex("選手登番")),
        r.getDate(r.fieldIndex("date")).toString,
        r.getString(r.fieldIndex("レースID")),
        r.getInt(r.fieldIndex("順位")),
        r.getLong(r.fieldIndex("prior_starts")),
        r.getLong(r.fieldIndex("prior_wins"))))
    assert(form.nonEmpty)
    // replay each player's races in window order and check the
    // features equal the running tallies BEFORE each race
    form.groupBy(_._1).foreach { case (player, rows) =>
      var starts = 0L
      var wins = 0L
      for (r <- rows.sortBy(x => (x._2, x._3))) {
        assert(r._5 === starts, s"player $player race ${r._3} prior_starts")
        assert(r._6 === wins, s"player $player race ${r._3} prior_wins")
        starts += 1
        if (r._4 == 1) wins += 1
      }
    }
  }
}

/** September-2020 golden differential, sourced from the raw LZH
  * archives (the reference ships no extracted txt/ for September, but
  * the goldens odds/2020-09-*.csv and table/2020-09-*.csv exist).
  * This exercises the full distributed path — lh5 decode + CP932
  * parse inside the executor flatMap — against 30 dates the parser
  * has never seen, completing the 61/61 golden corpus (31 August via
  * txt in KbParserGoldenSpec/BoatracePipelineSpec + 30 September
  * here).
  */
class SeptemberGoldenSpec extends AnyFunSuite {
  import TestSpark.spark

  private val ref = "/root/reference"
  private val septDates: Seq[String] = (1 to 30).map(d => f"2020-09-$d%02d")

  private lazy val parsed = BoatracePipeline.parseDir(
    spark, s"$ref/lzh", "[KB]2020-09-*.lzh")
  private lazy val files: Seq[BoatracePipeline.ParsedFile] =
    parsed.collect().toSeq

  private val doubleCols = Set("展示", "全国勝率", "全国2率", "当地勝率",
    "当地2率", "モーター2率", "ボート2率")
  private val intCols = Set("順位", "風速", "波高", "艇番", "年齢", "体重")
  private def canon(colName: String, v: String): String =
    if (doubleCols(colName)) v.toDouble.toString
    else if (intCols(colName)) v.toDouble.toInt.toString
    else v

  test("September odds CSVs are byte-identical for all 30 dates") {
    val kByDate = files.filter(_.schedules.isEmpty)
      .groupBy(_.date).view.mapValues(_.flatMap(_.odds)).toMap
    assert(kByDate.keySet === septDates.toSet, "one K archive per date")
    septDates.foreach { date =>
      val got = GoldenCsv.oddsCsv(kByDate(date))
      val want = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ref/odds/$date.csv"))
      assert(got.sameElements(want), s"odds byte mismatch for $date")
    }
  }

  test("September race table matches the goldens for all 30 dates") {
    val race = BoatracePipeline.raceTable(
      BoatracePipeline.envDf(spark, parsed),
      BoatracePipeline.resultDf(spark, parsed),
      BoatracePipeline.scheduleDf(spark, parsed))
    val cols = race.columns
    val byDate = race.collect().toSeq
      .map { r =>
        cols.zipWithIndex.map { case (c, i) => c -> canon(c, r.getString(i)) }.toMap
      }
      .groupBy(_("レースID").substring(0, 10))
    septDates.foreach { date =>
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$ref/table/$date.csv")).asScala.toSeq
      val header = lines.head.split(",", -1)
      val want = lines.tail.filter(_.nonEmpty).map { l =>
        header.zip(l.split(",", -1)).map { case (h, v) => h -> canon(h, v) }.toMap
      }
      // September goldens predate the 会場 column (20-column header vs
      // August's 21) — compare on the golden's own column set
      val headerSet = header.toSet
      val got = byDate.getOrElse(date, Seq.empty)
        .map(_.view.filterKeys(headerSet).toMap)
      assert(got.size === want.size, s"$date row count")
      val gotSorted = got.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
      val wantSorted = want.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)
      val extra = gotSorted.diff(wantSorted).take(2)
      val missing = wantSorted.diff(gotSorted).take(2)
      assert(extra.isEmpty && missing.isEmpty,
        s"$date content: engine-only rows $extra; golden-only rows $missing")
    }
  }
}

/** The lzh-source pipeline must produce exactly the rows of the
  * txt-source pipeline (same dates), proving the in-flatMap lh5
  * decode + newline normalization is transparent to parsing. */
class LzhPipelineSpec extends AnyFunSuite {
  import TestSpark.spark

  test("parseDir over August archives equals parseDir over txt") {
    val fromTxt = BoatracePipeline.parseDir(spark, "/root/reference/txt")
    val fromArchives = BoatracePipeline.parseDir(
      spark, "/root/reference/lzh", "[KB]2020-08-*.lzh")
    try {
      // two files per date (K and B) — key on (date, kind)
      def key(p: BoatracePipeline.ParsedFile) = (p.date, p.schedules.nonEmpty)
      val a = fromTxt.collect().sortBy(key)
      val b = fromArchives.collect().sortBy(key)
      assert(a.map(key).toSeq === b.map(key).toSeq, "same (date, kind) files")
      a.zip(b).foreach { case (x, y) =>
        val d = x.date
        assert(x.results === y.results, s"$d results")
        assert(x.envs === y.envs, s"$d envs")
        assert(x.odds === y.odds, s"$d odds")
        assert(x.schedules === y.schedules, s"$d schedules")
      }
    } finally {
      fromTxt.unpersist()
      fromArchives.unpersist()
    }
  }

}

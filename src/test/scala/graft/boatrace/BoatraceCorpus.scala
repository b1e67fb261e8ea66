package graft.boatrace

import java.nio.file.{Files, Path}

import graft.sources.LzhWriter

/** Synthetic official K (競走成績) and B (番組表) files in the fixed
  * format KbParser reads: the renderers the parser's property spec
  * draws from, and a small two-date corpus written as CP932 TXT files
  * and as the same files inside `-lh0-` LZH archives, for the ingest
  * specs (no reference corpus needed).
  */
object BoatraceCorpus {

  final case class RaceSpec(
      finisherRanks: List[Int], // distinct ranks 1..6 (>=1)
      nonFinishers: Int, // S0-style lines, must be dropped
      voidRace: Boolean, // レース不成立
      missingFukusho2: Boolean,
      payouts: Vector[Int]) // 10 payout values (used unless void)

  final case class SectionSpec(
      venue: String, name: String, races: List[RaceSpec])

  final case class EntrySpec(lane: Int, regNo: Int, age: Int,
      weight: Int, clazz: String, rates: Vector[Int]) // 6 rate fields ×100

  final case class BRaceSpec(entries: List[EntrySpec])

  /** (venue, meet name, races) of one B-file section. */
  type BSection = (String, String, List[BRaceSpec])

  /** The registration number renderK prints for the finisher of
    * `rank`, who sails boat `rank`. */
  def finisherRegNo(rank: Int): Int = 3000 + rank * 111

  /** Render sections in the official K-file layout. */
  def renderK(sections: List[SectionSpec]): Array[String] = {
    val sb = Vector.newBuilder[String]
    for (s <- sections) {
      sb += " " * 28 + "＊＊＊　競走成績　＊＊＊\n"
      sb += "\n"
      sb += " " * 10 + s.name + "\n"
      sb += "\n"
      sb += "　　　ボートレース" + s.venue + "\n"
      for ((r, idx) <- s.races.zipWithIndex) {
        val rn = idx + 1
        sb += f"   $rn%2dR       一　般　　　                 H1800m  晴　  風  西　　 2m  波　  1cm\n"
        sb += "  着 艇 登番 　選　手　名　　ﾓｰﾀｰ ﾎﾞｰﾄ 展示 進入 ｽﾀｰﾄﾀｲﾐﾝｸ ﾚｰｽﾀｲﾑ\n"
        sb += "-" * 79 + "\n"
        for (rank <- r.finisherRanks)
          sb += f"  0$rank%d  $rank%d ${finisherRegNo(rank)}%04d 選　手　　名　前 32   55  6.9$rank%d   1    0.15     1.58.8\n"
        for (j <- 1 to r.nonFinishers)
          sb += f"  S0  $j%d ${4000 + j}%04d 失　格　　選　手 72   16  6.95   3    0.10      .  . \n"
        sb += "\n"
        if (r.voidRace) {
          sb += "        レース不成立\n"
        } else {
          val p = r.payouts
          sb += f"        単勝     1          ${p(0)}%d  \n"
          sb += (if (r.missingFukusho2)
            f"        複勝     1          ${p(1)}%d  \n"
          else
            f"        複勝     1          ${p(1)}%d  6         ${p(2)}%d  \n")
          sb += f"        ２連単   1-6       ${p(3)}%d  人気     9 \n"
          sb += f"        ２連複   1-6       ${p(4)}%d  人気     9 \n"
          sb += f"        拡連複   1-6       ${p(5)}%d  人気     9 \n"
          sb += f"                 1-2       ${p(6)}%d  人気     5 \n"
          sb += f"                 2-6       ${p(7)}%d  人気    13 \n"
          sb += f"        ３連単   1-6-2     ${p(8)}%d  人気    45 \n"
          sb += f"        ３連複   1-2-6     ${p(9)}%d  人気    11 \n"
        }
        sb += "\n"
      }
    }
    sb.result().toArray
  }

  /** Render sections in the official B-file layout. */
  def renderB(sections: List[BSection]): Array[String] = {
    def r2(x: Int) = f"${x / 100}%d.${x % 100}%02d"
    val sb = Vector.newBuilder[String]
    for ((venue, name, races) <- sections) {
      sb += " " * 28 + "＊＊＊　番組表　＊＊＊\n"
      sb += "\n"
      sb += " " * 10 + name + "\n"
      sb += "\n"
      sb += "　　　ボートレース" + venue + "\n"
      for ((race, idx) <- races.zipWithIndex) {
        sb += f"　${idx + 1}%dＲ  一　般　　　          Ｈ１８００ｍ  電話投票締切予定１４：３９\n"
        sb += "-" * 79 + "\n"
        for (e <- race.entries)
          sb += (f"${e.lane}%d ${e.regNo}%04d" + "選　手　名" +
            f"${e.age}%02d" + "東京" + f"${e.weight}%02d${e.clazz}%s " +
            f"${r2(e.rates(0))}%5s ${r2(e.rates(1))}%5s ${r2(e.rates(2))}%5s " +
            f"${r2(e.rates(3))}%5s 32 ${r2(e.rates(4))}%5s 55 ${r2(e.rates(5))}%5s " +
            "6 444 6      5\n")
        sb += "\n"
      }
    }
    sb.result().toArray
  }

  // ---- the two-date corpus ---------------------------------------

  /** One race day: its K file's sections and its B file's sections. */
  final case class Day(date: String, k: List[SectionSpec],
      b: List[BSection]) {
    private val yymmdd = date.substring(2).replace("-", "")
    val kName = s"K$yymmdd.TXT"
    val bName = s"B$yymmdd.TXT"
    def kBytes: Array[Byte] = cp932(renderK(k))
    def bBytes: Array[Byte] = cp932(renderB(b))

    def nResults: Int = k.flatMap(_.races).map(_.finisherRanks.size).sum
    def nRaces: Int = k.map(_.races.size).sum // env and odds rows
    def nSchedules: Int = b.flatMap(_._3).map(_.entries.size).sum

    /** Rows of the inner env⋈result⋈schedule race table: finishers
      * whose race and registration number the B file lists. */
    def nRaceRows: Int = (for {
      s <- k
      (v, n, bRaces) <- b if v == s.venue && n == s.name
      (r, bRace) <- s.races.zip(bRaces)
      rank <- r.finisherRanks
      if bRace.entries.exists(_.regNo == finisherRegNo(rank))
    } yield 1).sum
  }

  private def cp932(lines: Array[String]): Array[Byte] =
    lines.mkString.getBytes("windows-31j")

  private def day(date: String, seed: Int): Day = {
    def pay(i: Int) =
      Vector.tabulate(10)(j => 100 + 37 * seed + 110 * i + 13 * j)
    val k = List(
      SectionSpec("戸　田", "テスト競走", List(
        RaceSpec((1 to 6).toList, 0, voidRace = false,
          missingFukusho2 = false, pay(1)),
        // two boats did not finish, and the 複勝 line has one payout
        RaceSpec((1 to 4).toList, 2, voidRace = false,
          missingFukusho2 = true, pay(2)),
        RaceSpec((1 to 6).toList, 0, voidRace = true,
          missingFukusho2 = false, pay(3)))),
      // a venue the B file does not list: its finishers join nothing
      SectionSpec("びわこ", "記念レース", List(
        RaceSpec((1 to 6).toList, 0, voidRace = false,
          missingFukusho2 = false, pay(4)),
        RaceSpec((1 to 5).toList, 1, voidRace = false,
          missingFukusho2 = false, pay(5)))))
    val b: List[BSection] = List(("戸　田", "テスト競走",
      List.tabulate(3)(r => BRaceSpec((1 to 6).toList.map(lane =>
        EntrySpec(lane, finisherRegNo(lane), 20 + lane + seed, 50 + r,
          Seq("A1", "A2", "B1", "B2")((lane + r) % 4),
          Vector.tabulate(6)(j => 100 * lane + 7 * j + 3 * r + seed)))))))
    Day(date, k, b)
  }

  val days: Seq[Day] = Seq(day("2020-08-27", 1), day("2020-08-28", 2))

  /** The corpus as extracted TXT files (K200827.TXT, …; LF line ends,
    * like the reference's extracted corpus). */
  def writeTxt(dir: Path): Unit = days.foreach { d =>
    Files.write(dir.resolve(d.kName), d.kBytes)
    Files.write(dir.resolve(d.bName), d.bBytes)
  }

  /** The corpus as downloaded archives (K2020-08-27.lzh, …), one CRLF
    * entry each under its TXT name; K archives use level-0 headers,
    * B archives level-1. */
  def writeLzh(dir: Path): Unit = days.foreach { d =>
    Files.write(dir.resolve(s"K${d.date}.lzh"),
      LzhWriter.archive(0, Seq(d.kName -> LzhWriter.crlf(d.kBytes))))
    Files.write(dir.resolve(s"B${d.date}.lzh"),
      LzhWriter.archive(1, Seq(d.bName -> LzhWriter.crlf(d.bBytes))))
  }
}

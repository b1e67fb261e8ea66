package graft.boatrace

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.boatrace.BoatraceCorpus._

/** Property-based parser tests (SURVEY §5 test plan item 2):
  * generators produce synthetic K-file sections, rendered in the
  * official fixed format by BoatraceCorpus; invariants verified on
  * every sample:
  *   - one env row per race, venue threaded from the section header;
  *   - result rows = exactly the finisher lines (S0/F/L-style
  *     non-finishers silently dropped);
  *   - race numbering restarts per section and lands in the race id;
  *   - the 10-value odds walk reproduces the generated payouts, with
  *     -1 exactly where a value was omitted (missing 複勝2) and a full
  *     -1 row for レース不成立 void races.
  */
class KbParserPropSpec extends AnyFunSuite {

  /** scalatestplus isn't on the offline classpath; drive the Gen
    * directly over fixed seeds (deterministic, reproducible). */
  private def forAll[A](gen: Gen[A], n: Int = 100)(body: A => Unit): Unit = {
    var executed = 0
    (1 to n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)) match {
        case Some(a) =>
          try { body(a); executed += 1 }
          catch {
            case e: Throwable =>
              throw new AssertionError(s"failed for seed $i: $a", e)
          }
        case None => ()
      }
    }
    // a broken generator must not make the property vacuously true
    assert(executed >= n / 2, s"only $executed of $n samples generated")
  }

  private val date = "2020-08-15"

  private val genRace: Gen[RaceSpec] = for {
    nFin <- Gen.choose(1, 6)
    ranks = (1 to nFin).toList
    nonFin <- Gen.choose(0, 6 - nFin)
    isVoid <- Gen.frequency(9 -> false, 1 -> true)
    noF2 <- Gen.frequency(4 -> false, 1 -> true)
    pay <- Gen.containerOfN[Vector, Int](10, Gen.choose(100, 99990))
  } yield RaceSpec(ranks, nonFin, isVoid, noF2, pay)

  private val genSection: Gen[SectionSpec] = for {
    venue <- Gen.oneOf("大　村", "戸田", "福　岡", "びわこ")
    name <- Gen.oneOf("テスト競走", "一般戦大会", "記念レース")
    races <- Gen.nonEmptyListOf(genRace).map(_.take(12))
  } yield SectionSpec(venue, name, races)

  private val genFile: Gen[List[SectionSpec]] =
    Gen.nonEmptyListOf(genSection).map(_.take(3))

  // ---- B-file (番組表 / schedule) generator ----------------------

  private val genEntry: Gen[Int => EntrySpec] = for {
    regNo <- Gen.choose(2000, 5999)
    age <- Gen.choose(16, 70)
    weight <- Gen.choose(40, 60)
    clazz <- Gen.oneOf("A1", "A2", "B1", "B2")
    rates <- Gen.containerOfN[Vector, Int](6, Gen.choose(0, 9999))
  } yield (lane: Int) => EntrySpec(lane, regNo, age, weight, clazz, rates)

  private val genBRace: Gen[BRaceSpec] = for {
    n <- Gen.choose(4, 6)
    mk <- Gen.containerOfN[List, Int => EntrySpec](n, genEntry)
  } yield BRaceSpec(mk.zipWithIndex.map { case (f, i) => f(i + 1) })

  private val genBFile: Gen[List[BSection]] =
    Gen.nonEmptyListOf(for {
      venue <- Gen.oneOf("大　村", "戸田", "びわこ")
      name <- Gen.oneOf("テスト競走", "記念レース")
      races <- Gen.nonEmptyListOf(genBRace).map(_.take(12))
    } yield (venue, name, races)).map(_.take(3))

  test("parser invariants hold on arbitrary synthetic B files") {
    forAll(genBFile) { sections =>
      val t = KbParser.parse(date, renderB(sections))
      val allRaces = sections.flatMap { case (v, n, rs) => rs.map((v, n, _)) }

      // only the schedule table is populated from a B file
      assert(t.results.isEmpty && t.envs.isEmpty && t.odds.isEmpty)
      assert(t.schedules.size === allRaces.map(_._3.entries.size).sum)

      // full-width race counter threads per-section numbering into ids
      val expectedIds = sections.flatMap { case (v, n, rs) =>
        rs.zipWithIndex.flatMap { case (r, i) =>
          r.entries.map(_ => s"$date$v$n${i + 1}R")
        }
      }
      assert(t.schedules.map(_.raceId).toList === expectedIds)

      // every captured column round-trips (motor/boat numbers between
      // the rate columns are matched but deliberately NOT captured)
      def r2(x: Int) = s"${x / 100}.${f"${x % 100}%02d"}"
      t.schedules.zip(allRaces.flatMap(_._3.entries)).foreach { case (row, e) =>
        assert(row.lane === e.lane.toString)
        assert(row.playerId === f"${e.regNo}%04d")
        assert(row.age === f"${e.age}%02d")
        assert(row.weight === f"${e.weight}%02d")
        assert(row.rank === e.clazz)
        assert(Seq(row.nationalWin, row.nationalTop2, row.localWin,
          row.localTop2, row.motorTop2, row.boatTop2) ===
          e.rates.map(r2))
      }
    }
  }

  test("parser invariants hold on arbitrary synthetic K files") {
    forAll(genFile) { sections =>
      val t = KbParser.parse(date, renderK(sections))
      val allRaces = sections.flatMap(s => s.races.map(s -> _))

      // env: one row per race, venue threaded from the section state
      assert(t.envs.size === allRaces.size)
      t.envs.zip(allRaces).foreach { case (e, (s, _)) =>
        assert(e.venue === s.venue)
        assert(e.weather === "晴")
        assert(e.windDir === "西")
      }

      // race ids: numbering restarts at each section header
      val expectedIds = sections.flatMap(s =>
        s.races.indices.map(i => s"$date${s.venue}${s.name}${i + 1}R"))
      assert(t.envs.map(_.raceId).toList === expectedIds)

      // results: finishers only, ranks preserved, non-finishers dropped
      assert(t.results.size === allRaces.map(_._2.finisherRanks.size).sum)
      t.results.zip(allRaces.flatMap { case (_, r) =>
        r.finisherRanks
      }).foreach { case (row, rank) => assert(row.rank === rank.toString) }

      // odds: one row per race; void => all -1; missing 複勝2 => -1 there
      assert(t.odds.size === allRaces.size)
      t.odds.zip(allRaces).foreach { case (o, (_, r)) =>
        if (r.voidRace) {
          assert(o.values.forall(_ == "-1"), s"void race row: ${o.values}")
        } else {
          val exp = r.payouts.zipWithIndex.map { case (v, i) =>
            if (i == 2 && r.missingFukusho2) "-1" else v.toString
          }
          assert(o.values === exp)
        }
      }

      // schedule table stays empty for K files
      assert(t.schedules.isEmpty)
    }
  }
}

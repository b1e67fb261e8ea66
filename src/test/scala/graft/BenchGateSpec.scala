package graft

import org.scalatest.funsuite.AnyFunSuite

/** The anchored-baseline regression gate (round-11 redesign). The
  * headline scenario is round 10's failure mode replayed: m06 drifted
  * 2.90 (accepted) -> 3.04 -> 3.07 -> 3.68 -> 6.01 s across five
  * bench runs, each step under the 2x/0.5s trip band vs the LAST run,
  * so the old stamp-last-run gate never fired. Against a ratcheted
  * anchor the same sequence trips at the 6.01 step.
  */
class BenchGateSpec extends AnyFunSuite {

  test("compound sub-threshold drift trips against the anchor where " +
      "stamp-last-run never fires (round-10 m06 replay)") {
    val runs = Seq(3.04, 3.07, 3.68, 6.01)
    // old rule: baseline = last run's time — no step trips
    val oldTrips = (2.90 +: runs).sliding(2).exists {
      case Seq(p, c) => BenchGate.regressed(p, c)
    }
    assert(!oldTrips, "the drift was invisible per-step by design")
    // new rule: the anchor ratchets down only
    var anchor = Map("m06" -> 2.90)
    val tripped = runs.map { c =>
      val t = BenchGate.regressed(anchor("m06"), c)
      if (!t) anchor = BenchGate.nextBaselines(
        anchor, Map("m06" -> c), Set.empty, Set.empty)
      t
    }
    assert(tripped === Seq(false, false, false, true),
      "6.01 vs the 2.90 anchor must trip (2.07x, +3.11s)")
    assert(anchor("m06") === 2.90, "sub-trip drift never moved the anchor")
  }

  test("anchors ratchet down on improvement and never rise silently") {
    val prev = Map("q" -> 1.0)
    assert(BenchGate.nextBaselines(prev, Map("q" -> 0.4),
      Set.empty, Set.empty) === Map("q" -> 0.4))
    assert(BenchGate.nextBaselines(prev, Map("q" -> 1.6),
      Set.empty, Set.empty) === Map("q" -> 1.0))
  }

  test("an explicit acceptance re-anchors at the new cost") {
    val prev = Map("q" -> 1.0)
    assert(BenchGate.nextBaselines(prev, Map("q" -> 2.9),
      Set("q"), Set.empty) === Map("q" -> 2.9))
  }

  test("a tripped, unaccepted query carries its anchor forward (red " +
      "runs do not disarm the gate) and a failed query keeps its anchor") {
    val prev = Map("bad" -> 1.0, "dead" -> 2.0)
    val next = BenchGate.nextBaselines(prev, Map("bad" -> 13.78),
      Set.empty, Set("dead"))
    assert(next === Map("bad" -> 1.0, "dead" -> 2.0))
  }

  test("a first-seen query stamps its own time as the anchor") {
    assert(BenchGate.nextBaselines(Map.empty, Map("new" -> 0.7),
      Set.empty, Set.empty) === Map("new" -> 0.7))
  }

  test("suite drift: broad 1.3x drift trips the 20% total gate that " +
      "the per-query filter is blind to; 10% noise does not") {
    val prev = (1 to 100).map(i => s"q$i" -> 1.0).toMap
    val drifted = prev.map { case (k, v) => k -> v * 1.3 }
    val (p, c, r) = BenchGate.suiteDrift(prev, drifted).get
    assert(p === 100.0 && math.abs(c - 130.0) < 1e-9)
    assert(r > BenchGate.SuiteDriftMax)
    assert(!drifted.exists { case (k, v) => BenchGate.regressed(prev(k), v) },
      "no individual query trips — that is the point")
    val noisy = prev.map { case (k, v) => k -> v * 1.1 }
    assert(BenchGate.suiteDrift(prev, noisy).get._3 <= BenchGate.SuiteDriftMax)
  }

  test("suite drift only compares common queries and is None with " +
      "no overlap") {
    val d = BenchGate.suiteDrift(Map("a" -> 1.0, "gone" -> 50.0),
      Map("a" -> 1.1, "new" -> 9.0))
    assert(d.get._1 === 1.0 && d.get._2 === 1.1)
    assert(BenchGate.suiteDrift(Map("x" -> 1.0), Map("y" -> 1.0)).isEmpty)
  }

  test("accept names that matched no regression are reported stale") {
    assert(BenchGate.unusedAccepts(Set("a", "b"), Set("b")) === Set("a"))
    assert(BenchGate.unusedAccepts(Set.empty, Set("b")) === Set.empty)
  }

  test("an accept name whose query was remeasured (trip cleared as " +
      "noise) is considered used, not stale") {
    // the caller passes confirmed regressions PLUS remeasured names;
    // "a" tripped on first measure, the confirmation pass cleared it
    val considered = Set("b") ++ Set("a") // regressions ++ remeasured
    assert(BenchGate.unusedAccepts(Set("a", "b"), considered) === Set.empty)
  }

  test("drift acceptance re-anchors every common query at this run's " +
      "times — the sanctioned escape for a broad legitimate slowdown") {
    val prev = (1 to 5).map(i => s"q$i" -> 1.0).toMap
    val cur = prev.map { case (k, _) => k -> 1.4 } // broad 1.4x, no per-query trip
    assert(!cur.exists { case (k, v) => BenchGate.regressed(prev(k), v) })
    val next = BenchGate.driftAcceptedBaselines(prev, cur, Set.empty)
    assert(next === cur, "all anchors move to this run's times")
  }

  test("drift acceptance does not launder a per-query cliff: a tripped " +
      "unaccepted query keeps its prior anchor, and failed queries too") {
    val prev = Map("ok" -> 1.0, "cliff" -> 1.0, "dead" -> 2.0)
    val cur = Map("ok" -> 1.4, "cliff" -> 13.78)
    val next = BenchGate.driftAcceptedBaselines(prev, cur,
      failed = Set("dead"), trippedUnaccepted = Set("cliff"))
    assert(next === Map("ok" -> 1.4, "cliff" -> 1.0, "dead" -> 2.0))
  }

  test("calibrated drift trip: a uniformly slow host (probe ratio " +
      "tracks the suite ratio) does not trip; a single-query real " +
      "regression on a normal host still does") {
    val prev = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    // uniformly slow host: every query 1.3x, probe also 1.3x — the
    // suite ratio exceeds the unscaled 1.2 trip but not the
    // calibrated one (1.2 * 1.3 = 1.56)
    val uniform = prev.map { case (k, _) => k -> 1.3 }
    val rUniform = BenchGate.suiteDrift(prev, uniform).get._3
    assert(rUniform > BenchGate.SuiteDriftMax)
    assert(rUniform <= BenchGate.effectiveDriftMax(1.3),
      "uniform host slowness matching the probe must not trip")
    // real regression: probe at 1.0 (host fine), one query +6s —
    // suite ratio 1.3 vs the UNSCALED trip
    val oneCliff = prev + ("q1" -> 7.0)
    val rCliff = BenchGate.suiteDrift(prev, oneCliff).get._3
    assert(rCliff > BenchGate.effectiveDriftMax(1.0),
      "a real regression on a normal host must still trip")
  }

  test("calibration scaling is bounded: never below the unscaled " +
      "trip, capped at CalibScaleCap") {
    // a FAST host must not tighten the gate below 1.2
    assert(BenchGate.effectiveDriftMax(0.7) === BenchGate.SuiteDriftMax)
    // a pathologically slow probe must not disarm the gate
    assert(BenchGate.effectiveDriftMax(5.0) ===
      BenchGate.SuiteDriftMax * BenchGate.CalibScaleCap)
    assert(BenchGate.effectiveDriftMax(1.0) === BenchGate.SuiteDriftMax)
  }

  test("confirmation-time calibration (round-14 q66 replay): a spiked " +
      "re-measure with probe ratio > 1 attributes instead of tripping; " +
      "a real single-query regression (probe flat) still trips") {
    // round 14's exact numbers: anchor 0.837, driver stamp 1.732
    // (2.07x) in a session at load_avg 2.94 — the unscaled rule trips
    assert(BenchGate.regressed(0.837, 1.732))
    // a confirmation-time probe reading the host ~1.2x slow scales the
    // trip to 2.4x: 1.732 < 2.4 * 0.837 — attributed, not a regression
    assert(!BenchGate.regressedCalibrated(0.837, 1.732, probeRatio = 1.2))
    // probe flat (a REAL regression moves query time, not probe time):
    // trips at the unscaled 2x exactly as before
    assert(BenchGate.regressedCalibrated(0.837, 1.732, probeRatio = 1.0))
    assert(BenchGate.regressedCalibrated(0.837, 1.732, probeRatio = 0.8),
      "a fast host must not tighten or loosen the unscaled trip")
  }

  test("confirmation calibration is bounded: the scaled factor never " +
      "drops below 2x and caps at 2x * CalibScaleCap") {
    assert(BenchGate.effectiveRegressionFactor(0.5) === 2.0)
    assert(BenchGate.effectiveRegressionFactor(1.0) === 2.0)
    assert(BenchGate.effectiveRegressionFactor(1.2) === 2.4)
    assert(BenchGate.effectiveRegressionFactor(10.0) ===
      2.0 * BenchGate.CalibScaleCap)
    // a 4x cliff is never attributable: even a pathologically slow
    // probe caps the factor at 3x
    assert(BenchGate.regressedCalibrated(1.0, 4.0, probeRatio = 10.0))
    // the +0.5s absolute arm is NOT scaled — sub-second blips stay
    // muted on any host, and a 0.1->0.4s 'trip' never fires at all
    assert(!BenchGate.regressedCalibrated(0.1, 0.4, probeRatio = 1.0))
  }

  test("the calibration probe is CPU-deterministic (fixed checksum) " +
      "and returns a positive wall time") {
    val (sec, sum) = BenchGate.calibrationProbe(1000000L)
    assert(sec > 0.0)
    val (_, sum2) = BenchGate.calibrationProbe(1000000L)
    assert(sum === sum2, "the probe must compute a fixed function")
  }

  test("anchors stamped at another core count are neither gated " +
      "against nor ratcheted, and the refusal is loud") {
    val at32 = """{"fixture_fp":"fp","baselines":{"q":1.0},""" +
      """"queries":{"q":1.1},"env":{"cpus":32}}"""
    val (frozen, note) = BenchGate.priorAnchors(at32, "fp", 8)
    assert(frozen === BenchGate.Frozen(Map("q" -> 1.0), 32))
    assert(note.exists(n => n.contains("NOT RATCHETED") &&
      n.contains("32 cores") && n.contains("at 8")), note)
    assert(BenchGate.priorAnchors(at32, "fp", 32) ===
      ((BenchGate.Gate(Map("q" -> 1.0)), None)))
    // a frozen run writes the anchors back with their own core count,
    // which then wins over the writing run's env.cpus
    val carried = """{"fixture_fp":"fp","baselines":{"q":1.0},""" +
      """"baselines_cpus":32,"env":{"cpus":8}}"""
    assert(BenchGate.priorAnchors(carried, "fp", 32)._1 ===
      BenchGate.Gate(Map("q" -> 1.0)))
    assert(BenchGate.priorAnchors(carried, "fp", 8)._1 ===
      BenchGate.Frozen(Map("q" -> 1.0), 32))
    // another fixture's anchors are skipped before the core check
    val (other, otherNote) = BenchGate.priorAnchors(at32, "fp2", 8)
    assert(other === BenchGate.Fresh)
    assert(otherNote.exists(_.contains("fixture_fp")))
    // pre-round-11 files: "queries" stands in for "baselines"
    assert(BenchGate.priorAnchors(
      """{"fixture_fp":"fp","queries":{"q":2}}""", "fp", 4)._1 ===
      BenchGate.Gate(Map("q" -> 2.0)))
  }
}

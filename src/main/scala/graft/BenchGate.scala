package graft

/** Pure regression-gate rules for [[Bench]], extracted so the
  * anchored-baseline and suite-drift behavior is unit-testable
  * (BenchGateSpec) instead of living inline in a main.
  *
  * Round-10 lesson (the reason for anchoring): the old gate stamped
  * each green run's timings as the next run's baseline, so a query
  * could drift arbitrarily far through sub-threshold steps — m06 went
  * 2.90 (accepted) -> 3.04 -> 3.07 -> 3.68 -> 6.01 s across five
  * round-10 bench commits without one trip, and the round artifact
  * carried 2.07x the accepted cost with `regressions: []`. Baselines
  * now RATCHET DOWN ONLY: a query's anchor is the best confirmed time
  * since its last explicit acceptance, so compounding drift
  * eventually crosses the 2x band of the ANCHOR and trips no matter
  * how small the individual steps were.
  */
object BenchGate {

  /** What a prior detail file's anchors allow this run. */
  sealed trait Prior
  /** Gate against and ratchet these (none: no file, another fixture). */
  final case class Gate(baselines: Map[String, Double]) extends Prior
  /** Anchors stamped at another core count, whose wall times are not
    * comparable: no gate, no ratchet, written back unchanged. */
  final case class Frozen(baselines: Map[String, Double], cpus: Int)
      extends Prior
  val Fresh: Prior = Gate(Map.empty)

  private def num(v: org.json4s.JValue): Option[Double] = v match {
    case org.json4s.JDouble(d) => Some(d)
    case org.json4s.JInt(i) => Some(i.toDouble)
    case _ => None
  }

  /** Reads a prior detail file's anchors ("baselines", falling back to
    * "queries" for pre-round-11 files) for a run on `fixtureFp` at
    * `cpus` cores, with the note to print when the gate is skipped.
    * The anchors' core count is "baselines_cpus", else "env.cpus".
    * Another fixture's anchors are not anchors at all, so the fixture
    * is checked first. */
  def priorAnchors(detailJson: String, fixtureFp: String, cpus: Int)
      : (Prior, Option[String]) = {
    import org.json4s._
    val prev = org.json4s.jackson.JsonMethods.parse(detailJson)
    def times(field: String): Map[String, Double] = prev \ field match {
      case JObject(fs) => fs.flatMap { case (k, v) => num(v).map(k -> _) }.toMap
      case _ => Map.empty
    }
    val anchors = Some(times("baselines")).filter(_.nonEmpty)
      .getOrElse(times("queries"))
    val prevFp = prev \ "fixture_fp" match {
      case JString(fp) => fp
      case _ => ""
    }
    val anchorCpus = num(prev \ "baselines_cpus")
      .orElse(num(prev \ "env" \ "cpus")).map(_.toInt)
    if (prevFp != fixtureFp)
      (Fresh, Some(s"[bench] prior detail fixture_fp $prevFp != " +
        s"$fixtureFp — regression gate skipped (different fixture, " +
        "deltas not comparable)"))
    else anchorCpus.filter(_ != cpus) match {
      case Some(c) =>
        (Frozen(anchors, c), Some(s"[bench] ANCHORS NOT RATCHETED: the " +
          s"prior detail's anchors were measured at $c cores, this run " +
          s"at $cpus — regression and drift gates skipped, anchors " +
          "carried unchanged"))
      case None => (Gate(anchors), None)
    }
  }

  /** The calibration probe's anchor in a prior detail file. */
  def calibrationAnchor(detailJson: String): Option[Double] =
    num(org.json4s.jackson.JsonMethods.parse(detailJson) \ "calibration" \
      "anchor_sec")

  /** Per-query trip rule (unchanged since round 9): BOTH >2x AND
    * >0.5 s slower than the anchored baseline — the dual threshold
    * keeps the gate quiet on sub-second GC/JIT noise and loud on
    * real cliffs. */
  def regressed(baseline: Double, cur: Double): Boolean =
    cur > 2 * baseline && cur - baseline > 0.5

  /** Next round's anchored baselines.
    *
    *   - accepted name        -> re-anchor at this run's cost (the
    *     explicit algorithmic-trade path; recorded in the artifact)
    *   - tripped, unaccepted  -> carry the PRIOR anchor forward (a
    *     red run must not disarm the gate for its successor)
    *   - otherwise            -> min(prior anchor, this run) — drift
    *     below the trip band never moves the anchor up
    *   - failed queries       -> prior anchor carried unchanged
    */
  def nextBaselines(
      prev: Map[String, Double],
      cur: Map[String, Double],
      accepted: Set[String],
      failed: Set[String]): Map[String, Double] = {
    val carried = prev.filter { case (n, _) => failed(n) }
    val stamped = cur.map { case (name, c) =>
      name -> (prev.get(name) match {
        case Some(_) if accepted(name) => c
        case Some(p) if regressed(p, c) => p
        case Some(p) => math.min(p, c)
        case None => c
      })
    }
    carried ++ stamped
  }

  /** Suite-total drift over the queries common to both maps — the
    * round-10 blind spot: broad ~1.3x drift never trips a per-query
    * >2x filter, and the committed artifact read 31% slower with
    * `regressions: []`. Returns (priorTotal, curTotal, ratio) or
    * None when there is no overlap. */
  def suiteDrift(prev: Map[String, Double], cur: Map[String, Double])
      : Option[(Double, Double, Double)] = {
    val common = prev.keySet & cur.keySet
    if (common.isEmpty) None
    else {
      val p = common.iterator.map(prev).sum
      val c = common.iterator.map(cur).sum
      Some((p, c, c / p))
    }
  }

  /** Suite-total trip threshold: >20% slower than the anchored
    * baselines' total over common queries. */
  val SuiteDriftMax = 1.2

  /** Cap on how far the calibration probe may RAISE the drift trip:
    * a pathological probe reading (or a 2x-slow host, which deserves
    * a human look regardless) must not disarm the gate entirely. */
  val CalibScaleCap = 1.5

  /** Env-normalized drift trip threshold (round-13 verdict 4): the
    * anchored baselines are best-ever minima, so a host that is
    * uniformly slow for purely environmental reasons (this container
    * measured ~12-14% slow two rounds running) rides permanently
    * near the 1.2 trip with no engine change. The CPU-bound
    * calibration probe measures the HOST, not the engine — scaling
    * the trip by the probe's ratio to its own ratchet-down anchor
    * lets uniform host slowness pass while a real regression (which
    * moves query time but not probe time) still trips at the
    * unscaled threshold. Only ever scales UP (a fast host must not
    * tighten the gate into noise), capped at CalibScaleCap. */
  def effectiveDriftMax(calibRatio: Double): Double =
    SuiteDriftMax * math.min(math.max(calibRatio, 1.0), CalibScaleCap)

  /** The CPU-bound calibration probe: a fixed xorshift64* loop — no
    * I/O, no allocation, no Spark — whose wall time tracks the
    * host's effective single-thread speed (CPU contention, cgroup
    * throttling, thermal state). Returns (seconds, checksum); the
    * checksum is both a dead-code-elimination guard and a
    * determinism pin (spec'd). Three runs, min kept, same as query
    * timings. */
  def calibrationProbe(iters: Long = 150000000L): (Double, Long) = {
    def once(): (Double, Long) = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < iters) {
        x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
        x *= 0x2545F4914F6CDD1DL
        i += 1
      }
      ((System.nanoTime() - t0) / 1e9, x)
    }
    val runs = (1 to 3).map(_ => once())
    (runs.map(_._1).min, runs.head._2)
  }

  /** Confirmation-time per-query trip factor (round-14 verdict 1):
    * the suite probe runs once at bench START, so a load spike that
    * begins DURING the confirmation re-measure window red-stamps an
    * untouched query with no recorded attribution (round 14: q66 at
    * 2.07x in a session whose probe read 0.96 at start but whose
    * load average was 2.94 by stamp time). The caller re-runs the
    * probe ADJACENT to each still-regressed re-measure and scales the
    * 2x factor by that confirmation-time ratio — same bounds as the
    * suite trip: never below 2x (a fast host must not tighten the
    * gate into noise), capped at CalibScaleCap (a host >1.5x slow
    * deserves a human look regardless). A REAL regression moves query
    * time but not probe time, so its ratio is ~1 and it trips at the
    * unscaled 2x. */
  def effectiveRegressionFactor(probeRatio: Double): Double =
    2.0 * math.min(math.max(probeRatio, 1.0), CalibScaleCap)

  /** [[regressed]] with the trip factor scaled by the
    * confirmation-time probe ratio. The absolute +0.5 s arm is NOT
    * scaled: it exists to mute sub-second noise, and host slowness
    * only widens sub-second noise — scaling it would loosen exactly
    * the wrong arm. */
  def regressedCalibrated(baseline: Double, cur: Double,
      probeRatio: Double): Boolean =
    cur > effectiveRegressionFactor(probeRatio) * baseline &&
      cur - baseline > 0.5

  /** Accept names that matched no regression this run — a stale
    * SPARK_GRAFT_ACCEPT_REGRESSIONS entry left in the environment
    * would otherwise silently auto-accept any FUTURE regression of
    * that query without a fresh decision. The caller fails the run
    * so stale entries are flushed immediately.
    *
    * `consideredNames` is every query that was EITHER confirmed as a
    * regression OR remeasured this run (a borderline trip the
    * confirmation pass cleared as noise): an operator who
    * pre-declared an acceptance for a query that then measured clean
    * made a correct call that noise resolved — punishing that with a
    * red run (the round-11 rule) taught people not to pre-declare. A
    * name matching NEITHER is the genuinely stale entry the flush
    * exists for. */
  def unusedAccepts(acceptNames: Set[String],
      consideredNames: Set[String]): Set[String] =
    acceptNames -- consideredNames

  /** Baselines under an explicit SUITE-level acceptance
    * (SPARK_GRAFT_ACCEPT_DRIFT): every query present this run
    * re-anchors at this run's confirmed time; failed queries keep
    * their prior anchor. This is the sanctioned escape for a
    * legitimate broad slowdown (environment change, or a deliberate
    * trade spread across many queries each under the per-query trip
    * band) — without it the ratchet-down-only anchors make every
    * future run red with no exit but deleting the detail file. The
    * caller records the acceptance in the artifact.
    *
    * A drift acceptance is NOT a per-query acceptance: queries that
    * tripped the per-query 2x rule and were not individually named
    * (`trippedUnaccepted`) still carry their prior anchor forward —
    * accepting broad drift must not launder a specific cliff. */
  def driftAcceptedBaselines(
      prev: Map[String, Double],
      cur: Map[String, Double],
      failed: Set[String],
      trippedUnaccepted: Set[String] = Set.empty): Map[String, Double] =
    nextBaselines(prev, cur, accepted = cur.keySet -- trippedUnaccepted,
      failed = failed)
}

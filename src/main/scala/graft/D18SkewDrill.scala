package graft

import org.apache.spark.sql.functions._

/** Adversarial skew drill for d18's banded edit-distance join
  * (round-16 verdict stretch 8): the documented hot-band risk is a
  * shared boilerplate title prefix — thousands of docs landing in one
  * (m, i, seg) band, whose |band|² map-side Levenshtein verification
  * concentrates on the one reducer that owns the band's key in the
  * SMJ regime. Byte-based AQE skew handling cannot split it (the
  * reducer's INPUT is kilobytes; the blow-up is compute on the join's
  * output inside the same task), so d18 carries an explicit hot-band
  * salt split. This drill PLANTS the adversary and measures the
  * lever:
  *
  *  1. build (or reuse) the 50× token-salted documents corpus —
  *     50× because the candidate join must be in its SortMergeJoin
  *     regime (SCALE_r16's attribution row: broadcast below ~50×,
  *     where reducer skew cannot exist);
  *  2. plant a `group`-sized family of docs sharing the title prefix
  *     "terms of service" + an md5-derived unique 4th token (equal
  *     lengths, so every planted doc shares the SAME (m, i, seg)
  *     bands for the boilerplate segments; md5 tokens keep pairwise
  *     edit distance almost always > 3, so the OUTPUT stays small —
  *     the drill stresses candidates, not the answer);
  *  3. run d18 with the salt lever OFF and ON (2 runs each, min),
  *     assert the two outputs are row-identical (the lever is
  *     output-invariant by construction — verified, not argued), and
  *     report walls + the planted band's straggler profile.
  *
  * Rows append to SPARK_GRAFT_SCALE_JSON as
  * `d18_editdistance_neardup#skewdrill`.
  *
  * Usage: runMain graft.D18SkewDrill [factor] [groupSize]
  */
object D18SkewDrill {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(50)
    val group = args.lift(1).map(_.toInt).getOrElse(2000)
    val base = "/root/testdata/sf0.1"
    val scaled = s"/tmp/graft_scale_x$factor"
    val out = s"/tmp/graft_d18_skew_x${factor}_g$group"
    // SPARK_GRAFT_DRILL_PARTITIONS overrides the shuffle partitions
    // (default: one per core): straggler-divisibility probe — a
    // co-hashed-but-divisible load shrinks with more partitions, an
    // indivisible one (single hot key) does not
    val spark = Session.local()
    sys.env.get("SPARK_GRAFT_DRILL_PARTITIONS")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))

    ScaleCheck.buildScaledTables(spark, base, scaled, factor,
      Some(Set("documents")), reuse = true)
    if (!new java.io.File(s"$out/documents.parquet/_SUCCESS").exists()) {
      val docs = spark.read.parquet(s"$scaled/documents.parquet")
      // the planted band: equal-length titles "terms of service
      // <8-hex-token>" — identical (m, i, seg) keys for the
      // boilerplate segments across the whole group
      val planted = docs.limit(group)
        // one partition so monotonically_increasing_id is 0..group-1
        .coalesce(1)
        .withColumn("__r", monotonically_increasing_id())
        .withColumn("doc_id", lit(5000000000L) + col("__r"))
        .withColumn("text",
          concat(lit("terms of service "),
            substring(md5(col("doc_id").cast("string")), 1, 8),
            lit(" "), col("text")))
        .drop("__r")
      docs.unionByName(planted)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    // the SKEW SIGNATURE, robust to this host's wall noise: the max
    // single-task duration. A hot band concentrates its |band|²
    // verification in the one task owning the band's key — the
    // straggler IS the phenomenon, and the salt split's job is to
    // shrink exactly this number, not the (load-sensitive) total wall
    // per-stage max task duration — the straggler must be NAMEABLE
    // (which stage owns the 30 s task), not just visible in a global
    // max that any data-sized stage could dominate
    val stageMax = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null) {
            val m = te.taskMetrics
            val io =
              if (m == null) ""
              else f"in=${m.inputMetrics.bytesRead / 1e6}%.0f/" +
                f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%.0f/" +
                f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%.0fMB"
            stageMax.merge(te.stageId, (te.taskInfo.duration, io),
              (a, b) => if (a._1 >= b._1) a else b)
            ()
          }
      })
    def topStragglers(n: Int): Seq[(Int, Long, String)] = {
      import scala.jdk.CollectionConverters._
      stageMax.asScala.toSeq
        .map { case (sid, (ms, nm)) => (sid, ms, nm) }
        .sortBy(-_._2).take(n)
    }
    val rows = scala.collection.mutable.ListBuffer.empty[String]
    val runTag = f"skew-x$factor-g$group-${System.currentTimeMillis() / 1000}%d"
    def checksum(): (Long, Long) = {
      // modulo before the sum: raw xxhash64 values overflow an ANSI
      // long sum after two rows
      val r = SparkEntry.queries("d18_editdistance_neardup")(spark, out)
        .agg(count(lit(1)),
          sum(pmod(xxhash64(col("doc_a"), col("doc_b"),
            col("edit_dist")), lit(1000000007L))))
        .collect().head
      (r.getLong(0), r.getLong(1))
    }
    var sums = Map.empty[String, (Long, Long)]
    // SPARK_GRAFT_DRILL_MODES=true re-measures only the salted path
    // (the unsalted straggler run costs ~10 min at a 1e8-pair band);
    // the cross-mode invariance require() then needs a prior
    // both-modes run's checksum to compare against by hand
    val modes = sys.env.getOrElse("SPARK_GRAFT_DRILL_MODES",
      "false,true").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(modes.nonEmpty && modes.forall(Set("true", "false")),
      s"SPARK_GRAFT_DRILL_MODES must be true/false tokens, got: $modes" +
      " — checked up front so a typo cannot crash after the band run")
    for (mode <- modes) {
      spark.conf.set("spark.graft.d18.saltHotBands", mode)
      var best: Seq[(Int, Long, String)] = Seq.empty
      var bestMax = Long.MaxValue
      val walls = (1 to 2).map { _ =>
        stageMax.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries("d18_editdistance_neardup")(spark, out)
          .write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        PersistRegistry.release()
        Thread.sleep(1500) // task-end events lag job completion
        val top = topStragglers(3)
        // an empty profile means the listener bus was still draining —
        // never stamp max_task_sec=0 (the exact number this drill
        // exists to measure); skip the run's profile instead
        if (top.nonEmpty && top.head._2 < bestMax) {
          // keep the QUIETER run's profile (min over runs, like walls)
          bestMax = top.head._2
          best = top
        }
        dt
      }
      sums += mode -> checksum()
      PersistRegistry.release()
      if (bestMax == Long.MaxValue) bestMax = -1000L // unknown, never 0
      val w = walls.min
      val prof = best.map { case (sid, ms, nm) =>
        f"s$sid:${ms / 1000.0}%.1fs($nm)" }.mkString(" | ")
      println(f"D18SKEW x$factor group=$group salt=$mode " +
        f"wall=$w%.2f s (runs: ${walls.map(x => f"$x%.2f").mkString(", ")})" +
        f" rows=${sums(mode)._1} checksum=${sums(mode)._2}")
      println(s"D18SKEW   salt=$mode top-task-per-stage: $prof")
      rows += f"""{"query":"d18_editdistance_neardup#skewdrill-""" +
        f"""salt=$mode","factor":$factor,"group":$group,""" +
        f""""wall_sec":$w%.3f,""" +
        f""""max_task_sec":${bestMax / 1000.0}%.3f,""" +
        f""""out_rows":${sums(mode)._1},""" +
        f""""out_checksum":${sums(mode)._2},"run":"$runTag"}"""
    }
    if (sums.contains("false") && sums.contains("true")) {
      require(sums("false") == sums("true"),
        s"the salt lever changed the OUTPUT: off=${sums("false")} " +
        s"on=${sums("true")} — it must be output-invariant")
      println("D18SKEW output-invariance: OK (identical rows+checksum)")
    }
    sys.env.get("SPARK_GRAFT_SCALE_JSON").filter(_.nonEmpty).foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        rows.map(_ + "\n").mkString,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }
}

package graft.operators


/** Measures the cross-session snapshot-reuse delta (the warehouse
  * ledger's deployment win: index build ≫ query cost) without the
  * multi-JVM timing noise that drowns it in session-to-session wall
  * clock (observed ±2x between sbt sessions at multi-GB working
  * sets): ONE warmed JVM, with `StageSnapshots.invalidateSessionCache`
  * simulating a fresh session (spec-proven equivalent — the next
  * snapshot() resolves through the warehouse exactly as a restarted
  * session would).
  *
  * Protocol per consumer query (d15 / v10 / v11 / v20 — the ops
  * that adopt d09's IVF pair table, v09's PQ codebook/encodings,
  * and v13's k-NN graph):
  *   ADOPT:   warehouse conf set, session cache invalidated, every
  *            dependency committed by a prior definer run → the query
  *            reads committed snapshots, zero recompute.
  *   REBUILD: warehouse conf cleared, session cache invalidated → the
  *            query recomputes every stage dependency from the corpus.
  * Phases alternate REBUILD/ADOPT twice and keep per-phase minima, so
  * page-cache and JIT drift cancel instead of accumulating into one
  * phase's numbers.
  *
  * Usage: runMain graft.operators.SnapshotBench [sfDir]
  */
object SnapshotBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val wh = java.nio.file.Files
      .createTempDirectory("graft-snapbench-wh-").toString
    val spark = graft.Session.local()

    val definers = Seq("d02_minhash_lsh", "d09_ivf_neardup", "v09_pq_encode",
      "v13_knn_graph",
      // v21 commits "knn-graph-base" through the warehouse
      // (compute-if-absent → committed on first build), which v22
      // then adopts instead of rebuilding the insert-free graph
      "v21_graph_insert")
    val consumers = Seq("d15_semantic_dedup", "v10_pq_adc_topk",
      "v11_ivfpq_search", "v20_graph_beam_search",
      "v22_insert_commit_search",
      // round 13: the two remaining lifecycle ops join the gate.
      // v23 adopts "knn-graph" (the prune+repair is recomputed by
      // design — it IS the op's cost — but the underlying full graph
      // build is what adopt saves); v26 walks the committed
      // "knn-graph" directly, v20's shape at a 3x beam.
      "v23_graph_delete_search", "v26_filtered_graph_search",
      // round 14: v27 is the suite's single most expensive query
      // (round-13 verdict: it had no adopt row). It adopts
      // "knn-graph-base" (committed by v21 above) — the composed
      // prune+repair itself is recomputed by design (it IS the
      // lifecycle cost); the base build is what adopt saves.
      "v27_lifecycle_search")

    def time(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      graft.PersistRegistry.release()
      (System.nanoTime() - t0) / 1e9
    }

    // JVM warm-up (codegen + classloading), then commit every stage
    // table the consumers depend on
    time("q05_groupby_agg")
    spark.conf.set("spark.graft.snapshotWarehouse", wh)
    definers.foreach(time)

    val adopt = scala.collection.mutable.Map.empty[String, Double]
    val rebuild = scala.collection.mutable.Map.empty[String, Double]
    for (round <- 1 to 2; mode <- Seq("rebuild", "adopt")) {
      if (mode == "adopt")
        spark.conf.set("spark.graft.snapshotWarehouse", wh)
      else spark.conf.set("spark.graft.snapshotWarehouse", "")
      for (q <- consumers) {
        StageSnapshots.invalidateSessionCache() // next run = fresh session
        val t = time(q)
        val m = if (mode == "adopt") adopt else rebuild
        m(q) = math.min(t, m.getOrElse(q, Double.MaxValue))
        println(f"SNAPBENCH $q $mode round$round $t%.2f s")
      }
    }
    // round 15 (round-14 verdict stretch): the SERVING cache's
    // cold-vs-warm asymmetry joins the adopt gate. A live index's
    // first search after an epoch pays the maintained-graph
    // materialization into serving/ plus the centroid aggregation
    // (the one data-sized serving cost); repeats adopt both,
    // content-addressed by the index version tag. Stamping
    // cold = rebuild_sec / warm = adopt_sec puts a serving-cache
    // regression (warm collapsing to cold — e.g. a tag or pinning
    // bug forcing rematerialization per search) under the same
    // >2x-and->0.5s adopt gate as the warehouse snapshots.
    {
      import org.apache.spark.sql.functions._
      val idx = java.nio.file.Files
        .createTempDirectory("graft-snapbench-idx-").toString
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      graft.streaming.LifecycleIndex.bootstrap(spark, idx,
        SimilarityQueries.insertFreeBaseGraph(spark, sfDir))
      graft.streaming.StreamingGraphInsert.insertEpoch(spark,
        emb.filter(SimilarityQueries.v21BatchFilter)
          .select("vec_id", "embedding", "label"), sfDir, idx, 0L)
      graft.streaming.StreamingGraphDelete.deleteEpoch(spark,
        emb.filter(SimilarityQueries.v23DeleteFilter)
          .select("vec_id"), sfDir, idx, 0L)
      val qs = emb.filter(col("vec_id") < 20 &&
          !SimilarityQueries.v23DeleteFilter)
        .select("vec_id", "embedding")
      def t(): Double = {
        val t0 = System.nanoTime()
        graft.streaming.LifecycleIndex.search(spark, sfDir, idx, qs)
          .write.format("noop").mode("overwrite").save()
        graft.PersistRegistry.release()
        (System.nanoTime() - t0) / 1e9
      }
      rebuild("serving_search") = t() // cold: materialize + centroids
      adopt("serving_search") = math.min(t(), t()) // warm: adopt both
      println(f"SNAPBENCH serving_search cold ${rebuild("serving_search")}%.2f s warm ${adopt("serving_search")}%.2f s")
      // drop the throwaway index (base + serving graph are data-sized)
      // and its serving-cache entries (the corpus entry holds
      // persisted blocks — see LifecycleIndex.releaseIndexCaches),
      // plus the resident stream corpus the insert epoch pinned
      graft.streaming.LifecycleIndex.releaseIndexCaches(spark, idx)
      SimilarityQueries.releaseStreamCorpus(spark, sfDir)
      val s2 = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try {
        import scala.jdk.CollectionConverters._
        s2.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally s2.close()
    }
    val rows = consumers :+ "serving_search"
    println(f"${"query"}%-22s ${"rebuild"}%8s ${"adopt"}%8s ${"saved"}%7s")
    for (q <- rows) {
      val (r, a) = (rebuild(q), adopt(q))
      println(f"$q%-22s $r%8.2f $a%8.2f ${r - a}%6.2fs")
    }
    // Tracked artifact (round-11): the adopt-vs-rebuild delta is the
    // deployment-shape number (index build ≫ query) — committing it
    // as JSON gives it cross-round regression coverage like the cold
    // path's bench_detail. Path via SPARK_GRAFT_ADOPT_DETAIL or the
    // second CLI arg; skipped when neither is set (interactive use).
    val outPath = args.lift(1)
      .orElse(sys.env.get("SPARK_GRAFT_ADOPT_DETAIL")).filter(_.nonEmpty)
    // Cross-round regression gate on the ADOPT path (round-12,
    // verdict stretch): the file at the out path, if present, is the
    // prior round's committed adopt detail — read BEFORE overwrite,
    // Bench's convention. A snapshot-reuse regression (e.g. a ledger
    // bug forcing silent rebuilds: adopt_sec collapses to
    // rebuild_sec) trips the same >2x AND >0.5s rule as the cold
    // path. New consumers (no prior row) stamp their first number.
    val prior: Map[String, Double] = outPath.map { p =>
      try {
        val f = java.nio.file.Paths.get(p)
        if (java.nio.file.Files.exists(f)) {
          import org.json4s._
          (org.json4s.jackson.JsonMethods.parse(
            java.nio.file.Files.readString(f)) \ "queries") match {
            case JObject(fields) => fields.collect {
              case (q, JObject(m)) => m.collectFirst {
                case ("adopt_sec", JDouble(v)) => q -> v
                case ("adopt_sec", JInt(v)) => q -> v.toDouble
              }
            }.flatten.toMap
            case _ => Map.empty[String, Double]
          }
        } else Map.empty[String, Double]
      } catch { case _: Throwable => Map.empty[String, Double] }
    }.getOrElse(Map.empty)
    val adoptRegs = rows.flatMap { q =>
      prior.get(q).collect {
        case p if graft.BenchGate.regressed(p, adopt(q)) => (q, p, adopt(q))
      }
    }
    if (adoptRegs.nonEmpty)
      System.err.println(s"[snapbench] ${adoptRegs.size} ADOPT-path " +
        "regressions vs prior detail (>2x and >0.5s): " +
        adoptRegs.map { case (q, p, c) => f"$q ($p%.2fs -> $c%.2fs)" }
          .mkString(", "))
    outPath.foreach { p =>
      val qj = rows.map { q =>
        f""""$q":{"rebuild_sec":${rebuild(q)}%.3f,"adopt_sec":${adopt(q)}%.3f,"saved_sec":${rebuild(q) - adopt(q)}%.3f}"""
      }.mkString("{", ",", "}")
      val rj = adoptRegs.map { case (q, pr, c) =>
        f"""{"name":"$q","prev_sec":$pr%.4f,"cur_sec":$c%.4f}"""
      }.mkString("[", ",", "]")
      val line =
        s"""{"metric":"bench_adopt","sf":"$sfDir","queries":$qj,"adopt_regressions":$rj}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        line + "\n")
      println(s"SNAPBENCH detail written to $p")
    }
    spark.stop()
    if (adoptRegs.nonEmpty) sys.exit(1)
  }
}

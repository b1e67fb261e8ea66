package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Developer tools over SparkEntry's queries, in Bench's session
  * configuration (graft.Session, `local[SPARK_GRAFT_CPUS]`):
  * {{{
  *   runMain graft.Tool profile  <sfDir> <query> [query...]
  *   runMain graft.Tool explain  <sfDir> [<outDir> <query> [query...]]
  *   runMain graft.Tool plandump <query> <sfDir> [sfDir...]
  * }}}
  *  - `profile` times each query twice into the noop sink, as Bench
  *    does (count() would let Catalyst skip computing aggregate values).
  *  - `explain` writes each query's formatted pre-execution plan to
  *    `<outDir>/<query>.txt`; with no queries it writes PLANS.md for
  *    the headline list. Exchange count, join strategy, PushedFilters
  *    and ReadSchema are all visible in it; AQE may re-plan at runtime.
  *  - `plandump` executes one query per data dir and prints the FINAL
  *    (post-AQE) physical plan plus the run's shuffle-write MB — the
  *    tool for naming the cause of a scale-curve step.
  */
object Tool {
  private val Headline = Seq(
    "q02_filter_pushdown", "q05_groupby_agg", "q07_multijoin_agg",
    "q10_window_topk_per_group", "q11_sort_limit", "q30_salted_join",
    "q31_asof_join", "q43_asof_custom_exec", "q44_star_join_q5",
    "q48_kmv_distinct", "q57_bloom_prefilter", "q59_gap_fill",
    "q60_cms_freq", "d02_minhash_lsh",
    "d04_ngram_jaccard", "d05_embedding_neardup",
    "v02_ann_lsh_bucket", "v07_ivf_kmeans_build",
    "d10_canonical_docs", "s01_tumbling_window_agg",
    "v10_pq_adc_topk", "v11_ivfpq_search", "p07_filter_funnel",
    "t14_lm_quality", "p08_balanced_shards", "v12_filtered_ann",
    "p10_domain_cap", "v13_knn_graph",
    "q63_cohort_retention", "d16_substring_dedup", "v15_bm25_topk",
    "v16_rrf_hybrid", "q64_decayed_agg", "t17_tfidf_keywords",
    "q65_funnel_steps", "m05_frame_dedup", "p12_curriculum_order",
    "v19_ann_join", "p13_token_budget_cut", "p14_pack_emit",
    // the mixed-MIH multi-probe blocking, the recursive CTE, and the
    // epoch-reshuffle window (v20's result is a driver-built frame —
    // its interesting plans are the per-hop graph probes, not the
    // output)
    "m06_phash_neardup", "q67_recursive_hierarchy", "p16_epoch_shuffle",
    "s07_interval_join_outer", "d17_contamination_rate")

  private val usage =
    "usage: Tool profile <sfDir> <query>... | " +
      "Tool explain <sfDir> [<outDir> <query>...] | " +
      "Tool plandump <query> <sfDir>..."

  def main(args: Array[String]): Unit = {
    val verb: SparkSession => Unit = args.toList match {
      case "profile" :: sfDir :: names if names.nonEmpty =>
        profile(_, sfDir, names)
      case "explain" :: sfDir :: Nil => plansMd(_, sfDir)
      case "explain" :: sfDir :: outDir :: names if names.nonEmpty =>
        explain(_, sfDir, outDir, names)
      case "plandump" :: name :: dirs if dirs.nonEmpty =>
        planDump(_, name, dirs)
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = Session.local()
    try verb(spark) finally spark.stop()
  }

  private def profile(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit =
    for (n <- names; i <- 1 to 2) {
      println(f"PROF $n run$i ${Bench.timed(spark, n, sfDir)}%.2f s")
      PersistRegistry.release()
    }

  /** Formatted explain with JVM-run-specific lambda ids and addresses
    * masked, so regenerating a dump is idempotent and real plan
    * changes show up in the diff. */
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)
      .replaceAll("\\$\\$Lambda[$/][\\w/$]*(@[0-9a-f]+)?", "\\$\\$Lambda<id>")
      .replaceAll("@[0-9a-f]{6,}", "@<addr>")

  private def explain(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      val plan = formatted(SparkEntry.queries(n)(spark, sfDir))
      PersistRegistry.release()
      Files.writeString(Paths.get(s"$outDir/$n.txt"), plan)
      println(s"[explain] wrote $outDir/$n.txt (${plan.length} chars)")
    }
  }

  private def plansMd(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.Tool explain` over `$sfDir` at\n")
    sb.append(s"local[${spark.sparkContext.defaultParallelism}] (AQE may ")
    sb.append("re-plan exchanges at runtime). Things to\n")
    sb.append("read for: `PushedFilters`/`ReadSchema` on scans, `Batched`\n")
    sb.append("columnar reads, broadcast vs shuffle joins, and how few\n")
    sb.append("`Exchange` nodes each plan carries.\n")
    for (name <- Headline) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      PersistRegistry.release()
      sb.append(s"\n## $name\n\n```\n").append(plan.trim).append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${Headline.size} queries)")
  }

  private def planDump(spark: SparkSession, name: String,
      dirs: Seq[String]): Unit = {
    for (dir <- dirs) {
      val df = SparkEntry.queries(name)(spark, dir)
      // execute df's OWN QueryExecution: df.count()/noop-write build a
      // DERIVED execution, leaving df.queryExecution.executedPlan the
      // static pre-AQE guess (isFinalPlan=false) — the exact
      // non-evidence this tool must never print. toRdd is the executed
      // plan's RDD, so counting it finalizes adaptive re-planning in
      // THIS QueryExecution without materializing rows on the driver.
      val (nRows, cost) =
        Ledger.measure(spark, name)(df.queryExecution.toRdd.count())
      PersistRegistry.release()
      println(s"==== PLANDUMP $name @ $dir rows=$nRows " +
        f"shuffleMB=${cost.shuffleWriteMb}%.2f ====")
      val plan = df.queryExecution.executedPlan.toString
      require(!plan.contains("isFinalPlan=false"),
        "executed plan still carries isFinalPlan=false — the dump " +
        "would be the static guess, not evidence")
      println(plan)
      println(s"==== END $name @ $dir ====")
    }
  }
}

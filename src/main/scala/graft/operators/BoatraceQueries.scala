package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.boatrace.BoatracePipeline
import graft.sources.Parquet

/** Driver-visible entry points for the boatrace parity pipeline. These
  * ignore the testdata sfDir (they read the reference's own CP932
  * corpus). The PARSE layer's correctness gate is the golden
  * differential suite (KbParserGoldenSpec / BoatracePipelineSpec /
  * SeptemberGoldenSpec: odds byte-identical and race table
  * value-identical to the reference outputs for all 61 golden dates).
  * The RELATIONAL layer on top (joins, aggregates, windows) is
  * additionally DuckDB-oracle-checked: Verify dumps the string-typed
  * parsed base tables as parquet under its outDir and the oracle SQL
  * below recomputes the join/agg/window in DuckDB over that dump
  * (`__VERIFY_OUT__` is substituted with the real outDir at dump
  * time). The odds and date-query oracles are stronger still — they
  * read the reference's own committed golden CSVs, an engine-
  * independent source.
  */
object BoatraceQueries {

  private val txtDir = "/root/reference/txt"

  /** Placeholder in oracle SQL replaced by Verify with its outDir. */
  val OutDirToken = "__VERIFY_OUT__"

  // Parse once per session (the parsed dataset is persisted; four
  // queries share it instead of each re-reading the corpus).
  private val parsedCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      org.apache.spark.sql.Dataset[BoatracePipeline.ParsedFile]]()

  private def tables(s: SparkSession) = {
    // `spark.graft.boatraceBaseDir` points the audits at an already-
    // materialized set of base tables instead of the parsed fixture
    // corpus — the scale harness (ScaleCheck) uses it to run a05/a06
    // over N×-replicated parsed tables (round-13 verdict: the
    // boatrace audits had no 25×/100× scale rows). Empty = parse the
    // golden fixtures, as always.
    val overrideDir = s.conf.get("spark.graft.boatraceBaseDir", "")
    if (overrideDir.nonEmpty) {
      def rd(t: String) = Parquet.read(s, s"$overrideDir/$t")
      (rd("env"), rd("result"), rd("odds"), rd("schedule"))
    } else {
      val parsed = parsedCache.computeIfAbsent(s,
        sess => BoatracePipeline.parseDir(sess, txtDir))
      (BoatracePipeline.envDf(s, parsed),
        BoatracePipeline.resultDf(s, parsed),
        BoatracePipeline.oddsDf(s, parsed),
        BoatracePipeline.scheduleDf(s, parsed))
    }
  }

  /** The typed denormalized race table, shared through a pipeline-
    * stage snapshot (round 21 — guide §1.2, the d02→d08/d10 and
    * d04/d07→d13 precedent): FIVE queries (race_table, player_stats,
    * player_form, lane_bias, betting_sim) each re-ran the same
    * env⋈result⋈schedule join over the parsed corpus.
    * boatrace_race_table is the DEFINING query (always recompute +
    * rewrite — its bench number keeps the full parse+join cost); the
    * others consume compute-if-absent, so their numbers are the
    * aggregation/window work they actually add. The ScaleCheck
    * boatraceBaseDir override bypasses the snapshot entirely: its
    * data varies under one session key, and the scale harness must
    * time the real recompute. */
  private def race(s: SparkSession, define: Boolean = false): DataFrame = {
    def build() = {
      val (env, result, _, schedule) = tables(s)
      BoatracePipeline.typedRace(
        BoatracePipeline.raceTable(env, result, schedule))
    }
    if (s.conf.get("spark.graft.boatraceBaseDir", "").nonEmpty) build()
    else if (define) StageSnapshots.define(s, txtDir, "boatrace-race")(build())
    else StageSnapshots.snapshot(s, txtDir, "boatrace-race")(build())
  }

  /** Write the string-typed parsed base tables for the DuckDB oracle
    * to join/aggregate over (called by Verify; see class doc). The
    * dump is the direct flatMap output — the joins/aggs under test are
    * NOT applied here, so the oracle recomputation is independent. */
  def dumpBaseTables(s: SparkSession, outDir: String): Unit = {
    val (env, result, odds, schedule) = tables(s)
    Seq("env" -> env, "result" -> result, "odds" -> odds,
      "schedule" -> schedule).foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/boatrace_base/$name")
    }
  }

  /** The DuckDB form of BoatracePipeline.raceTable + typedRace over
    * the Verify base-table dump (shared by several oracles below). */
  private val raceOracleCte =
    s"""race AS (
       |  SELECT e."レースID", e."天候", e."風向",
       |    CAST(e."風速" AS INT) AS "風速", CAST(e."波高" AS INT) AS "波高",
       |    e."会場", CAST(r."順位" AS INT) AS "順位", r."選手登番",
       |    CAST(r."展示" AS DOUBLE) AS "展示",
       |    CAST(s."艇番" AS INT) AS "艇番", s."名前",
       |    CAST(s."年齢" AS INT) AS "年齢", s."支部",
       |    CAST(s."体重" AS INT) AS "体重", s."階級",
       |    CAST(s."全国勝率" AS DOUBLE) AS "全国勝率",
       |    CAST(s."全国2率" AS DOUBLE) AS "全国2率",
       |    CAST(s."当地勝率" AS DOUBLE) AS "当地勝率",
       |    CAST(s."当地2率" AS DOUBLE) AS "当地2率",
       |    CAST(s."モーター2率" AS DOUBLE) AS "モーター2率",
       |    CAST(s."ボート2率" AS DOUBLE) AS "ボート2率",
       |    CAST(substr(e."レースID", 1, 10) AS DATE) AS date,
       |    CAST(regexp_extract(e."レースID", '(\\d+)R$$', 1) AS INT) AS race_no
       |  FROM read_parquet('$OutDirToken/boatrace_base/env/*.parquet') e
       |  JOIN read_parquet('$OutDirToken/boatrace_base/result/*.parquet') r
       |    ON e."レースID" = r."レースID"
       |  JOIN read_parquet('$OutDirToken/boatrace_base/schedule/*.parquet') s
       |    ON r."レースID" = s."レースID" AND r."選手登番" = s."選手登番")""".stripMargin

  /** PK-uniqueness audit row (a05): same output shape as a04's
    * (QualityQueries.uniq), over a parsed boatrace base table. */
  private def uniqB(name: String, df: DataFrame,
      keys: Seq[String]): DataFrame = {
    // Round 21 (guide §1.2, same one-pass rewrite as a04's uniq):
    // n_rows = sum of per-key counts ≡ count(*) — exact — so each
    // audited table pays ONE extraction pass over the parsed corpus
    // instead of two; coalesce keeps the 0-row case identical.
    val perKey = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
    perKey.agg(coalesce(sum("c"), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_keys"), max(col("c")).as("max_mult"))
      .select(lit(name).as("table_name"), col("n_rows"), col("n_keys"),
        (col("n_rows") - col("n_keys")).as("n_dup_rows"), col("max_mult"))
  }

  /** Referential audit row (a06): orphans of `child` with no
    * matching `parent` on the (possibly composite) key — an anti
    * join, dup-insensitive so the parent needs no distinct. The
    * parent side is race- or entry-cardinality here; AQE broadcasts
    * the smaller side, and at warehouse scale the key is the date-
    * partitioned レースID prefix so the join prunes partitions. */
  private def orphanEdge(name: String, child: DataFrame,
      parent: DataFrame, keys: Seq[String]): DataFrame = {
    val nn = keys.map(col(_).isNotNull).reduce(_ && _)
    val orphans = child.filter(nn)
      .join(parent.select(keys.map(col): _*), keys, "left_anti")
    child.agg(count(lit(1)).as("n_child"))
      .crossJoin(orphans.agg(count(lit(1)).as("n_orphan")))
      .select(lit(name).as("edge"), col("n_child"), col("n_orphan"))
  }

  private def baseTableSql(t: String): String =
    s"read_parquet('$OutDirToken/boatrace_base/$t/*.parquet')"

  val all: Seq[QueryDef] = Seq(

    // The reference's flagship artifact: the denormalized race table
    // (main.py:257-263), typed and decomposed for partition pruning.
    QueryDef(
      "boatrace_race_table",
      s"""WITH $raceOracleCte
         |SELECT * FROM race ORDER BY "レースID", "艇番"""".stripMargin) {
      (s, _) =>
        race(s, define = true).orderBy("レースID", "艇番")
    },

    // Odds payout table (main.py:107) with void sentinel semantics.
    // Oracle = the reference's own committed golden CSVs (engine-
    // independent): all 31 August dates, raw strings preserved.
    QueryDef(
      "boatrace_odds",
      """SELECT * FROM read_csv('/root/reference/odds/2020-08-*.csv',
        |  header=true, all_varchar=true)
        |ORDER BY "レースID"""".stripMargin) { (s, _) =>
      tables(s)._3.orderBy("レースID")
    },

    // SURVEY §2.6: the per-player aggregates the reference's
    // downstream model needs (starts / wins / mean exhibition time) —
    // README.md:19's 出走回数 / 優勝回数 / 平均ST class of features.
    QueryDef(
      "boatrace_player_stats",
      s"""WITH $raceOracleCte
         |SELECT "選手登番", count(*) AS starts,
         |  CAST(sum(CASE WHEN "順位" = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS wins,
         |  (CAST(sum(CAST(round("展示" * 100, 0) AS BIGINT)) AS BIGINT)
         |    * 100 // count(*)) / 10000.0 AS avg_exhibition,
         |  (CAST(sum(CAST(round("全国勝率" * 100, 0) AS BIGINT)) AS BIGINT)
         |    * 100 // count(*)) / 10000.0 AS avg_national_win_rate
         |FROM race GROUP BY "選手登番" ORDER BY "選手登番"""".stripMargin) {
      (s, _) =>
        val raceDf = race(s)
        // The means are fixed-point to 4 decimals via exact integer
        // arithmetic: sum integer cents (source values have 2
        // decimals), floor-divide, then ONE division by 10⁴. A float
        // avg() varies in the last ulp with summation order, and
        // round() of a near-tie double disagrees across engines
        // (decimal-string vs binary rounding) — the integer form is
        // bit-identical everywhere by construction.
        raceDf.groupBy("選手登番")
          .agg(
            count(lit(1)).as("starts"),
            sum(when(col("順位") === 1, 1).otherwise(0)).as("wins"),
            sum(round(col("展示") * 100, 0).cast("long")).as("ex_cents"),
            sum(round(col("全国勝率") * 100, 0).cast("long")).as("nw_cents"))
          .select(col("選手登番"), col("starts"), col("wins"),
            (expr("ex_cents * 100 div starts") / 10000.0)
              .as("avg_exhibition"),
            (expr("nw_cents * 100 div starts") / 10000.0)
              .as("avg_national_win_rate"))
          .orderBy("選手登番")
    },

    // Leak-free ML feature view: per (race, player), the player's form
    // STRICTLY BEFORE that race — prior starts / wins / win rate /
    // mean exhibition time. This is the feature shape the reference's
    // downstream LightGBM model needs (README.md:19): computing it
    // with a plain groupBy (boatrace_player_stats) leaks the race's
    // own outcome into its features; the `rowsBetween(unbounded, -1)`
    // frame cannot. One shuffle on 選手登番, then a single ordered
    // window pass per player.
    QueryDef(
      "boatrace_player_form",
      s"""WITH $raceOracleCte
         |SELECT "レースID", date, "選手登番", "順位", "展示",
         |  count(*) OVER w AS prior_starts,
         |  CAST(coalesce(
         |    sum(CASE WHEN "順位" = 1 THEN 1 ELSE 0 END) OVER w, 0)
         |    AS BIGINT) AS prior_wins,
         |  CASE WHEN count(*) OVER w > 0 THEN
         |    CAST(coalesce(
         |      sum(CASE WHEN "順位" = 1 THEN 1 ELSE 0 END) OVER w, 0)
         |      AS DOUBLE) / (count(*) OVER w) END AS prior_win_rate,
         |  (CAST(sum(CAST(round("展示" * 100, 0) AS BIGINT)) OVER w
         |    AS BIGINT) * 100 // (count(*) OVER w)) / 10000.0
         |    AS prior_avg_exhibition
         |FROM race
         |WINDOW w AS (PARTITION BY "選手登番" ORDER BY date, "レースID"
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |ORDER BY "レースID", "選手登番"""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("選手登番").orderBy("date", "レースID")
        .rowsBetween(Window.unboundedPreceding, -1)
      race(s).select(col("レースID"), col("date"), col("選手登番"),
          col("順位"), col("展示"))
        .withColumn("prior_starts", count(lit(1)).over(w))
        // sum over the empty first-race frame is NULL (count is 0) —
        // a debut player has 0 prior wins, not unknown
        .withColumn("prior_wins",
          coalesce(sum(when(col("順位") === 1, 1).otherwise(0)).over(w),
            lit(0L)))
        .withColumn("prior_win_rate",
          when(col("prior_starts") > 0,
            col("prior_wins").cast("double") / col("prior_starts")))
        // exact integer fixed-point (see boatrace_player_stats note):
        // bit-identical across engines, NULL on the empty first frame
        .withColumn("prior_ex_cents",
          sum(round(col("展示") * 100, 0).cast("long")).over(w))
        .withColumn("prior_avg_exhibition",
          expr("prior_ex_cents * 100 div prior_starts") / 10000.0)
        .drop("prior_ex_cents")
        .orderBy("レースID", "選手登番")
    },

    // The sport's best-known structural stat — lane (course) bias:
    // win rate by starting lane. Lane 1 holds the inside line and wins
    // a plurality of races; the spec pins that ordering, which also
    // functions as an end-to-end sanity check that ranks/lanes
    // survived parsing intact.
    QueryDef(
      "boatrace_lane_bias",
      s"""WITH $raceOracleCte
         |SELECT "艇番", count(*) AS starts,
         |  CAST(sum(CASE WHEN "順位" = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS wins,
         |  (CAST(sum(CASE WHEN "順位" = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 10000 // count(*)) / 10000.0 AS win_rate
         |FROM race GROUP BY "艇番" ORDER BY "艇番"""".stripMargin) { (s, _) =>
      // win_rate as exact integer fixed-point (see player_stats note)
      race(s).groupBy("艇番")
        .agg(count(lit(1)).as("starts"),
          sum(when(col("順位") === 1, 1L).otherwise(0L)).as("wins"))
        .withColumn("win_rate", expr("wins * 10000 div starts") / 10000.0)
        .orderBy("艇番")
    },

    // The reference's downstream workload (README.md:23-44) is a
    // betting simulation over the race table + odds — its model is
    // LightGBM (out of scope), so this runs the strongest
    // non-learned predictor instead: bet the boat with the best
    // national win rate (全国勝率). Per-race argmax via row_number,
    // then one join against the odds payouts; 単勝 (win-bet)
    // accuracy and ROI come out as one metrics row. The reference's
    // trained model reports 0.653 accuracy / 114% ROI — this
    // feature-only baseline lands near 0.5 / <100%, the gap the model
    // earns (the comparison to those published metrics stays a spec
    // bound; the relational core below is DuckDB-recomputed over the
    // Verify base-table dump, same mechanism as player_stats).
    // Metrics are exact integer fixed-point to 4 decimals (see the
    // player_stats note) so the hashes are bit-identical by
    // construction, not by rounding luck.
    QueryDef(
      "boatrace_betting_sim",
      s"""WITH $raceOracleCte,
         |bets AS (
         |  SELECT "レースID", "艇番" AS bet_boat, ("順位" = 1) AS hit
         |  FROM (SELECT "レースID", "艇番", "順位",
         |          row_number() OVER (PARTITION BY "レースID"
         |            ORDER BY "全国勝率" DESC, "艇番") AS rn
         |        FROM race) t
         |  WHERE rn = 1),
         |j AS (
         |  SELECT b.hit, CAST(o."単勝" AS INT) AS win_payout
         |  FROM bets b
         |  JOIN read_parquet('$OutDirToken/boatrace_base/odds/*.parquet') o
         |    ON b."レースID" = o."レースID"),
         |m AS (
         |  SELECT count(*) AS n_races,
         |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |    CAST(sum(CASE WHEN hit AND win_payout > 0
         |          THEN win_payout ELSE 0 END) AS BIGINT) AS payout_sum
         |  FROM j)
         |SELECT n_races, n_hits,
         |  (n_hits * 10000 // n_races) / 10000.0 AS accuracy,
         |  (payout_sum * 100 // n_races) / 10000.0 AS roi
         |FROM m""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.expressions.Window
      val odds = tables(s)._3
      val w = Window.partitionBy("レースID")
        .orderBy(col("全国勝率").desc, col("艇番"))
      val bets = race(s)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("レースID"), col("艇番").as("bet_boat"),
          (col("順位") === 1).as("hit"))
      bets
        // odds is race-cardinality (a fact, not a dim) — no broadcast
        // hint; the join shuffles on レースID like the race table build
        .join(odds.select(col("レースID"),
          col("単勝").cast("int").as("win_payout")), Seq("レースID"))
        // 不成立/void payouts are -1 sentinels (SURVEY §2.3): no payout
        .agg(count(lit(1)).as("n_races"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
          sum(when(col("hit") && col("win_payout") > 0,
            col("win_payout").cast("long")).otherwise(0L)).as("payout_sum"))
        // ROI per 100-yen stake: payout_sum/(n_races*100), fixed-point
        // to 4 decimals via one integer floor-div then ONE division
        .select(col("n_races"), col("n_hits"),
          (expr("n_hits * 10000 div n_races") / 10000.0).as("accuracy"),
          (expr("payout_sum * 100 div n_races") / 10000.0).as("roi"))
    },

    // R5: the reference's `レースID LIKE '2020-08-28%'` (read_db.py:19)
    // as file selection: the date is in the official file names, so a
    // one-date query decodes that date's K and B files (2 of the 62
    // corpus files) instead of parsing everything and filtering after
    // (the file-granularity form of partition pruning; the warehouse
    // layout's date partitions give the same property post-ETL).
    // Oracle = the reference's committed golden table CSV for the
    // queried date (engine-independent: that CSV IS the reference's
    // own env⋈result⋈schedule join output for 2020-08-28).
    QueryDef(
      "boatrace_date_query",
      """SELECT "レースID", CAST("順位" AS INT) AS "順位", "選手登番",
        |  CAST("艇番" AS INT) AS "艇番", CAST("展示" AS DOUBLE) AS "展示"
        |FROM read_csv('/root/reference/table/2020-08-28.csv',
        |  header=true, all_varchar=true)
        |ORDER BY "レースID", "順位"""".stripMargin) { (s, _) =>
      val parsed = graft.PersistRegistry.track(
        BoatracePipeline.parseDir(s, txtDir, "[KB]200828.TXT"))
      BoatracePipeline.typedRace(BoatracePipeline.raceTable(
          BoatracePipeline.envDf(s, parsed),
          BoatracePipeline.resultDf(s, parsed),
          BoatracePipeline.scheduleDf(s, parsed)))
        .select("レースID", "順位", "選手登番", "艇番", "展示")
        .orderBy("レースID", "順位")
    },

    // Data-quality audits over the boatrace domain (round 13): the
    // a01-a04 family covered the synthetic schema only, but the
    // reference's ACTUAL data-quality story is here — its composite
    // PK (レースID, 選手登番) and the rows its inner join silently
    // drops (main.py:262). a05 audits the declared PKs of all four
    // parsed base tables; same shape and mechanics as a04 (one
    // partial-aggregated groupBy per table).
    QueryDef(
      "a05_boatrace_pk",
      s"""SELECT table_name, n_rows, n_keys, n_rows - n_keys AS n_dup_rows,
         |       max_mult FROM (
         |  SELECT 'env' AS table_name,
         |    (SELECT count(*) FROM ${baseTableSql("env")}) AS n_rows,
         |    (SELECT count(*) FROM (SELECT DISTINCT "レースID"
         |       FROM ${baseTableSql("env")})) AS n_keys,
         |    (SELECT max(c) FROM (SELECT count(*) AS c
         |       FROM ${baseTableSql("env")} GROUP BY "レースID")) AS max_mult
         |  UNION ALL
         |  SELECT 'odds',
         |    (SELECT count(*) FROM ${baseTableSql("odds")}),
         |    (SELECT count(*) FROM (SELECT DISTINCT "レースID"
         |       FROM ${baseTableSql("odds")})),
         |    (SELECT max(c) FROM (SELECT count(*) AS c
         |       FROM ${baseTableSql("odds")} GROUP BY "レースID"))
         |  UNION ALL
         |  SELECT 'result',
         |    (SELECT count(*) FROM ${baseTableSql("result")}),
         |    (SELECT count(*) FROM (SELECT DISTINCT "レースID", "選手登番"
         |       FROM ${baseTableSql("result")})),
         |    (SELECT max(c) FROM (SELECT count(*) AS c
         |       FROM ${baseTableSql("result")}
         |       GROUP BY "レースID", "選手登番"))
         |  UNION ALL
         |  SELECT 'schedule',
         |    (SELECT count(*) FROM ${baseTableSql("schedule")}),
         |    (SELECT count(*) FROM (SELECT DISTINCT "レースID", "選手登番"
         |       FROM ${baseTableSql("schedule")})),
         |    (SELECT max(c) FROM (SELECT count(*) AS c
         |       FROM ${baseTableSql("schedule")}
         |       GROUP BY "レースID", "選手登番"))
         |) u ORDER BY table_name""".stripMargin) { (s, _) =>
      val (env, result, odds, schedule) = tables(s)
      uniqB("env", env, Seq("レースID"))
        .unionAll(uniqB("odds", odds, Seq("レースID")))
        .unionAll(uniqB("result", result, Seq("レースID", "選手登番")))
        .unionAll(uniqB("schedule", schedule, Seq("レースID", "選手登番")))
        .orderBy("table_name")
    },

    // a06: the orphan edges the reference's inner joins drop without
    // a trace — env races with no finishers (cancelled races that
    // still printed an env header), finishers missing from the
    // schedule and vice versa (the 2-finisher race / absent-race
    // corpus edge cases, SURVEY §5), and odds rows with no env.
    // Anti joins, mirroring a02's mechanics. The orphan count's
    // child side carries the same IS NOT NULL predicate as the Scala
    // anti join (orphanEdge's `nn` filter): a NULL key never matches
    // under NOT EXISTS, so without it the two sides would disagree on
    // any null-keyed child row (round-13 advice).
    QueryDef(
      "a06_boatrace_orphans",
      s"""WITH e AS (SELECT * FROM ${baseTableSql("env")}),
         |r AS (SELECT * FROM ${baseTableSql("result")}),
         |s AS (SELECT * FROM ${baseTableSql("schedule")}),
         |o AS (SELECT * FROM ${baseTableSql("odds")})
         |SELECT edge, n_child, n_orphan FROM (
         |  SELECT 'env->result' AS edge,
         |    (SELECT count(*) FROM e) AS n_child,
         |    (SELECT count(*) FROM e WHERE e."レースID" IS NOT NULL
         |      AND NOT EXISTS
         |      (SELECT 1 FROM r WHERE r."レースID" = e."レースID"))
         |      AS n_orphan
         |  UNION ALL
         |  SELECT 'odds->env', (SELECT count(*) FROM o),
         |    (SELECT count(*) FROM o WHERE o."レースID" IS NOT NULL
         |      AND NOT EXISTS
         |      (SELECT 1 FROM e WHERE e."レースID" = o."レースID"))
         |  UNION ALL
         |  SELECT 'result->env', (SELECT count(*) FROM r),
         |    (SELECT count(*) FROM r WHERE r."レースID" IS NOT NULL
         |      AND NOT EXISTS
         |      (SELECT 1 FROM e WHERE e."レースID" = r."レースID"))
         |  UNION ALL
         |  SELECT 'result->schedule', (SELECT count(*) FROM r),
         |    (SELECT count(*) FROM r r2 WHERE r2."レースID" IS NOT NULL
         |      AND r2."選手登番" IS NOT NULL AND NOT EXISTS
         |      (SELECT 1 FROM s WHERE s."レースID" = r2."レースID"
         |         AND s."選手登番" = r2."選手登番"))
         |  UNION ALL
         |  SELECT 'schedule->result', (SELECT count(*) FROM s),
         |    (SELECT count(*) FROM s s2 WHERE s2."レースID" IS NOT NULL
         |      AND s2."選手登番" IS NOT NULL AND NOT EXISTS
         |      (SELECT 1 FROM r WHERE r."レースID" = s2."レースID"
         |         AND r."選手登番" = s2."選手登番"))
         |) x ORDER BY edge""".stripMargin) { (s, _) =>
      val (env, result, odds, schedule) = tables(s)
      orphanEdge("env->result", env, result, Seq("レースID"))
        .unionAll(orphanEdge("odds->env", odds, env, Seq("レースID")))
        .unionAll(orphanEdge("result->env", result, env, Seq("レースID")))
        .unionAll(orphanEdge("result->schedule", result, schedule,
          Seq("レースID", "選手登番")))
        .unionAll(orphanEdge("schedule->result", schedule, result,
          Seq("レースID", "選手登番")))
        .orderBy("edge")
    },
  )

  /** The queries that read the boatrace corpus instead of the sf dir —
    * the one test for "corpus query" (Verify's base-table dump,
    * ScaleCheck's replicated tables, EmptyInputSpec's skip). */
  lazy val names: Set[String] = all.map(_.name).toSet
}

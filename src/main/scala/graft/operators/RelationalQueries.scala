package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShims.{column, expression}

import graft.functions.TextKernels
import graft.sources.Tables

/** The relational operator surface of SURVEY.md §2.4-2.6, re-expressed
  * over the synthetic star schema (TESTDATA.md) so every operator is
  * oracle-checkable against DuckDB.
  *
  * Reference provenance (cited per query): the reference's query layer
  * is read_db.py:19-38 (full scans, LIKE-prefix, OR-disjunction,
  * schema listing) plus the two pandas inner merges main.py:257-263;
  * aggregation/window/sort capability is required by its downstream
  * model (README.md:19, SURVEY §2.6) though absent from the repo.
  *
  * Scale notes (100 TB): every query here is a declarative DataFrame
  * plan — filters and projections reach the parquet scan (verified via
  * explain in RelationalQueriesSpec), small dimension tables are
  * explicitly `broadcast`, and aggregates are partial (map-side
  * combine) by construction. The final `orderBy` on each query exists
  * for oracle determinism; at production scale callers drop it (it is
  * the last stage, so it does not change the shape of the work before
  * it).
  */
object RelationalQueries {
  import QueryDef.apply

  val all: Seq[QueryDef] = Seq(

    // R4 (read_db.py:36): full scan with projection — column pruning
    // must reach the scan (only 4 of 11 lineitem columns read).
    QueryDef(
      "q01_scan_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (s, d) =>
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
    },

    // P5-as-relational (SURVEY §2.2): filter + project; predicates push
    // down to parquet (PushedFilters on l_shipdate/l_discount).
    QueryDef(
      "q02_filter_pushdown",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_shipdate AS DATE) AS ship_date, l_discount
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"), col("l_discount"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // R5 (read_db.py:19): LIKE-prefix predicate. The reference fakes
    // date partition pruning with `レースID LIKE '2020-09-28%'`; on a
    // partitioned layout this becomes real pruning (see BoatracePipeline).
    QueryDef(
      "q03_prefix_like",
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE p_name LIKE 'small%' ORDER BY p_partkey""".stripMargin) {
      (s, d) =>
        Tables.part(s, d)
          .filter(col("p_name").startsWith("small"))
          .select("p_partkey", "p_name", "p_brand")
          .orderBy("p_partkey")
    },

    // R6 (read_db.py:22-27): disjunctive predicate (OR of prefixes).
    QueryDef(
      "q04_or_predicate",
      """SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT"
          || col("o_orderpriority") === "2-HIGH")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // SURVEY §2.6 aggregation capability (TPC-H Q1 shape): grouped
    // aggregate with partial (map-side) combine — no shuffle of raw rows.
    QueryDef(
      "q05_groupby_agg",
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE), 2)
        |         AS sum_qty,
        |       round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |                  AS DOUBLE) / 100.0, 2) AS sum_base_price,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |            AS DOUBLE) / 10000.0 AS sum_disc_price,
        |       round(CAST(sum(CAST(round(l_discount * 100, 0) AS BIGINT))
        |                  AS DOUBLE) / 100.0 / count(*), 2) AS avg_disc,
        |       count(*)                          AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      // Money aggregates as INTEGER-CENTS sums: the source values have
      // <= 2 decimals, so round(x*100) recovers exact cents (one IEEE
      // multiply + one half-away round, bit-identical on both
      // engines), long sums are order-independent AND stay in
      // whole-stage codegen's primitive path — measurably faster than
      // Spark's 128-bit Decimal aggregation (q05 2x at sf0.1). Sums
      // fit comfortably in Long (6e14 max here vs 2^53 double / 2^63
      // long). Ratios divide AFTER the exact sum, identically on both
      // engines.
      val epCents = round(col("l_extendedprice") * 100, 0).cast("bigint")
      val discCents = round(col("l_discount") * 100, 0).cast("bigint")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(col("l_quantity").cast("bigint")).cast("double"), 2)
            .as("sum_qty"),
          round(sum(epCents).cast("double") / 100.0, 2).as("sum_base_price"),
          (sum(epCents * (lit(100) - discCents)).cast("double") / 10000.0)
            .as("sum_disc_price"),
          round(sum(discCents).cast("double") / 100.0 / count(lit(1)), 2)
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // R1 (main.py:262 env⋈result): 1:N inner equi-join with an
    // explicitly broadcast small side (region is tiny at any SF).
    QueryDef(
      "q06_broadcast_join",
      """SELECT n_nationkey, n_name, r_name FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    },

    // R2 (main.py:262 composite-key join) generalized to the TPC-H Q3
    // shape: 3-way join + grouped aggregate. customer (small) is
    // broadcast; orders⋈lineitem shuffles on the join key once and the
    // aggregate reuses that co-partitioning.
    QueryDef(
      "q07_multijoin_agg",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |                * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |            AS DOUBLE) / 10000.0 AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate  > TIMESTAMP '1996-06-30'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
      // integer-cents revenue (see q05): exact, order-independent, and
      // keeps the aggregate in codegen's primitive Long path
      val revCents = round(col("l_extendedprice") * 100, 0).cast("bigint") *
        (lit(100) - round(col("l_discount") * 100, 0).cast("bigint"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg((sum(revCents).cast("double") / 10000.0).as("revenue"))
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("order_date"), col("revenue"))
        .orderBy("o_orderkey")
    },

    // R3 (main.py:224 append): UNION ALL of disjoint subsets.
    QueryDef(
      "q08_union_all",
      """SELECT o_orderkey, o_orderstatus, o_totalprice, 'finished_big' AS tag
        |FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 300000
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice, 'open_small' AS tag
        |FROM orders WHERE o_orderstatus = 'O' AND o_totalprice < 10000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val a = o.filter(col("o_orderstatus") === "F" && col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit("finished_big").as("tag"))
      val b = o.filter(col("o_orderstatus") === "O" && col("o_totalprice") < 10000)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          lit("open_small").as("tag"))
      a.unionByName(b).orderBy("o_orderkey")
    },

    // Exact distinct (dedup in relational form; SURVEY §2.6 set-op gap).
    QueryDef(
      "q09_distinct",
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // SURVEY §2.6 window capability: top-3 orders per customer.
    // row_number with a total order (price desc, key asc) so ranks are
    // deterministic under ties.
    QueryDef(
      "q10_window_topk_per_group",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // Global top-k (sort + limit) — TakeOrderedAndProject physical op,
    // no full sort shuffle at scale.
    QueryDef(
      "q11_sort_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) {
      (s, d) =>
        Tables.orders(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select("o_orderkey", "o_totalprice")
          .limit(100)
    },

    // EXISTS as left-semi join (shuffle-free if right side broadcasts).
    QueryDef(
      "q12_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // NOT EXISTS as left-anti join (customers with no urgent order —
    // the filter keeps the result non-empty so the oracle check is a
    // real value comparison, not a trivially-empty match).
    QueryDef(
      "q13_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // Aggregate + HAVING (post-aggregation filter).
    QueryDef(
      "q14_agg_having",
      """SELECT o_custkey, count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS total_spent
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 12
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
            .as("total_spent"))
        .filter(col("n_orders") >= 12)
        .orderBy("o_custkey")
    },

    // §2.5 scalar-function surface: concat / substring / replace /
    // regexp_extract / lpad / upper / length — the reference's string
    // ops (race-ID concat main.py:163, replace main.py:203-207,
    // regex extracts patterns.py:26-28, zero-pad main.py:274).
    QueryDef(
      "q15_string_functions",
      """SELECT p_partkey,
        |       concat(p_brand, '#', p_type)            AS brand_type,
        |       substring(p_name, 1, 5)                 AS name5,
        |       upper(p_type)                            AS type_upper,
        |       replace(p_name, ' ', '_')                AS name_us,
        |       regexp_extract(p_name, '^(\w+)', 1)      AS first_word,
        |       lpad(CAST(p_size AS VARCHAR), 4, '0')    AS size_pad,
        |       CAST(length(p_name) AS INT)              AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 5).as("name5"),
        upper(col("p_type")).as("type_upper"),
        regexp_replace(col("p_name"), " ", "_").as("name_us"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        length(col("p_name")).as("name_len"))
        .orderBy("p_partkey")
    },

    // §2.5 date surface: year/month extraction, last_day (the
    // reference's calendar.monthrange, main.py:272), month truncation.
    QueryDef(
      "q16_date_functions",
      """SELECT o_orderkey,
        |       CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS order_year,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
        |       CAST(EXTRACT(DAY FROM last_day(CAST(o_orderdate AS DATE))) AS INT)
        |         AS days_in_month,
        |       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        dayofmonth(last_day(col("o_orderdate").cast("date"))).as("days_in_month"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"))
        .orderBy("o_orderkey")
    },

    // Conditional aggregation (pivot-by-CASE).
    QueryDef(
      "q17_conditional_agg",
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |         THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE), 2) AS sum_f,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |         THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE), 2) AS sum_o,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |         THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE), 2) AS sum_p,
        |       count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin) { (s, d) =>
      def sumStatus(st: String) =
        round(sum(when(col("o_orderstatus") === st,
          col("o_totalprice").cast("decimal(18,2)")).otherwise(0))
          .cast("double"), 2)
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(
          sumStatus("F").as("sum_f"),
          sumStatus("O").as("sum_o"),
          sumStatus("P").as("sum_p"),
          count(lit(1)).as("n"))
        .orderBy("order_year")
    },

    // Scalar subquery: orders above the global mean (broadcast the
    // 1-row aggregate, never collect to the driver).
    QueryDef(
      "q18_scalar_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val a = o.agg(avg("o_totalprice").as("ap"))
      o.join(broadcast(a))
        .filter(col("o_totalprice") > lit(1.5) * col("ap"))
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ROLLUP (multi-level aggregate in one pass).
    QueryDef(
      "q19_rollup",
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       count(*) AS n_cust,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_bal
        |FROM customer GROUP BY ROLLUP(c_mktsegment)
        |ORDER BY segment""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .rollup("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_bal"))
        .select(coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          col("n_cust"), col("sum_bal"))
        .orderBy("segment")
    },

    // JSON extraction (events.props — SURVEY §1.4 extension column).
    QueryDef(
      "q20_json_extract",
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")
    },

    // Time-bucketed aggregate — the batch analog of a tumbling-window
    // streaming agg (see graft.streaming for the readStream form).
    QueryDef(
      "q21_time_bucket_agg",
      """SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY bucket_hour, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bucket_hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_value"))
        .orderBy("bucket_hour", "event_type")
    },

    // Sessionization via lag-gap (30-min inactivity), exact to the
    // microsecond on both engines (epoch-micros arithmetic).
    QueryDef(
      "q22_sessionize",
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(new_session) AS INT) AS n_sessions FROM (
        |  SELECT user_id,
        |         CASE WHEN prev_us IS NOT NULL
        |                AND (epoch_us(ts) - prev_us) <= 1800000000
        |              THEN 0 ELSE 1 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |            ORDER BY ts, event_id) AS prev_us
        |        FROM events) s
        |) t GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_us").isNotNull
            && (unix_micros(col("ts")) - col("prev_us")) <= 1800000000L, 0)
            .otherwise(1))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("new_session").cast("int").as("n_sessions"))
        .orderBy("user_id")
    },

    // INTERSECT (distinct set semantics on both engines). Keyed on
    // (user, day) — user_id alone is degenerate in this corpus (every
    // user does every event type).
    QueryDef(
      "q23_intersect",
      """SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'purchase'
        |INTERSECT
        |SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'error'
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      side("purchase").intersect(side("error")).orderBy("user_id", "day")
    },

    // EXCEPT.
    QueryDef(
      "q24_except",
      """SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      def side(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id"), col("ts").cast("date").as("day"))
      side("view").except(side("purchase")).orderBy("user_id", "day")
    },

    // CUBE: all grouping combinations in one pass (multi-level
    // partial aggregation; one shuffle).
    QueryDef(
      "q26_cube",
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       coalesce(CAST(c_nationkey AS INT), -1) AS nation,
        |       count(*) AS n,
        |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_bal
        |FROM customer GROUP BY CUBE(c_mktsegment, c_nationkey)
        |ORDER BY segment, nation""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .cube("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("ALL")).as("segment"),
          coalesce(col("c_nationkey").cast("int"), lit(-1)).as("nation"),
          col("n"), col("sum_bal"))
        .orderBy("segment", "nation")
    },

    // GROUPING SETS via the SQL surface (R4's spark.sql path over a
    // registered view — the reference's read_db.py entry form).
    QueryDef(
      "q27_grouping_sets",
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |       coalesce(o_orderstatus, 'ALL')  AS status,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          |       coalesce(o_orderstatus, 'ALL')  AS status,
          |       count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
          |ORDER BY priority, status""".stripMargin)
    },

    // PIVOT (wide conditional aggregation; the DataFrame pivot op).
    QueryDef(
      "q28_pivot",
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS F,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS O,
        |       round(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |                 THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS P
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        // Exact decimal sum (order-independent), rounded in double like
        // every other money aggregate in this file.
        .agg(round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2))
        .orderBy("order_year")
    },

    // Approximate sketches (HLL distinct count, quantile sketch).
    // Sketch INTERNALS differ by engine — the raw estimates can never
    // value-match DuckDB — but the estimates' ERROR BOUNDS are a real,
    // oracle-checkable contract: the row emits the exact values (both
    // engines compute those) plus booleans asserting each estimate
    // sits inside its declared envelope (HLL within 3×rsd = 15% of
    // exact; approx median inside the exact p45..p55 band). The
    // oracle recomputes the exact values and expects TRUE — a sketch
    // drifting out of its bound is a hash mismatch, not a shrug.
    // RelationalQueriesSpec still checks the raw estimates' observed
    // error (tighter, engine-specific).
    QueryDef(
      "q29_approx_sketches",
      """SELECT count(DISTINCT o_custkey) AS exact_customers,
        |       TRUE AS hll_within_3rsd,
        |       TRUE AS amed_within_decile
        |FROM orders""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .agg(
          count_distinct(col("o_custkey")).as("exact_customers"),
          approx_count_distinct("o_custkey").as("hll"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
            .as("amed"),
          // one exact-percentile aggregate carries both band edges —
          // the envelope's only added cost over the round-8 form (a
          // grouped variant tripled the query's time by mixing the
          // distinct Expand with per-group object aggregates; the
          // bench regression gate caught it, scope stays global)
          percentile(col("o_totalprice"),
            array(lit(0.45), lit(0.55))).as("band"))
        .select(col("exact_customers"),
          (abs(col("hll") - col("exact_customers")).cast("double") <=
            col("exact_customers") * 0.15).as("hll_within_3rsd"),
          col("amed").between(element_at(col("band"), 1),
            element_at(col("band"), 2)).as("amed_within_decile"))
    },

    // Salted join (skew mitigation): identical results to the plain
    // inner join — the oracle IS the plain join — but the left side's
    // key space is spread over 8 salts so a hot key cannot produce a
    // straggler reducer. See functions.SaltedJoin.
    QueryDef(
      "q30_salted_join",
      """SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 250000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      graft.functions.SaltedJoin.inner(
          Tables.orders(s, d).filter(col("o_totalprice") > 250000),
          Tables.customer(s, d),
          "o_custkey", "c_custkey", 8)
        .select("o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Temporal as-of join (an operator Spark lacks natively; DuckDB's
    // ASOF JOIN is the oracle): each purchase matched to the latest
    // signup of the same user at-or-before it. Composed Spark-first:
    // union both sides with a kind tag, one window pass per user
    // carrying the last signup timestamp forward — a single shuffle
    // on user_id, no range-explosion join.
    QueryDef(
      "q31_asof_join",
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
        |       epoch_us(s.ts) AS signup_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND s.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "signup"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"),
          when(col("event_type") === "signup", 0).otherwise(1).as("kind"))
      // at equal timestamps the signup (kind 0) sorts first, so an
      // exactly-simultaneous signup matches (ASOF <= semantics)
      val w = Window.partitionBy("user_id").orderBy("us", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      e.withColumn("signup_us",
          last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id"), col("user_id"), col("us").as("p_us"),
          col("signup_us"))
        .orderBy("event_id")
    },

    // Rolling time-range window frame (1-hour trailing sum/count per
    // user): RANGE frames over epoch micros — exact integer bounds,
    // so both engines cut identical frames.
    QueryDef(
      "q32_rolling_range_window",
      """SELECT event_id, user_id, us,
        |       CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |       round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
        |                  AS DOUBLE) / 100.0, 2) AS sum_1h
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("us"), col("value"))
        .withColumn("n_1h", count(lit(1)).over(w))
        // integer-cents window sum (see q05): sliding-frame double
        // sums are order/structure-dependent (segment trees vs running
        // sums); Long cents are exact and stay on the primitive path
        .withColumn("sum_1h",
          round(sum(round(col("value") * 100, 0).cast("bigint")).over(w)
            .cast("double") / 100.0, 2))
        .select("event_id", "user_id", "us", "n_1h", "sum_1h")
        .orderBy("event_id")
    },

    // Ranking-function family under one total order.
    QueryDef(
      "q33_ranking_functions",
      """SELECT o_orderkey,
        |       CAST(rank()       OVER w AS INT) AS rnk,
        |       CAST(dense_rank() OVER w AS INT) AS drnk,
        |       CAST(ntile(4)     OVER w AS INT) AS quartile,
        |       round(percent_rank() OVER w, 6) AS prank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("prank"))
        .orderBy("o_orderkey")
    },

    // Correlated subquery (orders above their own customer's average).
    // The comparison is price·n > sum in DECIMAL — exact on both
    // engines, where a floating avg would flip boundary rows on
    // summation order.
    QueryDef(
      "q34_correlated_subquery",
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        |FROM orders o
        |JOIN (SELECT o_custkey,
        |        sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        |        count(*) AS n
        |      FROM orders GROUP BY o_custkey) a
        |  ON o.o_custkey = a.o_custkey
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) * a.n > a.s
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val a = o.groupBy(col("o_custkey").as("a_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("n"))
      o.join(a, col("o_custkey") === col("a_custkey"))
        .filter(col("o_totalprice").cast("decimal(18,2)") * col("n") > col("s"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont`: both sort and linearly interpolate at p(n-1) —
    // identical IEEE arithmetic on identical sorted values).
    QueryDef(
      "q35_exact_percentiles",
      """SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90"))
        .orderBy("o_orderpriority")
    },

    // Range (band) join — non-equi join class: each order lands in
    // its price band. The band table is tiny and broadcast, so the
    // theta-join is a broadcast nested-loop over 10 rows per order —
    // the correct plan when one side is bounded; for two large sides
    // the technique is banding both sides on floor(value/width) and
    // equi-joining the band key first (same shape as the LSH bucket
    // join, v02).
    QueryDef(
      "q36_range_join",
      """SELECT o_orderkey, o_totalprice, CAST(b.band_id AS INT) AS band_id
        |FROM orders o JOIN (
        |  SELECT band_id, band_id * 60000.0 AS lo, (band_id+1) * 60000.0 AS hi
        |  FROM (SELECT unnest(generate_series(0, 9)) AS band_id)) b
        |  ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      import s.implicits._
      val bands = (0 to 9).map(i => (i, i * 60000.0, (i + 1) * 60000.0))
        .toDF("band_id", "lo", "hi")
      Tables.orders(s, d)
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .select("o_orderkey", "o_totalprice", "band_id")
        .orderBy("o_orderkey")
    },

    // Top-k per group via a typed Aggregator UDAF (bounded buffer +
    // map-side combine: shuffles k rows per group, not the group).
    // Same semantics as q10's window form; the oracle states the
    // window form, proving the two formulations agree.
    QueryDef(
      "q37_topk_aggregator",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |             ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val topk = udaf(new graft.functions.TopKAggregator(3))
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(topk(col("o_orderkey"), col("o_totalprice")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"),
          col("col._2").as("o_orderkey"),
          col("col._1").as("o_totalprice"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy("o_custkey", "rn")
    },

    // LEFT OUTER join + aggregate: customers with zero orders must
    // survive with n_orders=0 / total_spent=0 (inner-join semantics —
    // the reference's only join form, main.py:262 — would drop them).
    // Aggregating AFTER the join keeps the shape one shuffle on
    // c_custkey; the decimal sum is order-independent.
    QueryDef(
      "q38_left_outer_agg",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       round(CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(18,2)))
        |                  AS DOUBLE), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(sum(coalesce(col("o_totalprice"), lit(0)).cast("decimal(18,2)"))
            .cast("double"), 2).as("total_spent"))
        .orderBy("c_custkey")
    },

    // FULL OUTER join aligning two independently-aggregated daily
    // series (order placements vs line shipments) on the calendar —
    // days present in only one side keep a zero on the other. Both
    // inputs are pre-aggregated (map-side partial), so the outer join
    // runs on ~#days rows, not raw data.
    QueryDef(
      "q39_full_outer_align",
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n_orders
        |           FROM orders GROUP BY 1),
        |     l AS (SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS n_ships
        |           FROM lineitem GROUP BY 1)
        |SELECT coalesce(o.d, l.d) AS d, coalesce(n_orders, 0) AS n_orders,
        |       coalesce(n_ships, 0) AS n_ships
        |FROM o FULL OUTER JOIN l ON o.d = l.d
        |ORDER BY d""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .groupBy(col("o_orderdate").cast("date").as("od"))
        .agg(count(lit(1)).as("n_orders"))
      val l = Tables.lineitem(s, d)
        .groupBy(col("l_shipdate").cast("date").as("ld"))
        .agg(count(lit(1)).as("n_ships"))
      o.join(l, col("od") === col("ld"), "full_outer")
        .select(coalesce(col("od"), col("ld")).as("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"))
        .orderBy("d")
    },

    // EXISTS / NOT EXISTS through the SQL surface: Catalyst
    // decorrelates both into one semi- and one anti-join (same
    // physical shape as q12/q13 — asserted in RelationalQueriesSpec),
    // demonstrating the subquery syntax a reference user would write.
    QueryDef(
      "q40_exists_subquery",
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer_ex")
      Tables.orders(s, d).createOrReplaceTempView("orders_ex")
      s.sql(
        """SELECT c_custkey, c_name FROM customer_ex c
          |WHERE EXISTS (SELECT 1 FROM orders_ex o
          |              WHERE o.o_custkey = c.c_custkey
          |                AND o.o_totalprice > 400000)
          |  AND NOT EXISTS (SELECT 1 FROM orders_ex o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'P')
          |ORDER BY c_custkey""".stripMargin)
    },

    // Statistical aggregates (stddev / correlation) with exact decimal
    // component sums: built-in corr()/stddev() stream doubles whose
    // summation order varies with partitioning, so both engines here
    // aggregate the five moments as DECIMALs (order-independent) and
    // finish with identical scalar IEEE arithmetic — deterministic to
    // the last bit, still one map-side-combined aggregate per group.
    QueryDef(
      "q41_stats_agg",
      """SELECT c_mktsegment,
        |       round(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 4) AS sd_price,
        |       round((n * sxy - sx * sy) /
        |             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
        |         AS corr_price_bal
        |FROM (
        |  SELECT c_mktsegment, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) *
        |                  CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) *
        |                  CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) *
        |                  CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val x = col("o_totalprice").cast("decimal(18,2)")
      val y = col("c_acctbal").cast("decimal(18,2)")
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(x).cast("double").as("sx"), sum(x * x).cast("double").as("sxx"),
          sum(y).cast("double").as("sy"), sum(y * y).cast("double").as("syy"),
          sum(x * y).cast("double").as("sxy"))
        .select(col("c_mktsegment"),
          round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
            (col("n") * (col("n") - 1.0))), 4).as("sd_price"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_price_bal"))
        .orderBy("c_mktsegment")
    },

    // Array aggregation: collect per-group keys into a SORTED array
    // (collect_list order is partition-dependent; sort_array makes it
    // canonical) and emit it as a joined string — the grouped-list
    // surface (DuckDB list()/list_sort) with a hash-stable output.
    QueryDef(
      "q42_array_agg",
      """SELECT o_custkey, CAST(len(ks) AS BIGINT) AS n,
        |       array_to_string(list_transform(ks, k -> CAST(k AS VARCHAR)), ',')
        |         AS order_keys
        |FROM (SELECT o_custkey, list_sort(list(o_orderkey)) AS ks
        |      FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey)
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(sort_array(collect_list(col("o_orderkey"))).as("ks"))
        .select(col("o_custkey"), size(col("ks")).cast("bigint").as("n"),
          array_join(transform(col("ks"), _.cast("string")), ",")
            .as("order_keys"))
        .orderBy("o_custkey")
    },

    // The SAME as-of semantics as q31, through the engine's own
    // Catalyst operator (plans/AsOfJoin.scala: custom LogicalPlan +
    // SparkStrategy + physical merge-join node — the (c)-tier
    // extension path for operators Spark lacks). Oracle: DuckDB's
    // native ASOF LEFT JOIN. AsOfJoinSpec additionally pins the
    // physical plan to AsOfJoinExec and proves q31-equality.
    QueryDef(
      "q43_asof_custom_exec",
      """SELECT p.event_id, p.user_id, p.p_us, s.signup_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id AS s_user, epoch_us(ts) AS signup_us
        |                FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.s_user AND s.signup_us <= p.p_us
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"),
          unix_micros(col("ts")).as("signup_us"))
      // strategy pinned to the distributed merge form so the oracle
      // gate exercises it even at test scale, where stats-based auto
      // would broadcast; q47 runs auto and takes the broadcast path —
      // both physical forms stay oracle-checked
      graft.plans.AsOfJoin.asofJoin(s, purchases, signups,
          Seq("user_id"), Seq("s_user"), "p_us", "signup_us",
          strategy = "merge")
        .select("event_id", "user_id", "p_us", "signup_us")
        .orderBy("event_id")
    },

    // TPC-H Q5 shape: 6-table join with a region filter and a date
    // window. Scale-honest join strategy: lineitem/orders/customer
    // are FACT-sized (they grow with SF — broadcasting them would die
    // at 100 TB) and shuffle-join on their keys; supplier/nation/
    // region are genuine dims and broadcast explicitly. At test scale
    // AQE upgrades the small shuffle joins to broadcasts on its own —
    // the hints encode what stays true at 1000×. Revenue through
    // DECIMAL (order-independent).
    QueryDef(
      "q44_star_join_q5",
      """SELECT n_name,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                      (1 - CAST(l_discount AS DECIMAL(18,4))))
        |                  AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate <  TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      val rev = (col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1) - col("l_discount").cast("decimal(18,4)")))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
              && col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey")
            && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(rev).cast("double"), 2).as("revenue"))
        .orderBy("n_name")
    },

    // TPC-H Q10 shape: top-20 customers by returned-item revenue.
    // Exact decimal revenue makes the DESC order (and therefore the
    // LIMIT cut) deterministic; ties broken by key. Facts
    // (lineitem/orders/customer) shuffle-join; only nation is
    // broadcast-hinted (AQE broadcasts the rest at test scale).
    QueryDef(
      "q45_top_returners_q10",
      """SELECT c_custkey, c_name, n_name,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                      (1 - CAST(l_discount AS DECIMAL(18,4))))
        |                  AS DOUBLE), 2) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      val rev = (col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1) - col("l_discount").cast("decimal(18,4)")))
      // Round 21 (guide §2.3 — aggregate before you shuffle): the
      // R-filtered lineitems collapse to one (l_orderkey, partial
      // revenue) row per order BEFORE the join chain. The partial agg
      // rides the exact exchange the l_orderkey equi-join needed
      // anyway (§2.4 — no extra shuffle), and every downstream
      // exchange (o_custkey, the final group) now carries order-grain
      // rows instead of lineitem-grain ones. Equivalent on ANY input:
      // decimal addition reassociates exactly, and join multiplicity
      // is unchanged (the per-order row duplicates exactly where the
      // raw lineitem rows would have).
      val perOrder = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .groupBy("l_orderkey")
        .agg(sum(rev).as("rev"))
      perOrder
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // INNER as-of with a tolerance bound (pandas merge_asof's other
    // half) through the custom exec: purchases attributed to a signup
    // only when one exists within the preceding 7 days. The DuckDB
    // oracle is inner ASOF + a post-filter — equivalent because the
    // as-of match is the LATEST candidate, so if it misses the window
    // every earlier one does too.
    QueryDef(
      "q47_asof_tolerance",
      """SELECT p.event_id, p.user_id, p.p_us, s.signup_us
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS p_us
        |      FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT user_id AS s_user, epoch_us(ts) AS signup_us
        |           FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.s_user AND s.signup_us <= p.p_us
        |WHERE p.p_us - s.signup_us <= 604800000000
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"),
          unix_micros(col("ts")).as("signup_us"))
      graft.plans.AsOfJoin.asofJoin(s, purchases, signups,
          Seq("user_id"), Seq("s_user"), "p_us", "signup_us",
          joinType = "inner", toleranceUs = 604800000000L)
        .select("event_id", "user_id", "p_us", "signup_us")
        .orderBy("event_id")
    },

    // KMV distinct-count sketch (functions/KmvAggregator): a MERGEABLE
    // approximate-distinct aggregate whose estimate is nonetheless
    // bit-reproducible cross-engine (md5-derived hashes are
    // deterministic), so — unlike HLL (q29) — the sketch itself is
    // value-oracle-checked. The oracle states the same estimator
    // relationally: k-th smallest distinct hash per group.
    QueryDef(
      "q48_kmv_distinct",
      raw"""WITH h AS (SELECT DISTINCT o_orderpriority AS g,
        |        ${TextKernels.mdHash60Sql("o_custkey")} AS hv
        |      FROM orders),
        |r AS (SELECT g, hv,
        |        row_number() OVER (PARTITION BY g ORDER BY hv) AS rn,
        |        count(*) OVER (PARTITION BY g) AS nd
        |      FROM h)
        |SELECT g AS o_orderpriority,
        |       round(CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |                  ELSE 63.0 * pow(2.0, 60.0) / CAST(hv AS DOUBLE)
        |             END, 2) AS est_distinct
        |FROM r WHERE rn = least(nd, 64)
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val kmv = udaf(new graft.functions.KmvAggregator(64))
      val hv = TextKernels.mdHash60(col("o_custkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), hv.as("hv"))
        .groupBy("o_orderpriority")
        .agg(round(kmv(col("hv")), 2).as("est_distinct"))
        .orderBy("o_orderpriority")
    },

    // Multiset scalars of grouped quantity lists. The DECLARED form
    // (the oracle SQL below) exercises the array higher-order-function
    // surface (sort + transform/reduce/filter over grouped lists); the
    // Spark side computes the identical values as one codegen'd hash
    // aggregate (round 20 — every output is order-independent, so the
    // sorted-list+fold form collapses; see the body comment). The
    // lambda-expression surface itself stays load-bearing — and
    // oracle-covered — in the engine's array internals (d02's band
    // pair-expansion, d11's transform-over-collect_list); HOFs are
    // CodegenFallback in Spark 4 (interpreted per element), which is
    // exactly why hot full-corpus loops belong in kernels or native
    // expressions (TextKernels / dot_long) while per-group arrays
    // tolerate them.
    QueryDef(
      "q46_array_hof",
      """SELECT okey, CAST(len(q) AS INT) AS n_items,
        |       CAST(list_reduce(list_transform(q, x -> x*x), (a,b) -> a+b)
        |            AS BIGINT) AS sumsq,
        |       CAST(len(list_filter(q, x -> x > 25)) AS INT) AS n_big
        |FROM (SELECT l_orderkey AS okey,
        |        list_sort(list(CAST(l_quantity AS BIGINT))) AS q
        |      FROM lineitem GROUP BY 1)
        |ORDER BY okey""".stripMargin) { (s, d) =>
      // Round 20 (guide §2.3, §1.2): every output is an
      // order-independent scalar of the quantity MULTISET — list
      // length = non-null count, fold of squares = sum of squares
      // (addition reassociates; the fold's 0L seed = coalesce(_, 0)
      // on an all-null group), filtered length = conditional count —
      // so the sort_array(collect_list(...)) + interpreted HOF chain
      // (CodegenFallback `aggregate`/`transform`/`filter`) collapses
      // into ONE codegen'd hash aggregate with map-side partial
      // aggregation: the exchange carries 3 longs per key instead of
      // every quantity value. ANSI overflow still throws (sum over
      // BIGINT ≡ the fold's Add).
      val qq = col("l_quantity").cast("bigint")
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("okey"))
        .agg(
          count(qq).cast("int").as("n_items"),
          coalesce(sum(qq * qq), lit(0L)).as("sumsq"),
          count(when(qq > 25, lit(1))).cast("int").as("n_big"))
        .orderBy("okey")
    },

    // CROSS JOIN — the remaining join type: the full region × priority
    // grid scaffolds a report (tiny × tiny; a deliberate cartesian is
    // only ever sane when at least one side is bounded).
    QueryDef(
      "q49_cross_join",
      """SELECT r_name, o_orderpriority AS priority
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
        |ORDER BY r_name, priority""".stripMargin) { (s, d) =>
      Tables.region(s, d).select("r_name")
        .crossJoin(Tables.orders(s, d).select("o_orderpriority").distinct())
        .withColumnRenamed("o_orderpriority", "priority")
        .orderBy("r_name", "priority")
    },

    // UNION (distinct) — versus q08's UNION ALL: nations appearing as
    // customer or supplier homes, deduplicated by the set semantics.
    QueryDef(
      "q50_union_distinct",
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey")))
        .distinct()
        .orderBy("nationkey")
    },

    // LATERAL correlated subquery (SQL:1999 lateral join; Spark >= 3.2
    // plans it as a DomainJoin rewrite): each nation paired with its
    // single richest customer — the per-row-subquery surface beyond
    // EXISTS (q40) and scalar subqueries (q18).
    QueryDef(
      "q51_lateral_join",
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
        |ORDER BY n.n_name""".stripMargin) { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation_lat")
      Tables.customer(s, d).createOrReplaceTempView("customer_lat")
      s.sql(
        """SELECT n.n_name, t.c_name, t.c_acctbal
          |FROM nation_lat n,
          |LATERAL (SELECT c_name, c_acctbal FROM customer_lat
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
          |ORDER BY n.n_name""".stripMargin)
    },

    // Sampled quantiles, deterministically: exact interpolated
    // percentiles over the md5-bucket 10% sample — the third point in
    // the quantile triangle (q35 exact, q29 engine-specific sketch,
    // q52 approximate-but-REPRODUCIBLE: the sample is a pure function
    // of the keys, so both engines compute identical values and reruns
    // are diffable; sort cost drops 10× at any scale).
    QueryDef(
      "q52_sampled_quantile",
      raw"""SELECT o_orderpriority,
        |       quantile_cont(o_totalprice, 0.5) AS p50_sampled,
        |       quantile_cont(o_totalprice, 0.9) AS p90_sampled,
        |       count(*) AS n_sampled
        |FROM (SELECT o_orderpriority, o_totalprice FROM orders
        |      WHERE ${TextKernels.mdBucketSql("o_orderkey", 100)} < 10)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val b = TextKernels.mdBucket(col("o_orderkey"), 100)
      Tables.orders(s, d)
        .filter(b < 10)
        .groupBy("o_orderpriority")
        .agg(
          percentile(col("o_totalprice"), lit(0.5)).as("p50_sampled"),
          percentile(col("o_totalprice"), lit(0.9)).as("p90_sampled"),
          count(lit(1)).as("n_sampled"))
        .orderBy("o_orderpriority")
    },

    // Aggregate FILTER clause (SQL:2003): several differently-filtered
    // aggregates in ONE pass over the data — the idiomatic replacement
    // for self-joining once per condition. Counts only; exact.
    QueryDef(
      "q53_filter_clause",
      """SELECT o_orderpriority,
        |       count(*) AS n,
        |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |       count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |                          AND o_orderstatus = 'O') AS n_recent_open
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_fc")
      s.sql(
        """SELECT o_orderpriority,
          |       count(*) AS n,
          |       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
          |       count(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
          |       count(*) FILTER (WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          |                          AND o_orderstatus = 'O') AS n_recent_open
          |FROM orders_fc GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },

    // R7 (read_db.py:38 schema introspection): expose a table's schema
    // as rows — metadata-only, no scan of table data.
    QueryDef(
      "q25_schema_introspection",
      """SELECT column_name, CAST(ordinal AS INT) AS ordinal FROM (
        |  SELECT unnest(['l_orderkey','l_partkey','l_suppkey','l_linenumber',
        |                 'l_quantity','l_extendedprice','l_discount','l_tax',
        |                 'l_returnflag','l_linestatus','l_shipdate']) AS column_name,
        |         unnest([1,2,3,4,5,6,7,8,9,10,11]) AS ordinal)
        |ORDER BY ordinal""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.lineitem(s, d).schema.fieldNames.toSeq.zipWithIndex
        .map { case (n, i) => (n, i + 1) }
        .toDF("column_name", "ordinal")
        .orderBy("ordinal")
    },

    // UNPIVOT (wide→long melt; the inverse of q28's pivot). The Spark
    // side is the Dataset.unpivot operator; the oracle reproduces it
    // as the UNION ALL it is semantically equivalent to. Values pass
    // through unchanged (same stored doubles both sides), so the
    // comparison is exact with no rounding. Map-only — no shuffle
    // before the deterministic ORDER BY.
    QueryDef(
      "q54_unpivot",
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'discount' AS measure,
        |         l_discount AS value
        |  FROM lineitem WHERE l_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |  FROM lineitem WHERE l_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'quantity', l_quantity
        |  FROM lineitem WHERE l_orderkey % 97 = 0)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("quantity"),
          col("l_extendedprice").as("extendedprice"),
          col("l_discount").as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },

    // Extremum-by aggregates (argmax/argmin family) + boolean
    // aggregates. max_by/min_by with TIES are nondeterministic in both
    // engines, so the comparison value is a composite integer
    // (cents · 10^7 + orderkey) that is unique by construction —
    // deterministic argmax without assuming tie behavior. cents ≤
    // 5·10^7 and orderkey < 10^7, so the composite stays well inside
    // Long.
    QueryDef(
      "q55_extremum_by",
      """SELECT o_orderpriority,
        |       max_by(o_orderkey, CAST(round(o_totalprice*100, 0) AS BIGINT)
        |                          * 10000000 + o_orderkey) AS top_order,
        |       min_by(o_orderkey, CAST(round(o_totalprice*100, 0) AS BIGINT)
        |                          * 10000000 + o_orderkey) AS bottom_order,
        |       count(*) FILTER (WHERE o_totalprice > 400000) AS n_big,
        |       bool_or(o_orderstatus = 'P') AS any_pending,
        |       bool_and(o_totalprice > 0) AS all_positive
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val composite = round(col("o_totalprice") * 100, 0).cast("bigint") *
        lit(10000000L) + col("o_orderkey")
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          max_by(col("o_orderkey"), composite).as("top_order"),
          min_by(col("o_orderkey"), composite).as("bottom_order"),
          count_if(col("o_totalprice") > 400000).as("n_big"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"),
          bool_and(col("o_totalprice") > 0).as("all_positive"))
        .orderBy("o_orderpriority")
    },

    // Map-typed column surface: build a per-year status→count map
    // (map_from_entries over a sorted entry list), read its
    // cardinality (size) and explode it back to rows. The oracle never
    // needs map types — the round trip must land exactly on the plain
    // GROUP BY it encodes, which is the point of the test.
    QueryDef(
      "q56_map_functions",
      """WITH g AS (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)
        |             AS order_year,
        |           o_orderstatus AS status, count(*) AS n
        |           FROM orders GROUP BY 1, 2)
        |SELECT order_year,
        |       CAST(count(*) OVER (PARTITION BY order_year) AS INT)
        |         AS n_statuses,
        |       status, n
        |FROM g ORDER BY order_year, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("order_year"),
          col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n"))
        .groupBy("order_year")
        .agg(map_from_entries(
          sort_array(collect_list(struct(col("status"), col("n")))))
          .as("m"))
        .select(col("order_year"), size(col("m")).as("n_statuses"),
          explode(col("m")).as(Seq("status", "n")))
        .orderBy("order_year", "status")
    },

    // Bloom-filter join pre-filter — the 100 TB decontamination/semi-
    // join shape: build a compact Bloom filter over the small side's
    // keys on the driver, broadcast it (a closure-captured ~1 MB
    // bitset, not a shuffled table), and drop non-matching fact rows
    // AT THE SCAN before any shuffle. Bloom filters have no false
    // negatives, so prefilter + exact semi-join confirm ≡ the plain
    // semi join — which is exactly what the oracle checks. False
    // positives only cost confirm work (fpp 3%). This is the manual
    // form of Spark's own runtime row-level filtering
    // (spark.sql.optimizer.runtime.bloomFilter), usable where the
    // optimizer can't see the opportunity (e.g. the small side comes
    // from outside the query).
    QueryDef(
      "q57_bloom_prefilter",
      """SELECT o_orderpriority, count(*) AS n,
        |       round(CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT))
        |             AS DOUBLE) / 100.0, 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) {
      (s, d) =>
        val keys = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        // Build with Spark's own BloomFilterAggregate (distributed
        // partial/merge agg — no driver-side key scan) over xxhash64'd
        // keys, the same construction InjectRuntimeFilter plants (Spark
        // gives neither bloom expression a SQL name, so both are built
        // as Columns directly). The serialized filter is one binary row;
        // the aggregate over 0 rows evals to null ⇒ the semi join is
        // empty ⇒ prefilter degenerates to false — same identity, no
        // crash.
        val bloomBin = Option(
          keys.agg(column(new BloomFilterAggregate(
              expression(xxhash64(col("c_custkey"))),
              expression(lit(131072L)), expression(lit(1048576L)))
            .toAggregateExpression()))
            .head.getAs[Array[Byte]](0))
        // Probe via the codegen'd BloomFilterMightContain expression —
        // stays inside whole-stage codegen, unlike a Scala UDF.
        val prefilter = bloomBin
          .map(b => column(BloomFilterMightContain(expression(lit(b)),
            expression(xxhash64(col("o_custkey"))))))
          .getOrElse(lit(false))
        Tables.orders(s, d)
          .filter(prefilter)
          .join(keys, col("o_custkey") === col("c_custkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("o_totalprice") * 100, 0).cast("bigint"))
              .cast("double") / 100.0, 2).as("revenue"))
          .orderBy("o_orderpriority")
    },

    // Equi-width histogram via width_bucket. DuckDB has no
    // width_bucket, so the oracle uses the integer-division identity:
    // on integer cents with lo=0, hi=5·10^7, 20 buckets (width
    // 2.5·10^6 cents), width_bucket(c,lo,hi,n)-1 ≡ c // width — the
    // double arithmetic inside width_bucket is exact on these values
    // (cents < 2^53; quotients only land on integers when exact).
    QueryDef(
      "q58_histogram",
      """SELECT CAST(cents // 2500000 AS INT) AS bucket, count(*) AS n,
        |       round(CAST(min(cents) AS DOUBLE) / 100.0, 2) AS lo_price,
        |       round(CAST(max(cents) AS DOUBLE) / 100.0, 2) AS hi_price
        |FROM (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS cents
        |      FROM orders)
        |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(round(col("o_totalprice") * 100, 0).cast("bigint").as("cents"))
        .groupBy((width_bucket(col("cents"), lit(0d), lit(5e7), lit(20)) - 1)
          .cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("cents")).cast("double") / 100.0, 2).as("lo_price"),
          round(max(col("cents")).cast("double") / 100.0, 2).as("hi_price"))
        .orderBy("bucket")
    },

    // Time-series gap fill: per-user daily date spine (sequence +
    // explode — a generator, no shuffle) LEFT JOIN observed daily
    // sums, then forward-fill with last(_, ignoreNulls) over the
    // default running frame. The canonical feature-engineering shape
    // for regular-grid training data from irregular events. Scale:
    // one shuffle on user_id for the daily agg; the spine explode is
    // map-side; the fill window rides the same user_id partitioning.
    QueryDef(
      "q59_gap_fill",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         sum(CAST(round(value*100, 0) AS BIGINT)) AS cents
        |  FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id,
        |         CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        |           AS day
        |  FROM (SELECT user_id, min(day) AS lo, max(day) AS hi
        |        FROM daily GROUP BY 1))
        |SELECT s.user_id, s.day,
        |       round(CAST(last_value(d.cents IGNORE NULLS) OVER (
        |               PARTITION BY s.user_id ORDER BY s.day)
        |             AS DOUBLE) / 100.0, 2) AS v
        |FROM spine s LEFT JOIN daily d
        |  ON s.user_id = d.user_id AND s.day = d.day
        |ORDER BY s.user_id, s.day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .filter(col("user_id") % 7 === 0)
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("bigint")).as("cents"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("v",
          round(last("cents", ignoreNulls = true)
            .over(Window.partitionBy("user_id").orderBy("day"))
            .cast("double") / 100.0, 2))
        .select("user_id", "day", "v")
        .orderBy("user_id", "day")
    },

    // Count-Min Sketch frequency estimation (functions/CmsAggregator
    // — the third sketch family after HLL q29 and KMV q48): one
    // constant-size d×w count matrix summarizes the whole token
    // stream (merge = elementwise sum, so partials combine map-side
    // and the shuffle is O(d·w) per partition, not O(tokens)); the
    // estimate for a probe item is min over hash rows of its bucket
    // count — never below the true count. Buckets derive from md5, so
    // DuckDB reproduces the identical sketch relationally and the
    // approximate answer has an exact oracle. Probes: the exact
    // top-10 tokens (deterministic tie-break).
    QueryDef(
      "q60_cms_freq",
      raw"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |                AS t FROM documents),
        |probe AS (SELECT t, count(*) AS exact_n FROM toks
        |          GROUP BY t ORDER BY exact_n DESC, t LIMIT 10),
        |rows_ AS (SELECT unnest(generate_series(0, 3)) AS i),
        |cells AS (SELECT i,
        |            ${TextKernels.mdHash60Sql("CAST(i AS VARCHAR) || ':' || t")}
        |              % 256 AS b,
        |            count(*) AS c
        |          FROM toks CROSS JOIN rows_ GROUP BY 1, 2)
        |SELECT p.t AS token, p.exact_n, min(c.c) AS est_n
        |FROM probe p JOIN cells c
        |  ON c.b = ${TextKernels.mdHash60Sql(
                       "CAST(c.i AS VARCHAR) || ':' || p.t")} % 256
        |GROUP BY p.t, p.exact_n
        |ORDER BY token""".stripMargin) { (s, d) =>
      val D = 4; val W = 256
      def bucket(c: Column, i: Int): Column =
        (TextKernels.mdHash60(concat(lit(i.toString), lit(":"), c)) % W)
          .cast("int")
      val toks = Tables.documents(s, d)
        .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      // ONE tokenize pass + ONE map-side-combined count (round 20 —
      // guide §2.3): the former shape tokenized the corpus twice and
      // ran the 4 md5 bucket hashes per token OCCURRENCE; collapsing
      // to (token, count) first runs them once per DISTINCT token and
      // feeds the sketch through the weighted update, which is
      // cell-for-cell identical (sums reassociate). The collapsed
      // table is persisted because the probe and sketch branches both
      // consume it.
      val tokCounts = graft.PersistRegistry.cached(
        toks.groupBy("t").agg(count(lit(1)).as("exact_n")))
      val probe = tokCounts
        .orderBy(col("exact_n").desc, col("t")).limit(10)
      val cms = udaf(new graft.functions.CmsWeightedAggregator(D, W))
      val sketch = tokCounts
        .select(array((0 until D).map(i => bucket(col("t"), i)): _*).as("bs"),
          col("exact_n").as("n"))
        .agg(cms(col("bs"), col("n")).as("sk"))
      probe.crossJoin(broadcast(sketch))
        .select(col("t").as("token"), col("exact_n"),
          least((0 until D).map(i =>
            element_at(col("sk"), (lit(i * W) + bucket(col("t"), i) + 1)
              .cast("int"))): _*).as("est_n"))
        .orderBy("token")
    },

    // Value-window family (completes the window surface beside the
    // ranking family q33 and frames q32): first/last/nth_value need an
    // explicit whole-partition ROWS frame — the default
    // RANGE-to-current frame would make last_value mean "current row",
    // a classic window-semantics trap both engines share. All values
    // are integers off a unique order key, so the comparison is exact;
    // cume_dist is a ratio of identical integers rounded identically.
    QueryDef(
      "q61_value_windows",
      """SELECT o_orderkey,
        |       first_value(o_orderkey) OVER w AS first_k,
        |       last_value(o_orderkey)  OVER (w ROWS BETWEEN UNBOUNDED
        |         PRECEDING AND UNBOUNDED FOLLOWING) AS last_k,
        |       nth_value(o_orderkey, 3) OVER (w ROWS BETWEEN UNBOUNDED
        |         PRECEDING AND UNBOUNDED FOLLOWING) AS third_k,
        |       lag(o_orderkey, 2)  OVER w AS lag2,
        |       lead(o_orderkey, 2) OVER w AS lead2,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
      val wFull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          first("o_orderkey").over(w).as("first_k"),
          last("o_orderkey").over(wFull).as("last_k"),
          nth_value(col("o_orderkey"), 3).over(wFull).as("third_k"),
          lag("o_orderkey", 2).over(w).as("lag2"),
          lead("o_orderkey", 2).over(w).as("lead2"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderkey")
    },

    // Ordered string aggregation (LISTAGG WITHIN GROUP ≡ DuckDB
    // string_agg ORDER BY): without the WITHIN GROUP order the result
    // is partitioning-dependent — the deterministic form is the only
    // one a reproducible pipeline can use.
    QueryDef(
      "q62_listagg",
      """SELECT o_orderpriority,
        |       string_agg(DISTINCT o_orderstatus, ','
        |                  ORDER BY o_orderstatus) AS statuses,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d).createOrReplaceTempView("orders_la")
      s.sql(
        """SELECT o_orderpriority,
          |       listagg(DISTINCT o_orderstatus, ',')
          |         WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
          |       count(*) AS n
          |FROM orders_la GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },

    // Cohort retention — the product-analytics staple: bucket every
    // user by first-seen day, then count distinct active users (and
    // raw events) at each day offset from that cohort day. Scale
    // shape: the per-user min is one map-side-combined shuffle on
    // user_id; the fact-to-cohort join shuffles on the SAME key, so
    // AQE reuses the exchange; the final (cohort_day, day_offset)
    // grid is tiny (days × days) however large the fact table — the
    // distinct-user expand is the only cost that grows, and it is
    // linear in events.
    QueryDef(
      "q63_cohort_retention",
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |first AS (SELECT user_id, min(day) AS cohort_day
        |          FROM ev GROUP BY user_id)
        |SELECT f.cohort_day,
        |       datediff('day', f.cohort_day, e.day) AS day_offset,
        |       count(DISTINCT e.user_id) AS n_users,
        |       count(*) AS n_events
        |FROM ev e JOIN first f ON e.user_id = f.user_id
        |GROUP BY f.cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("cohort_day", "day_offset")
    },

    // Recency-weighted user value: every event decays by half per week of
    // age relative to the corpus's newest day (the deterministic
    // anchor), summed per user — the "decayed LTV" / recency score a
    // ranking pipeline feeds from the events fact. Scale shape: the
    // anchor is ONE broadcast row off a map-side-combined max; the
    // weighted sum is a single user_id-keyed partial agg — one linear
    // shuffle, identical to any grouped sum. round(·,2) absorbs
    // float-summation order ulp (the parity rule used by every float
    // aggregate here); weights come from pow(0.5, days/7), identical
    // libm-rounded doubles on both engines.
    QueryDef(
      "q64_decayed_agg",
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, value
        |            FROM events),
        |mx AS (SELECT max(day) AS anchor FROM ev)
        |SELECT user_id,
        |       round(sum(value * pow(0.5,
        |         CAST(datediff('day', day, anchor) AS DOUBLE) / 7.0)), 2)
        |         AS decayed_value,
        |       count(*) AS n_events
        |FROM ev, mx GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (s, d) =>
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      val mx = ev.agg(max("day").as("anchor"))
      ev.crossJoin(broadcast(mx))
        .groupBy("user_id")
        .agg(round(sum(col("value") * pow(lit(0.5),
            datediff(col("anchor"), col("day")).cast("double") / 7.0)), 2)
          .as("decayed_value"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // Strict-order conversion funnel (view → click → purchase): a user
    // advances to stage k only with an event AT OR AFTER their stage
    // k−1 entry time — min-ts chaining, the standard product-analytics
    // funnel. Scale shape: all three stage tables are user_id-keyed
    // min-aggs and the two advancing joins are on the SAME user_id
    // key, so one exchange partitioning carries the whole chain; the
    // output is 3 rows whatever the fact size.
    QueryDef(
      "q65_funnel_steps",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |       GROUP BY e.user_id),
        |c AS (SELECT (SELECT count(*) FROM s1) AS n1,
        |             (SELECT count(*) FROM s2) AS n2,
        |             (SELECT count(*) FROM s3) AS n3)
        |SELECT step, stage, n_users,
        |       round(CAST(n_users AS DOUBLE) / n1, 4) AS conv
        |FROM (SELECT 1 AS step, 'view' AS stage, n1 AS n_users, n1 FROM c
        |      UNION ALL SELECT 2, 'click', n2, n1 FROM c
        |      UNION ALL SELECT 3, 'purchase', n3, n1 FROM c) t
        |ORDER BY step""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") >= col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") >= col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val c = s1.agg(count(lit(1)).as("n1"))
        .crossJoin(s2.agg(count(lit(1)).as("n2")))
        .crossJoin(s3.agg(count(lit(1)).as("n3")))
      val rows = c.select(lit(1).as("step"), lit("view").as("stage"),
          col("n1").as("n_users"), col("n1"))
        .unionByName(c.select(lit(2).as("step"), lit("click").as("stage"),
          col("n2").as("n_users"), col("n1")))
        .unionByName(c.select(lit(3).as("step"), lit("purchase").as("stage"),
          col("n3").as("n_users"), col("n1")))
      rows.select(col("step"), col("stage"), col("n_users"),
          round(col("n_users").cast("double") / col("n1"), 4).as("conv"))
        .orderBy("step")
    },

    // Interval-concurrency sweep: how many user sessions are active
    // at every instant the count changes. The naive form is a range
    // SELF-JOIN (sessions × change-points — quadratic); the sweep
    // replaces it with +1/-1 boundary events and ONE ordered prefix
    // sum — O(n log n). The global running sum is computed the
    // SCALABLE way (no single-partition window): range-repartition on
    // the timestamp (persisted — range boundaries are sampled per
    // job, so the pid column must be pinned once), per-partition
    // running sum, plus a broadcast cumulative offset from the ≤32
    // per-partition totals — the only global window runs over the
    // partition-count rows. Exact-integer deltas make the result a
    // pure function of the data. Sessions come from the same
    // 30-min-gap logic s02 verifies.
    QueryDef(
      "q66_concurrency_sweep",
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |             lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS prev_us
        |           FROM events),
        |t AS (SELECT user_id, event_id, us,
        |        CASE WHEN prev_us IS NOT NULL AND us - prev_us <= 1800000000
        |             THEN 0 ELSE 1 END AS ns
        |      FROM s),
        |u AS (SELECT user_id, us,
        |        CAST(sum(ns) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS INT) AS session_no
        |      FROM t),
        |sess AS (SELECT user_id, session_no, min(us) AS start_us,
        |           max(us) AS end_us
        |         FROM u GROUP BY user_id, session_no),
        |delta AS (SELECT start_us AS us, 1 AS dl FROM sess
        |          UNION ALL SELECT end_us + 1 AS us, -1 AS dl FROM sess),
        |agg AS (SELECT us, sum(dl) AS dl FROM delta GROUP BY us)
        |SELECT us, CAST(sum(dl) OVER (ORDER BY us) AS BIGINT) AS concurrent
        |FROM agg ORDER BY us""".stripMargin) { (s, d) =>
      val sess = graft.streaming.StreamingOps
        .sessionStatsBatch(Tables.events(s, d))
        .select(col("start_us"), col("end_us"))
      val delta = sess.select(col("start_us").as("us"), lit(1L).as("dl"))
        .unionAll(sess.select((col("end_us") + 1).as("us"),
          lit(-1L).as("dl")))
        .groupBy("us").agg(sum("dl").as("dl"))
      val parts = graft.PersistRegistry.cached(
        delta.repartitionByRange(32, col("us"))
          .withColumn("pid", spark_partition_id()))
      // ≤32 pid rows by construction; the constant partition key keeps
      // WindowExec's unpartitioned-window warning for real offenders
      // (pmod, not a literal — foldable keys get optimized away)
      val wOff = Window.partitionBy(pmod(col("pid"), lit(1))).orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = parts.groupBy("pid").agg(sum("dl").as("psum"))
        .withColumn("off", coalesce(sum("psum").over(wOff), lit(0L)))
        .select("pid", "off")
      val wLoc = Window.partitionBy("pid").orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
      parts.join(broadcast(offsets), "pid")
        .withColumn("concurrent",
          (col("off") + sum("dl").over(wLoc)).cast("long"))
        .select("us", "concurrent")
        .orderBy("us")
    },

    // Recursive CTE — hierarchy traversal + subtree rollup, the
    // WITH RECURSIVE surface Spark gained in 4.x (and the last
    // query-language family the suite lacked; before it, iterative
    // reachability needed hand-rolled loops like d08's fixpoint).
    // The corpus carries no parent column, so the hierarchy is a
    // DECLARED deterministic forest over doc_id — parent(d) =
    // (d-1) div 8, root 0 — an 8-ary tree of depth ⌈log8 N⌉. The
    // recursion enumerates each doc's ancestor path (strictly
    // decreasing ids ⇒ guaranteed termination; N·log8 N path rows
    // total), then one groupBy rolls every node's subtree size,
    // token mass, and height. Scale: each recursion step is one
    // equi-join of the surviving frontier — log-depth iteration,
    // exactly the engine-native form of d08's propagation loop; the
    // rollup is a single map-side-combinable aggregate. DuckDB runs
    // the identical WITH RECURSIVE text, integer arithmetic only.
    QueryDef(
      "q67_recursive_hierarchy",
      raw"""WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
        |  SELECT doc_id, doc_id AS anc_id, 0 AS depth FROM documents
        |  UNION ALL
        |  SELECT a.doc_id, (a.anc_id - 1) // 8, a.depth + 1
        |  FROM anc a WHERE a.anc_id > 0),
        |tok AS (SELECT doc_id,
        |          CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
        |            AS n_tok
        |        FROM documents)
        |SELECT anc_id AS node_id, count(*) AS n_desc,
        |       CAST(sum(n_tok) AS BIGINT) AS subtree_tokens,
        |       CAST(max(depth) AS INT) AS subtree_height
        |FROM anc JOIN tok USING (doc_id)
        |GROUP BY anc_id ORDER BY node_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("docs_rec")
      // Spark guards recursive CTEs with a total-row limit (default
      // 1e6) against non-terminating recursion. This recursion is
      // bounded by construction (strictly decreasing ids), and its
      // row count is N·(log8(max id) + 2) — LINEAR in the corpus —
      // so the guard is SIZED FROM THE CORPUS (count + max id, one
      // tiny agg) with 4x headroom, instead of a near-unbounded
      // constant: still a real runaway guard, now scaled to the
      // data it protects. The conf is session-global, so it is
      // saved and restored around the recursion and must not leak
      // into later queries sharing the session; because the guard
      // is read at EXECUTION time while the harness consumes the
      // returned frame lazily, the recursion is evaluated eagerly
      // inside the guarded scope (localCheckpoint — the result is
      // one row per node, ~1.15N, result-sized like any ORDER BY
      // output) and the restore runs in finally.
      val (nDocs, maxId) = {
        val r = Tables.documents(s, d)
          .agg(count(lit(1)), coalesce(max(col("doc_id")), lit(0L))).head
        (r.getLong(0), r.getLong(1))
      }
      val depth = (math.log(math.max(maxId, 1).toDouble) / math.log(8.0))
        .ceil.toLong + 2
      val bound = math.max(4 * (nDocs + 1) * depth, 1000000L)
      val key = "spark.sql.cteRecursionRowLimit"
      val prev = s.conf.getOption(key)
      s.conf.set(key, bound.toString)
      try {
        s.sql(
          raw"""WITH RECURSIVE anc(doc_id, anc_id, depth) AS (
            |  SELECT doc_id, doc_id AS anc_id, 0 AS depth FROM docs_rec
            |  UNION ALL
            |  SELECT a.doc_id, (a.anc_id - 1) div 8, a.depth + 1
            |  FROM anc a WHERE a.anc_id > 0),
            |tok AS (SELECT doc_id,
            |          CAST(size(split(trim(text), '\\s+')) AS BIGINT) AS n_tok
            |        FROM docs_rec)
            |SELECT anc_id AS node_id, count(*) AS n_desc,
            |       CAST(sum(n_tok) AS BIGINT) AS subtree_tokens,
            |       CAST(max(depth) AS INT) AS subtree_height
            |FROM anc JOIN tok USING (doc_id)
            |GROUP BY anc_id ORDER BY node_id""".stripMargin)
          .localCheckpoint()
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    },
  )
}

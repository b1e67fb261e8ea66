package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RelationalQueries

object TestSpark {
  lazy val spark: SparkSession = Session.local(4)
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalQueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every query runs and most return rows at sf0.001") {
    val counts = RelationalQueries.all.map(q => q.name -> q.run(spark, sf).count())
    // q13 (anti join) legitimately returns 0 when every customer ordered.
    val empty = counts.filter(_._2 == 0).map(_._1).toSet
    assert(empty.subsetOf(Set("q13_anti_join", "q24_except")), s"unexpected empty: $empty")
  }

  test("q05 aggregate matches hand-computed group count") {
    val df = SparkEntry.queries("q05_groupby_agg")(spark, sf)
    assert(df.count() === 6) // 3 returnflags x 2 linestatuses
    assert(df.columns.toSeq === Seq("l_returnflag", "l_linestatus", "sum_qty",
      "sum_base_price", "sum_disc_price", "avg_disc", "count_order"))
  }

  test("q06 join produces one row per nation") {
    assert(SparkEntry.queries("q06_broadcast_join")(spark, sf).count() === 25)
  }

  test("filter + projection push down to the parquet scan (q02)") {
    val df = SparkEntry.queries("q02_filter_pushdown")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") &&
      plan.contains("l_shipdate") && plan.contains("l_discount"),
      s"expected pushed filters in:\n$plan")
    // Column pruning: scan must not read all 11 lineitem columns.
    assert(plan.contains("ReadSchema"), "expected ReadSchema in scan")
    assert(!plan.contains("l_returnflag"), "l_returnflag should be pruned")
  }

  test("q06 uses a broadcast join, not a shuffle join") {
    val plan = SparkEntry.queries("q06_broadcast_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("q10 rank<=k prunes per partition via WindowGroupLimit") {
    val df = SparkEntry.queries("q10_window_topk_per_group")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"expected partial top-k pushdown in:\n$plan")
  }

  test("q37 aggregator top-k uses partial (map-side) aggregation") {
    val df = SparkEntry.queries("q37_topk_aggregator")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // typed-Aggregator plans run as ObjectHashAggregate with a
    // partial_ stage before the shuffle (k rows per group shuffled)
    assert(plan.contains("ObjectHashAggregate"), s"plan:\n$plan")
    assert(plan.contains("partial_"), s"expected partial agg in:\n$plan")
  }

  test("q48 KMV estimate lands near exact distinct with partial aggregation") {
    val df = SparkEntry.queries("q48_kmv_distinct")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the sketch must combine map-side: k longs per group through the
    // shuffle, not the raw keys
    assert(plan.contains("partial_kmvaggregator"), s"plan:\n$plan")
    val est = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_orderpriority")
      .agg(org.apache.spark.sql.functions
        .count_distinct(org.apache.spark.sql.functions.col("o_custkey")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((g, e) <- exact) {
      val rel = math.abs(est(g) - e) / e
      // KMV standard error ~ 1/sqrt(k-2) ≈ 13% at k=64; allow 3 sigma
      assert(rel < 0.4, s"group $g: est ${est(g)} vs exact $e (rel $rel)")
    }
  }

  test("AQE re-plans shuffle reads at runtime (coalesced partitions)") {
    val df = SparkEntry.queries("q05_groupby_agg")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // after execution the adaptive plan is final and the post-shuffle
    // read is an AQEShuffleRead (coalesced at this tiny scale) — the
    // runtime re-planning that handles scale-dependent partition
    // counts without manual tuning
    assert(plan.contains("AQEShuffleRead"), s"plan:\n$plan")
    assert(plan.contains("isFinalPlan=true"), s"plan:\n$plan")
  }

  test("q40 EXISTS/NOT EXISTS decorrelate to one semi and one anti join") {
    val plan = SparkEntry.queries("q40_exists_subquery")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected a semi join in:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected an anti join in:\n$plan")
  }

  test("q38 left outer join keeps customers with zero orders") {
    val df = SparkEntry.queries("q38_left_outer_agg")(spark, sf)
    val nCustomers = graft.sources.Tables.customer(spark, sf).count()
    assert(df.count() === nCustomers)
    // zero-order rows must agree with a direct anti join vs all orders
    val zeros = df.filter("n_orders = 0").count()
    val anti = graft.sources.Tables.customer(spark, sf)
      .join(graft.sources.Tables.orders(spark, sf),
        org.apache.spark.sql.functions.col("c_custkey") ===
          org.apache.spark.sql.functions.col("o_custkey"), "left_anti")
      .count()
    assert(zeros === anti)
  }

  test("q11 top-k compiles to TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("q11_sort_limit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("approx sketches land within tolerance of exact values (q29)") {
    // the raw estimates stay engine-internal (they can't value-match
    // DuckDB), so the OBSERVED error is bounded here, tighter than the
    // q29 row's declared 3×rsd envelope
    import org.apache.spark.sql.functions._
    val r = graft.sources.Tables.orders(spark, sf).agg(
      approx_count_distinct("o_custkey").as("approx"),
      count_distinct(col("o_custkey")).as("exact"),
      percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
        .as("amed")).head()
    val approx = r.getLong(0).toDouble
    val exact = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"HLL estimate $approx vs exact $exact")
    assert(r.getDouble(2) > 0, "median sketch must be positive")

    // and the oracle-checked bound columns all hold
    val rows = SparkEntry.queries("q29_approx_sketches")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getBoolean(1) && r.getBoolean(2)),
      "sketch estimate escaped its declared envelope")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle coverage: every query has oracle SQL or documented absence") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
  }
}

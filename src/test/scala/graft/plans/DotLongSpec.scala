package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DotLongSpec extends AnyFunSuite {
  import TestSpark.spark

  // the SQL name is installed by graft.Session, which built TestSpark
  test("dot_long evaluates exactly in SQL (codegen path)") {
    val r = spark.sql(
      "SELECT dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").collect()
    assert(r.head.getLong(0) === 32L)
  }

  test("dot_long stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    // parquet-backed input (a local relation would be constant-folded
    // into a LocalTableScan before any codegen stage exists)
    val df = graft.operators.DedupQueries.quantized(spark, TestSpark.sf)
      .select(col("vec_id"), DotLong.col(col("r"), col("r")).as("self_dot"),
        col("nn"))
    val rows = df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"expected codegen stage marker in:\n$plan")
    // self-dot must equal the nn column computed by the HOF form
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2)))
  }

  test("dot_long matches the interpreted aggregate/zip_with form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq.tabulate(50)(i =>
      (Array.tabulate(64)(j => (i * j % 37 - 18).toLong),
        Array.tabulate(64)(j => (i + j % 23 - 11).toLong))).toDF("a", "b")
    val both = df.select(
      DotLong.col(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0L),
        (acc, v) => acc + v).as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("type mismatch is rejected at analysis") {
    assertThrows[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT dot_long(array(1, 2), array(3L, 4L))").collect())
  }
}

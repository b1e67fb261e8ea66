package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShims
import org.scalatest.funsuite.AnyFunSuite

import graft.{PersistRegistry, SparkEntry, TestSpark}
import graft.operators.{DedupQueries, SimilarityQueries}

/** The query builders need no session set-up. A session graft.Session
  * did not build (the benchmark harness builds its own) has only
  * Spark's built-in functions and no extra strategies; each query
  * below must return the factory session's rows there, and its
  * executed plan must compute the engine's own expression or plan
  * node, so a stage snapshot adopted from the other session cannot
  * hide a missing registration. */
class FreshSessionSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  /** A new session on the shared context, with the conf the
    * benchmark's session sets for the events fixture. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(!s.catalog.functionExists("dot_long"))
    assert(!s.catalog.functionExists("nfc_norm"))
    assert(GraftSqlShims.experimental(s).extraStrategies.isEmpty)
    s
  }

  private def rowsAndPlan(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq
    PersistRegistry.release()
    (rows, df.queryExecution.executedPlan.toString)
  }

  // v12 stands for the DotLong queries: d05's pair scan is a JVM
  // kernel, while v12's probe and re-rank evaluate DotLong in the plan
  for ((name, marker) <- Seq(
      "v12_filtered_ann" -> "dot_long(",
      "q57_bloom_prefilter" -> "might_contain(",
      "t12_nfc_normalize" -> "nfc_norm(",
      // SparkPlan.nodeName strips the Exec suffix in plan strings
      "q43_asof_custom_exec" -> "AsOfJoin ["))
    test(s"$name runs in a session with no engine extensions") {
      val (want, _) = rowsAndPlan(SparkEntry.queries(name)(spark, sf))
      val (got, plan) = rowsAndPlan(SparkEntry.queries(name)(fresh(), sf))
      assert(plan.contains(marker), s"expected $marker in:\n$plan")
      assert(got === want)
    }

  test("deleteRepairCore (the serving delete path) runs in a session " +
      "with no engine extensions") {
    def repaired(s: SparkSession): DataFrame = {
      val vecs = DedupQueries.quantized(s, sf)
      // each vector links to the next three ids of its cell
      val ranked = vecs.select(col("vec_id"), col("label"),
        row_number().over(Window.partitionBy("label").orderBy("vec_id"))
          .as("k"))
      val gd = ranked.as("a").join(ranked.as("b"),
          col("a.label") === col("b.label") &&
            col("b.k") > col("a.k") && col("b.k") <= col("a.k") + 3)
        .select(col("a.vec_id").as("vec_id"),
          col("b.vec_id").as("neighbor_id"))
      val del = vecs.filter(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("del_id"))
      SimilarityQueries.deleteRepairCore(s, gd, del, vecs.filter(_))
        .orderBy("vec_id", "neighbor_id")
    }
    val (want, _) = rowsAndPlan(repaired(spark))
    val (got, _) = rowsAndPlan(repaired(fresh()))
    assert(want.nonEmpty)
    assert(got === want)
  }
}

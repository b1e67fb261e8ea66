package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{Column, DataFrame, ExperimentalMethods, SparkSession}

/** Minimal package-private-access shims (the standard extension-library
  * pattern: a tiny object inside `org.apache.spark.sql.*` so library
  * code can build a DataFrame from a custom LogicalPlan — Spark keeps
  * `Dataset.ofRows` private[sql] on purpose, and everything else in
  * this repo stays on the public API).
  */
object GraftSqlShims {

  /** DataFrame from a custom logical plan (analyzer runs eagerly). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column around a Catalyst expression: the engine's own
    * expressions plug into the DataFrame API with no function-registry
    * lookup, so they work in any session. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The expression behind a Column (unresolved until analysis), to
    * pass as a child to `column`'s expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The analyzed logical plan behind a DataFrame. */
  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Session hook for extra planner strategies / optimizer rules. */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental

  /** Blocks until the listener bus has delivered every event posted
    * so far (the bus is private[spark]); graft.Ledger reads after it. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Resident (memory bytes, disk bytes) of the cached columnar
    * buffers behind `df`, or None when the plan is not cached or its
    * buffers were never materialized — observability for sizing the
    * serving corpus cache's LRU bound from data (CacheManager and
    * CachedData are private[sql], hence the shim; nothing here forces
    * a fill: the buffer RDD is consulted only when already loaded). */
  def cachedResidentBytes(df: DataFrame): Option[(Long, Long)] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val cs = ds.sparkSession
    cs.sharedState.cacheManager.lookupCachedData(ds).flatMap { cd =>
      val b = cd.cachedRepresentation.cacheBuilder
      if (!b.isCachedColumnBuffersLoaded) None
      else {
        val id = b.cachedColumnBuffers.id
        cs.sparkContext.getRDDStorageInfo.find(_.id == id)
          .map(i => (i.memSize, i.diskSize))
      }
    }
  }
}

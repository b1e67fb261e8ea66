package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, PredicateHelper, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.GraftSqlShims

/** As-of join as a first-class Catalyst operator — the (c)-tier
  * extension path: custom LogicalPlan + SparkStrategy + SparkPlan,
  * registered per session. Spark SQL has no ASOF JOIN (only the
  * Pandas-on-Spark merge_asof API); the composable fallback is the
  * union+window form (q31). This operator gives the join its own
  * physical node: one co-partitioning shuffle on the key + in-
  * partition sort on (key, ts) — the SAME cost shape as a sort-merge
  * equi-join — then a single forward merge pass per partition that
  * keeps, for every left row, the latest right row with
  * `right.ts <= left.ts` (LEFT OUTER: unmatched left rows keep nulls).
  *
  * Scale: no range explosion (never materializes candidate pairs the
  * way a `BETWEEN` theta-join would), state during the merge is ONE
  * buffered right row, and both children's sorts/exchanges are planned
  * by EnsureRequirements — so AQE, co-partitioned reuse, and bucketed
  * inputs all compose. Ordering contract: ties on right ts resolve to
  * the LAST right row in (key, ts) sort order; callers that need
  * determinism under ties must project a tie-free right payload
  * (DuckDB's ASOF JOIN has the same caveat).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    isInner: Boolean = false,
    toleranceUs: Long = -1L,
    hint: String = "auto") extends BinaryNode {
  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: picks the physical form by the right side's
  * size, the same way Spark chooses broadcast-hash over sort-merge —
  * a small right side broadcasts (no shuffle of the big left side at
  * all); otherwise both sides co-partition and merge. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, inner, tol, hint) =>
      val threshold =
        org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val broadcast = hint == "broadcast" || (hint == "auto" &&
        threshold >= 0 && r.stats.sizeInBytes >= 0 &&
        r.stats.sizeInBytes <= threshold)
      if (broadcast)
        BroadcastAsOfJoinExec(lk, rk, lts, rts, inner, tol,
          planLater(l), planLater(r)) :: Nil
      else
        AsOfJoinExec(lk, rk, lts, rts, inner, tol,
          planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: push left-side-only conjuncts through the as-of
  * join. Catalyst's own PushPredicateThroughJoin cannot see a custom
  * node, so without this rule a `WHERE` above an asofJoin blocks all
  * pushdown and the scans read everything. Pushing a predicate over
  * LEFT columns is semantics-preserving for the left-outer as-of
  * join: dropping a left row never changes any other row's match
  * (matches depend only on the right side). Right-side predicates do
  * NOT commute (they would change which right row is "latest" and
  * null-extension) and stay put.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, j: AsOfJoinPlan) =>
      val (pushable, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Physical as-of merge join. Children are hash-co-partitioned on the
  * join key and sorted by (key, ts) — both requirements are declared,
  * not hand-built, so Catalyst inserts (or elides, for bucketed /
  * already-partitioned input) the exchanges. */
case class AsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    isInner: Boolean, toleranceUs: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    val inner = isInner
    val tol = toleranceUs
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKey = UnsafeProjection.create(lKeyExprs, leftOut)
      val rKey = UnsafeProjection.create(rKeyExprs, rightOut)
      val lTs = BindReferences.bindReference(lTsExpr: Expression, leftOut)
      val rTs = BindReferences.bindReference(rTsExpr: Expression, rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val nullRight = new GenericInternalRow(rightOut.length)
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val buf = rIter.buffered
      // one-row merge state: the latest right row at-or-before the
      // current left timestamp, and the key it belongs to
      var matchKey: UnsafeRow = null
      var lastMatch: InternalRow = null
      var lastMatchTs = 0L
      lIter.flatMap { lrow =>
        val lk = lKey(lrow)
        val lt = lTs.eval(lrow).asInstanceOf[Long]
        var advancing = true
        while (advancing && buf.hasNext) {
          val rk = rKey(buf.head)
          val c = keyOrd.compare(rk, lk)
          if (c < 0 || (c == 0 && rTs.eval(buf.head).asInstanceOf[Long] <= lt)) {
            val rrow = buf.next()
            if (c == 0) {
              // copies: projections and iterators reuse row buffers
              lastMatch = rrow.copy()
              lastMatchTs = rTs.eval(lastMatch).asInstanceOf[Long]
              if (matchKey == null || keyOrd.compare(matchKey, lk) != 0)
                matchKey = lk.copy()
            }
          } else advancing = false
        }
        // the latest at-or-before right row matches unless it is older
        // than the tolerance window (any earlier row is older still)
        val matched = matchKey != null && keyOrd.compare(matchKey, lk) == 0 &&
          (tol < 0 || lt - lastMatchTs <= tol)
        if (matched) Some(resultProj(joined(lrow, lastMatch)))
        else if (inner) None
        else Some(resultProj(joined(lrow, nullRight)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Broadcast physical form: the right side is collected, grouped by
  * key into ts-sorted arrays, and broadcast; each left partition then
  * binary-searches its matches — NO shuffle or sort of either side.
  * The correct plan when the reference series is dim-sized (the
  * "did I broadcast it?" question for as-of joins). */
case class BroadcastAsOfJoinExec(
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTs: Attribute, rightTs: Attribute,
    isInner: Boolean, toleranceUs: Long,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val rightOut = right.output
    val rKeyProj = UnsafeProjection.create(rightKeys, rightOut)
    val rTsBound = BindReferences.bindReference(rightTs: Expression, rightOut)
    // driver-side build: key -> (sorted ts array, rows in that order)
    val grouped = new java.util.HashMap[UnsafeRow,
      scala.collection.mutable.ArrayBuffer[(Long, InternalRow)]]()
    right.executeCollect().foreach { row =>
      val k = rKeyProj(row).copy()
      val ts = rTsBound.eval(row).asInstanceOf[Long]
      val buf = grouped.computeIfAbsent(k,
        _ => scala.collection.mutable.ArrayBuffer.empty)
      buf += ((ts, row.copy()))
    }
    val built = new java.util.HashMap[UnsafeRow, (Array[Long], Array[InternalRow])]()
    grouped.forEach { (k, buf) =>
      val sorted = buf.sortBy(_._1)
      built.put(k, (sorted.map(_._1).toArray, sorted.map(_._2).toArray))
    }
    val bc = session.sparkContext.broadcast(built)
    val leftOut = left.output
    val lKeyExprs = leftKeys
    val lTsExpr = leftTs
    val outAttrs = output
    val nRight = rightOut.length
    val inner = isInner
    val tol = toleranceUs
    left.execute().mapPartitions { lIter =>
      val lKey = UnsafeProjection.create(lKeyExprs, leftOut)
      val lTsB = BindReferences.bindReference(lTsExpr: Expression, leftOut)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val map = bc.value
      lIter.flatMap { lrow =>
        val lt = lTsB.eval(lrow).asInstanceOf[Long]
        val hit = map.get(lKey(lrow))
        var matchRow: InternalRow = null
        if (hit != null) {
          val (tss, rows) = hit
          // rightmost ts <= lt
          var lo = 0
          var hi = tss.length - 1
          var idx = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (tss(mid) <= lt) { idx = mid; lo = mid + 1 } else hi = mid - 1
          }
          if (idx >= 0 && (tol < 0 || lt - tss(idx) <= tol))
            matchRow = rows(idx)
        }
        if (matchRow != null) Some(resultProj(joined(lrow, matchRow)))
        else if (inner) None
        else Some(resultProj(joined(lrow, nullRight)))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. */
object AsOfJoin {

  /** As-of join: every `left` row, plus the columns of the latest
    * `right` row with the same key and `rightTsCol <= leftTsCol`.
    * `joinType` "left" (default) null-extends unmatched left rows;
    * "inner" drops them. `toleranceUs >= 0` additionally rejects a
    * match older than `leftTs - toleranceUs` (pandas merge_asof's
    * tolerance). Timestamp columns must be LongType (epoch micros —
    * the engine's canonical event-time encoding) and non-null; column
    * names must not collide across sides. NULL keys match EACH OTHER
    * (binary row equality, like a group-by — not SQL join semantics);
    * pre-filter them out when that is not wanted. */
  def asofJoin(spark: SparkSession, left: DataFrame, right: DataFrame,
      leftKeyCols: Seq[String], rightKeyCols: Seq[String],
      leftTsCol: String, rightTsCol: String,
      joinType: String = "left", toleranceUs: Long = -1L,
      strategy: String = "auto"): DataFrame = {
    require(joinType == "left" || joinType == "inner",
      s"asofJoin supports left|inner, got $joinType")
    require(Set("auto", "merge", "broadcast")(strategy),
      s"asofJoin strategy must be auto|merge|broadcast, got $strategy")
    // the plan node needs the strategy, and a session this engine
    // did not build (graft.Session) has not installed it yet
    GraftExtensions.register(spark)
    val lp = GraftSqlShims.analyzedPlan(left)
    val rp = GraftSqlShims.analyzedPlan(right)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${p.output.map(_.name).mkString(", ")}"))
    GraftSqlShims.ofRows(spark, AsOfJoinPlan(lp, rp,
      leftKeyCols.map(attr(lp, _)), rightKeyCols.map(attr(rp, _)),
      attr(lp, leftTsCol), attr(rp, rightTsCol),
      isInner = joinType == "inner", toleranceUs = toleranceUs,
      hint = strategy))
  }
}

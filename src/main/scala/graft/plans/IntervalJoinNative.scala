package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col

/** Native point-in-interval (containment) join — the second whole custom
  * operator next to [[AsOfJoinNative]]: an [[IntervalJoinNode]]
  * LogicalPlan, planned by [[IntervalJoinStrategy]] into
  * [[IntervalJoinExec]], a co-partitioned INTERVAL SWEEP. Each task walks
  * its (key, ts)-sorted point slice and (key, start)-sorted interval slice
  * ONCE, carrying a buffer of currently-OPEN intervals (opened when
  * `start ≤ ts`, evicted forever once `end < ts` — points are
  * time-ascending within a key, so a closed interval can never match
  * again). State is O(max concurrent overlap per key) — for
  * session-shaped intervals that is ONE — never O(|intervals|).
  *
  * Why it exists next to [[graft.relational.RangeJoin.pointInInterval]]
  * (the time-binned equi-join, which remains the default): the composed
  * form replicates each interval into every bin it covers (cost ∝
  * interval length / bin width, and a bin-width tuning knob), then
  * re-filters; the native exec needs no binning, no replication, and no
  * residual filter — the sweep IS the containment check. It shares
  * `range_join_sessions`' DuckDB raw-BETWEEN oracle
  * (`range_join_native`), proving the sweep bit-equal to both the
  * composed plan and the declarative semantics.
  *
  * Semantics: INNER — a point emits one output row per containing
  * interval (`start ≤ ts ≤ end`, both inclusive, matching the oracle's
  * BETWEEN) and vanishes when nothing contains it; intervals with null
  * bounds never match; a null point timestamp never matches. Keys compare
  * with grouping semantics (the [[AsOfJoinNode]] contract). Output order
  * within a task: point order, ties in interval `start` order — but
  * multi-match output ordering is NOT part of the contract (consumers
  * aggregate or sort).
  *
  * Scale shape: EnsureRequirements gives both children hash partitioning
  * on the keys and the per-partition sorts — the SortMergeJoin envelope:
  * one shuffle per side, spillable sorts, then one forward pass per task
  * with a bounded open-interval buffer. A whale key costs its sort.
  */
case class IntervalJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightStart: Expression, rightEnd: Expression,
    payload: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ payload

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IntervalJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Same column-pruning completion as [[AsOfJoinPruningRule]]: Catalyst
  * cannot prune through an unknown node, so push a Project below the
  * point side carrying only keys + timestamp + parent-referenced columns.
  * The interval side is already minimal (the builder re-projects it).
  */
object IntervalJoinPruningRule
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, ij: IntervalJoinNode) =>
      val required = p.references ++
        AttributeSet(ij.leftKeys.flatMap(_.references)) ++ ij.leftTs.references
      val kept = ij.left.output.filter(required.contains)
      if (kept.size < ij.left.output.size)
        p.copy(child = ij.copy(left = Project(kept, ij.left)))
      else p
  }
}

object IntervalJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case IntervalJoinNode(l, r, lk, rk, lts, rs, re, payload) =>
      IntervalJoinExec(planLater(l), planLater(r), lk, rk, lts, rs, re, payload) :: Nil
    case _ => Nil
  }
}

case class IntervalJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightStart: Expression, rightEnd: Expression,
    payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payload

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightStart, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rStartExpr = rightStart
    val rEndExpr = rightEnd
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTsBound = BindReferences.bindReference(lTsExpr, lOut)
      val rStartBound = BindReferences.bindReference(rStartExpr, rOut)
      val rEndBound = BindReferences.bindReference(rEndExpr, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
      val joined = new JoinedRow

      // one-row lookahead of the interval side (copied: sort iterators
      // reuse row objects); null-bounded intervals are skipped here
      var nextR: InternalRow = null
      var nextRKey: UnsafeRow = null
      var nextRStart: Long = 0L
      def fetchRight(): Unit = {
        nextR = null; nextRKey = null
        while (nextR == null && rIt.hasNext) {
          val r = rIt.next()
          val s = rStartBound.eval(r)
          val e = rEndBound.eval(r)
          if (s != null && e != null) {
            nextR = r.copy()
            nextRKey = rKeyProj.apply(nextR).copy()
            nextRStart = s.asInstanceOf[Long]
          }
        }
      }
      fetchRight()

      // the sweep state: intervals of the CURRENT key whose start has been
      // passed and whose end has not — bounded by the key's max concurrent
      // overlap (1 for session-shaped intervals), never |intervals|
      var openKey: UnsafeRow = null
      val open = new ArrayBuffer[(Long, InternalRow)]() // (end, row)

      lIt.flatMap { l =>
        val lKey = lKeyProj.apply(l)
        if (openKey == null || keyOrd.compare(openKey, lKey) != 0) {
          open.clear()
          openKey = lKey.copy()
        }
        // discard interval rows for keys strictly before the current left
        // key (their points have all passed)
        while (nextR != null && keyOrd.compare(nextRKey, lKey) < 0) fetchRight()
        val lTsVal = lTsBound.eval(l)
        if (lTsVal == null) Iterator.empty
        else {
          val lTs = lTsVal.asInstanceOf[Long]
          // open every same-key interval whose start has been reached
          while (nextR != null && keyOrd.compare(nextRKey, lKey) == 0 &&
              nextRStart <= lTs) {
            val e = rEndBound.eval(nextR).asInstanceOf[Long]
            if (e >= lTs) open += ((e, nextR)) // already-closed never matches
            fetchRight()
          }
          // evict intervals that closed before this point — monotone ts
          // within the key means they can never match again
          var i = 0
          while (i < open.length) {
            if (open(i)._1 < lTs) { open.remove(i) } else i += 1
          }
          // snapshot the match list (row REFS — stable copies), but project
          // LAZILY: UnsafeProjection reuses one result buffer, so each
          // projected row must be consumed downstream before the next
          // next() overwrites it (the SortMergeJoin pipelining contract);
          // an eager collect here would alias every match to the last one
          val matches = open.toArray
          matches.iterator.map { case (_, r) => resultProj.apply(joined(l, r)) }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IntervalJoinExec =
    copy(left = newLeft, right = newRight)
}

object IntervalJoinNative {

  /** Column-API builder mirroring
    * [[graft.relational.RangeJoin.pointInInterval]] (minus the bin-width
    * knob — the sweep needs none). The interval side re-projects through
    * fresh aliases so both sides may derive from one base relation (the
    * self-join attribute-id hazard).
    */
  def contains(
      points: DataFrame, intervals: DataFrame, keys: Seq[String],
      tsCol: String, startCol: String, endCol: String,
      intervalPayload: Seq[String]): DataFrame = {
    val spark = points.sparkSession
    graft.GraftExtensions.install(spark)
    val rPrep = intervals.select(
      keys.map(k => col(k).as(s"__ik_$k")) ++
        intervalPayload.map(p => col(p).as(s"__ip_$p")) :+
        col(startCol).as("__istart") :+ col(endCol).as("__iend"): _*)
    val lPlan = points.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    def attrOf(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = IntervalJoinNode(
      lPlan, rPlan,
      keys.map(attrOf(lPlan, _)), keys.map(k => attrOf(rPlan, s"__ik_$k")),
      attrOf(lPlan, tsCol),
      attrOf(rPlan, "__istart"), attrOf(rPlan, "__iend"),
      intervalPayload.map(p => attrOf(rPlan, s"__ip_$p")))
    GraftSqlBridge.ofRows(spark, node)
      .select(points.columns.map(col).toIndexedSeq ++
        intervalPayload.map(p => col(s"__ip_$p").as(p)): _*)
  }
}

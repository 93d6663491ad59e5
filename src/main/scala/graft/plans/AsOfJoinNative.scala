package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions.col

/** Native as-of (backward) join — the whole-operator custom-plan path of
  * the preference order: a [[AsOfJoinNode]] LogicalPlan, planned by
  * [[AsOfJoinStrategy]] into [[AsOfJoinExec]], a co-partitioned streaming
  * MERGE join: each task walks its (key, ts)-sorted left and right slices
  * once, carrying ONE buffered right row ("latest at or before") — O(1)
  * state, zero materialization, no window operator, no union.
  *
  * Why it exists next to [[graft.relational.AsOfJoin]] (the composed
  * union+window form, which remains the default): the composed form pays
  * one sort over |L|+|R| rows in a single relation and carries every left
  * column through the window; the native exec sorts each side separately
  * (the right side is usually orders of magnitude smaller — here, hourly
  * candles vs raw events) and streams. It is also the repo's demonstration
  * that the engine can grow WHOLE OPERATORS, not just expressions and
  * aggregates: `asof_join_native` shares `asof_join`'s DuckDB ASOF-JOIN
  * oracle, proving the custom plan bit-equal to both the composed form
  * and the reference semantics.
  *
  * Semantics: for every left row, attach the payload of the latest right
  * row with equal keys and right-ts ≤ left-ts (inclusive); no match →
  * nulls. Right payload must be unique per (key, ts) for determinism
  * (the same contract as the composed form and DuckDB ASOF). Keys compare
  * with grouping semantics (null keys match null keys — document-level
  * difference from SQL equi-join nulls, irrelevant to non-null keys).
  * Null right timestamps never match; a null left timestamp gets nulls.
  *
  * Scale shape: EnsureRequirements gives both children compatible hash
  * partitioning on the keys and per-partition (keys, ts) sort — exactly
  * the SortMergeJoin envelope: one shuffle per side, spillable sorts,
  * then a single forward pass per task with one buffered row of state. A
  * whale key costs its sort; memory stays O(1) per task.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    payload: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule completing the custom-plan toolkit: Catalyst's own
  * ColumnPruning cannot see through an unknown node, so a probe-side scan
  * under [[AsOfJoinNode]] would read EVERY column even when the query
  * projects two — at 100 TB that is the difference between scanning a
  * table and scanning a stripe. This rule pushes a pruning Project below
  * the node's left child (keys + timestamp + whatever the parent actually
  * references); physical planning's ScanOperation then collapses it into
  * the FileScan's ReadSchema (AsOfJoinNativeSpec asserts the narrowed
  * scan). The right side needs no rule — the builder already re-projects
  * it to exactly (keys, ts, payload).
  */
object AsOfJoinPruningRule
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, aj: AsOfJoinNode) =>
      val required = p.references ++
        AttributeSet(aj.leftKeys.flatMap(_.references)) ++ aj.leftTs.references
      val kept = aj.left.output.filter(required.contains)
      if (kept.size < aj.left.output.size)
        p.copy(child = aj.copy(left = Project(kept, aj.left)))
      else p
  }
}

object AsOfJoinStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lts, rts, payload) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, payload) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    payload: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTs, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTs, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val keyTypes = leftKeys.map(_.dataType)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTsBound = BindReferences.bindReference(lTsExpr, lOut)
      val rTsBound = BindReferences.bindReference(rTsExpr, rOut)
      // bind the right side as NULLABLE: unmatched left rows feed an
      // all-null right row, and a non-nullable BoundReference would skip
      // the null check and read garbage zeros
      val resultProj = UnsafeProjection.create(
        outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)

      // one-row lookahead of the right side (copied: sort iterators reuse
      // row objects) ...
      var nextR: InternalRow = null
      var nextRKey: UnsafeRow = null
      var nextRTs: java.lang.Long = null
      def fetchRight(): Unit = {
        nextR = null; nextRKey = null; nextRTs = null
        while (nextR == null && rIt.hasNext) {
          val r = rIt.next()
          val ts = rTsBound.eval(r)
          if (ts != null) { // null right ts never matches anything: skip
            nextR = r.copy()
            nextRKey = rKeyProj.apply(nextR).copy()
            nextRTs = ts.asInstanceOf[Long]
          }
        }
      }
      fetchRight()

      // ... and the O(1) carried state: the latest right row at or before
      // the current left timestamp, with the key it belongs to
      var curKey: UnsafeRow = null
      var curRight: InternalRow = null

      lIt.map { l =>
        val lKey = lKeyProj.apply(l)
        val lTsVal = lTsBound.eval(l)
        // drop right rows for keys strictly before the current left key
        while (nextR != null && keyOrd.compare(nextRKey, lKey) < 0) fetchRight()
        if (lTsVal != null) {
          val lTs = lTsVal.asInstanceOf[Long]
          // absorb every same-key right row at or before lTs; the LAST one
          // wins (ties on right (key, ts) resolve to sort order, matching
          // the unique-payload contract)
          while (nextR != null && keyOrd.compare(nextRKey, lKey) == 0 &&
              nextRTs.longValue() <= lTs) {
            curKey = nextRKey
            curRight = nextR
            fetchRight()
          }
        }
        val matched = lTsVal != null && curKey != null &&
          keyOrd.compare(curKey, lKey) == 0
        resultProj.apply(joined(l, if (matched) curRight else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinNative {

  /** Column-API builder mirroring [[graft.relational.AsOfJoin.backward]].
    * The right side is re-projected through fresh aliases so a left and
    * right derived from the same base relation cannot collide on
    * attribute ids (the standard self-join hazard for hand-built plans).
    */
  def backward(
      left: DataFrame, right: DataFrame,
      leftTs: String, rightTs: String,
      keys: Seq[String], rightPayload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.install(spark)
    val rPrep = right.select(
      keys.map(k => col(k).as(s"__rk_$k")) ++
        rightPayload.map(p => col(p).as(s"__rp_$p")) :+
        col(rightTs).as("__rts"): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rPrep.queryExecution.analyzed
    def attrOf(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = AsOfJoinNode(
      lPlan, rPlan,
      keys.map(attrOf(lPlan, _)), keys.map(k => attrOf(rPlan, s"__rk_$k")),
      attrOf(lPlan, leftTs), attrOf(rPlan, "__rts"),
      rightPayload.map(p => attrOf(rPlan, s"__rp_$p")))
    GraftSqlBridge.ofRows(spark, node)
      .select(left.columns.map(col).toIndexedSeq ++
        rightPayload.map(p => col(s"__rp_$p").as(p)): _*)
  }
}

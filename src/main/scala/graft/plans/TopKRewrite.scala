package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (opt-in via GraftExtensions): rewrites the
  * ubiquitous "top-k per key" DataFrame idiom
  *
  *   row_number().over(Window.partitionBy(keys).orderBy(ord))
  *     .filter(rn <= k).drop("rn")
  *
  * into the heap-based [[TopKPerKeyNode]] — same single shuffle, but
  * O(n log k) bounded-heap work instead of a full O(n log n) partition
  * sort (1.9x at sf0.1, growing with rows-per-key; see SCALE.md).
  *
  * Fires only when the rewrite is airtight:
  *  - the Window computes exactly ONE expression: row_number() over a
  *    non-empty partitionSpec + orderSpec (its frame is always
  *    ROWS UNBOUNDED PRECEDING..CURRENT ROW);
  *  - the filter bounds ONLY the row number (rn <= k / rn < k /
  *    rn = 1) with an integer literal;
  *  - the projection above DROPS the row number (if rn is selected we
  *    must keep the Window, which numbers rows — the heap does not).
  *
  * Ties beyond the ordering are resolved arbitrarily by both the
  * window formulation (partition-order dependent) and the heap, so
  * the rewrite preserves Spark's (non-)determinism contract; with a
  * total ordering both produce identical rows.
  *
  * Spark's own InferWindowGroupLimit has usually inserted a
  * [[WindowGroupLimit]] below the Window by the time user rules run —
  * it pre-filters each partition to the top k but still sorts and
  * numbers; we unwrap it and take over the whole job.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  private def bound(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _))
      if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _))
      if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(k: Int, _))
      if a.exprId == rn && k == 1 => Some(1)
    case EqualTo(Literal(k: Int, _), a: AttributeReference)
      if a.exprId == rn && k == 1 => Some(1)
    case _ => None
  }

  private def unwrapGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case WindowGroupLimit(_, _, _, _, child) => child
    case other => other
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(cond,
          w @ Window(Seq(al @ Alias(
            WindowExpression(_: RowNumber, _), _)), partSpec, orderSpec, _, _)))
        if partSpec.nonEmpty && orderSpec.nonEmpty &&
          partSpec.forall(_.deterministic) &&
          orderSpec.forall(_.deterministic) =>
      val rn = al.exprId
      bound(cond, rn) match {
        case Some(k) if k >= 1 &&
            cond.references.forall(_.exprId == rn) &&
            projList.forall(!_.references.exists(_.exprId == rn)) =>
          Project(projList,
            TopKPerKeyNode(partSpec, orderSpec, k, unwrapGroupLimit(w.child)))
        case _ => p
      }

    // CollapseProject folds a `.drop("rn")` straight into a parent
    // Aggregate before user rules run, leaving
    // Aggregate(Filter(Window(row_number))) with no intervening
    // Project — the KMV k-minima cut (x6_kmv_poly) plans this way.
    // Same guards as above, with "the projection drops rn" replaced
    // by "no grouping or aggregate expression references rn".
    case a @ Aggregate(groupExprs, aggExprs,
        Filter(cond,
          w @ Window(Seq(al @ Alias(
            WindowExpression(_: RowNumber, _), _)), partSpec, orderSpec, _, _)), _)
        if partSpec.nonEmpty && orderSpec.nonEmpty &&
          partSpec.forall(_.deterministic) &&
          orderSpec.forall(_.deterministic) =>
      val rn = al.exprId
      bound(cond, rn) match {
        case Some(k) if k >= 1 &&
            cond.references.forall(_.exprId == rn) &&
            groupExprs.forall(!_.references.exists(_.exprId == rn)) &&
            aggExprs.forall(!_.references.exists(_.exprId == rn)) =>
          a.copy(child =
            TopKPerKeyNode(partSpec, orderSpec, k, unwrapGroupLimit(w.child)))
        case _ => a
      }
  }
}

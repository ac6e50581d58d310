package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{MaxBy, MinBy}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrite the QUALIFY-dedup pattern
  *
  *   Filter(rn = 1, Window([rn := row_number() OVER (PARTITION BY p ORDER BY o)], child))
  *
  * into a hash aggregation
  *
  *   Aggregate(p, max_by/min_by(struct(child.output), struct(o)), child)
  *
  * Keep-latest dedup through a window sorts every partition; the aggregate
  * form needs no sort and partial-aggregates map-side, which measured ~8×
  * faster at 10M rows (see Dedup.keepLatestAgg — this rule applies the same
  * rewrite to any user's QUALIFY-style dedup automatically).
  *
  * Constraints for a safe rewrite (else the plan is left untouched):
  *  - exactly one window expression, a plain `row_number()`;
  *  - the filter is `rn = 1` (or `1 = rn`) and references nothing else;
  *  - all ORDER BY directions identical: all-ASC → min_by lexicographic
  *    struct, all-DESC → max_by (mixed directions can't be expressed as a
  *    single struct ordering);
  *  - row_number's nondeterminism on ties is resolved identically by
  *    min_by/max_by only when the order is total per partition — the same
  *    caveat the window form already carries (SURVEY.md §7 risks).
  */
object RewriteRankOneToMaxBy extends Rule[LogicalPlan] {

  private def isRankOne(cond: Expression, rnExprId: ExprId): Boolean = cond match {
    case EqualTo(a: AttributeReference, IntegerLiteral(1)) => a.exprId == rnExprId
    case EqualTo(IntegerLiteral(1), a: AttributeReference) => a.exprId == rnExprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
          WindowSpecDefinition(partitionSpec, orderSpec, _)), _)), _, _, child, _))
        if isRankOne(cond, alias.exprId) &&
          orderSpec.nonEmpty &&
          orderSpec.forall(_.direction == orderSpec.head.direction) &&
          partitionSpec.forall(_.isInstanceOf[AttributeReference]) =>
      val payload = CreateStruct(child.output)
      val ordKey = CreateStruct(orderSpec.map(_.child))
      val pick =
        if (orderSpec.head.direction == Descending) MaxBy(payload, ordKey)
        else MinBy(payload, ordKey)
      val pickedAlias = Alias(pick.toAggregateExpression(), "__picked")()
      val groupAliases = partitionSpec.map(_.asInstanceOf[AttributeReference])
      val agg = Aggregate(groupAliases, groupAliases :+ pickedAlias, child)
      val picked = pickedAlias.toAttribute
      // restore the child's original output attributes (same exprIds) plus
      // the rank column the filter consumed (constant 1 after the rewrite)
      val restored = child.output.zipWithIndex.map { case (a, i) =>
        Alias(GetStructField(picked, i, Some(a.name)), a.name)(exprId = a.exprId)
      } :+ Alias(Literal(1), alias.name)(exprId = alias.exprId)
      Project(restored, agg)
  }
}

/** The one registration path for the engine's rules, parser and
  * functions: [[graft.Session]] sets
  * `spark.sql.extensions=graft.plans.GraftExtensions`, so every session
  * gets them at build and nothing installs them at runtime. Installs the
  * four optimizer rules (QUALIFY-dedup rewrite, MV rewrite, metadata-only
  * count, stats join reorder), one query-stage preparation rule
  * ([[AggregateAtRepartitionWidth]]), the engine's native SQL functions
  * ([[graft.functions.expr.GraftFunctions]]), and the lifecycle SQL
  * surface ([[graft.sql.LifecycleSql]]: DESCRIBE HISTORY / RESTORE /
  * VACUUM / CLONE / ANALYZE on path-addressed manifest tables, all other
  * SQL delegating to Spark's parser untouched).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteRankOneToMaxBy)
    e.injectOptimizerRule(_ => RewriteAggregateToMv)
    e.injectOptimizerRule(_ => MetadataOnlyCount)
    e.injectOptimizerRule(_ => StatsJoinReorder)
    e.injectQueryStagePrepRule(_ => AggregateAtRepartitionWidth)
    e.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    graft.functions.expr.GraftFunctions.functions.foreach(e.injectFunction)
  }
}

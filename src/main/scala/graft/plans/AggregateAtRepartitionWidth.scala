package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM, ShuffleExchangeExec}

/** One shuffle for `groupBy(k).agg(...).repartition(n, k)`: the explicit
  * hash repartition on an aggregate's own grouping keys is folded into the
  * aggregate's exchange, which then runs at `n` partitions. Spark plans the
  * pair as two exchanges — the aggregate's at the session width, then the
  * repartition's at `n` — although hash-partitioning the partial
  * aggregates on `k` at `n` already satisfies both: the final aggregate
  * needs its rows clustered on `k`, and the caller asked for
  * `hashpartitioning(k, n)`. The map-side partial aggregate stays below
  * the one exchange.
  *
  * This is the shape of every PageRank round the kernel cuts
  * ([[graft.operators.Graph.pageRank]]): the round's sum by node,
  * repartitioned to the edge frame's width so the next round's join is
  * co-partitioned. Without the fold each cut round shuffles its V-sized
  * result twice.
  *
  * Conservative: only an explicit `REPARTITION_BY_NUM` hash exchange,
  * through projections that pass the keys through unchanged, over an
  * aggregate whose own child is the exchange `EnsureRequirements` added
  * on the SAME expressions; the folded exchange keeps the explicit
  * origin, so AQE does not coalesce away the requested width. Runs as a
  * query-stage preparation rule (after `EnsureRequirements`), so it
  * applies under adaptive execution; without AQE the two exchanges stay.
  */
object AggregateAtRepartitionWidth extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan transformUp {
    case up @ ShuffleExchangeExec(want: HashPartitioning, child, REPARTITION_BY_NUM, _) =>
      fold(child, want).getOrElse(up)
  }

  private def fold(p: SparkPlan, want: HashPartitioning): Option[SparkPlan] = p match {
    case proj: ProjectExec if want.references.subsetOf(proj.child.outputSet) =>
      fold(proj.child, want).map(c => proj.withNewChildren(Seq(c)))
    case agg: BaseAggregateExec => agg.child match {
      case ex @ ShuffleExchangeExec(have: HashPartitioning, _, ENSURE_REQUIREMENTS, _)
          if have.expressions.length == want.expressions.length &&
            have.expressions.zip(want.expressions).forall { case (a, b) => a.semanticEquals(b) } =>
        val at = have.copy(numPartitions = want.numPartitions)
        if (agg.requiredChildDistribution.forall(at.satisfies))
          Some(agg.withNewChildren(Seq(
            ex.copy(outputPartitioning = at, shuffleOrigin = REPARTITION_BY_NUM))))
        else None
      case _ => None
    }
    case _ => None
  }
}

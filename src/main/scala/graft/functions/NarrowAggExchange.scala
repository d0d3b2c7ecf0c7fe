package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** One shuffle where EnsureRequirements plans two: an aggregate keyed
  * by K2 whose consumer needs hash(K1), K1 ⊂ K2.
  *
  *   Exchange hash(K1, n)                      Final Agg(K2)
  *    [Project]*                                [Project]*
  *     Final Agg(K2)                  ⟹          Exchange hash(K1, n)
  *      Exchange hash(K2, n)                       Partial Agg(K2)
  *       Partial Agg(K2)
  *
  * hash(K1) satisfies the final aggregate's ClusteredDistribution(K2),
  * and the aggregate (and any Project that keeps K1) passes hash(K1, n)
  * on to the consumer, so the outer exchange has nothing left to do.
  * The map-side partial aggregate stays, so the one remaining shuffle
  * carries the same combined rows the inner one did. The χ² contingency
  * table is the case it was written for: the (term, category) count
  * feeds `sum(a) over (partition by term)`, and its one shuffle is now
  * keyed by term.
  *
  * The rule fires only when both exchanges are EnsureRequirements' own
  * (never a user `repartition`), both have the same partition count,
  * and K1 and K2 are plain attributes with K1 a strict subset of K2.
  * The remaining exchange is keyed by K1 in the outer exchange's order,
  * so a join that needed both sides co-partitioned on K1 still gets
  * exactly that partitioning.
  *
  * Trade: the aggregate now runs on coarser partitions (hash of fewer
  * keys), and a sort-merge join over it can no longer be split by AQE's
  * skew-join handling, since the shuffle stage is no longer directly
  * under the join. If AQE turns that join into a broadcast, the plan has
  * the same single shuffle it would have had without the rule.
  *
  * AQE only: it is injected with `injectQueryStagePrepRule`, which
  * `AdaptiveSparkPlanExec` applies after EnsureRequirements, to the
  * initial plan and to every re-optimized plan. With
  * `spark.sql.adaptive.enabled=false` the rule never runs, and the plan
  * keeps both exchanges (same rows, one more shuffle).
  */
object NarrowAggExchange extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case outer @ ShuffleExchangeExec(HashPartitioning(k1, n), child, ENSURE_REQUIREMENTS, _)
        if attrs(k1) =>
      rekeyed(child, k1, n).getOrElse(outer)
  }

  /** `plan` with its inner exchange re-keyed to `k1`, if `plan` is a
    * final aggregate (under Projects) over an exchange on a strict
    * superset of `k1` over a partial aggregate. A Project that carries
    * `k1`'s expression ids can only pass them through, so K1 ⊂ K2 by id
    * is the whole check.
    */
  private def rekeyed(plan: SparkPlan, k1: Seq[Expression], n: Int): Option[SparkPlan] =
    plan match {
      case p: ProjectExec =>
        rekeyed(p.child, k1, n).map(c => p.withNewChildren(Seq(c)))
      case fin: HashAggregateExec
          if fin.requiredChildDistributionExpressions.isDefined &&
            fin.aggregateExpressions.forall(_.mode == Final) =>
        fin.child match {
          case inner @ ShuffleExchangeExec(HashPartitioning(k2, `n`), part: HashAggregateExec,
                ENSURE_REQUIREMENTS, _)
              if attrs(k2) && part.requiredChildDistributionExpressions.isEmpty &&
                part.aggregateExpressions.forall(_.mode == Partial) &&
                k1.forall(a => k2.exists(_.semanticEquals(a))) &&
                k2.exists(b => !k1.exists(_.semanticEquals(b))) =>
            val keys = k1.map(a => k2.find(_.semanticEquals(a)).get)
            Some(fin.withNewChildren(Seq(
              inner.copy(outputPartitioning = HashPartitioning(keys, n)))))
          case _ => None
        }
      case _ => None
    }

  private def attrs(keys: Seq[Expression]): Boolean =
    keys.nonEmpty && keys.forall(_.isInstanceOf[Attribute])
}

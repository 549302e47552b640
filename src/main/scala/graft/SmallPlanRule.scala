package graft

import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RebalancePartitions,
  Repartition, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Custom Catalyst optimizer rule: a plan whose inputs fit in one task
  * runs as one stage. When the summed estimated size of ALL of a plan's
  * leaves is at most `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * (the data Spark itself means one task to take), every scan chain — a
  * leaf with the `Project`/`Filter` nodes directly above it — is wrapped
  * in `Repartition(1, shuffle = false)`. Its `CoalesceExec(1)` reports
  * `SinglePartition`, which satisfies every clustered and ordered
  * distribution, so `EnsureRequirements` plans no exchange for
  * aggregates, windows, sort-merge joins or global sorts, AQE makes no
  * query stage and the query runs as one job. Broadcast exchanges are
  * still planned: join selection is left alone. The wrap sits above the
  * chain, so `FileSourceStrategy` still pushes filters and prunes columns.
  *
  * Left alone, decided only by what the plan shows:
  *  - a plan above the threshold, which includes any leaf without
  *    statistics (Spark estimates it at `Long.MaxValue`): no large input
  *    is ever funnelled into one task. The leaves of the plans inside
  *    subquery expressions count too: `RewritePredicateSubquery` runs
  *    after this rule and turns an `IN`/`EXISTS` filter of a wrapped
  *    chain into a semi or anti join below the wrap, so a large
  *    subquery input would otherwise be joined in one task;
  *  - a streaming plan;
  *  - a plan that is one scan chain: it plans no exchange, so one task
  *    would only read its files one after another (and a local
  *    relation's collect, which runs no job, would run one);
  *  - a chain directly under an explicit `Repartition`,
  *    `RepartitionByExpression` or `RebalancePartitions`: it states a
  *    layout, and its shuffle runs anyway. A wrapped chain sits under
  *    such a node, so the rule is idempotent, as the fixed-point batch it
  *    runs in needs.
  *
  * The threshold is read from the session's conf each time the rule
  * runs, so a session with a lower value plans the shuffles of a large
  * input. Injected via [[GraftExtensions]].
  */
object SmallPlanRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (plan.isStreaming || chain(plan) ||
        plan.collectWithSubqueries { case l if l.children.isEmpty => l.stats.sizeInBytes }.sum >
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) plan
    else wrap(plan)

  /** Whether `p` is a scan chain: a leaf under `Project`/`Filter` nodes. */
  private def chain(p: LogicalPlan): Boolean = p match {
    case _: Project | _: Filter => chain(p.children.head)
    case _ => p.children.isEmpty
  }

  /** Whether `p` is a repartition that states its own layout. */
  private def statesLayout(p: LogicalPlan): Boolean = p match {
    case _: Repartition | _: RepartitionByExpression | _: RebalancePartitions => true
    case _ => false
  }

  private def wrap(p: LogicalPlan): LogicalPlan = p.withNewChildren(p.children.map(c =>
    if (!chain(c)) wrap(c) else if (statesLayout(p)) c else Repartition(1, shuffle = false, c)))
}

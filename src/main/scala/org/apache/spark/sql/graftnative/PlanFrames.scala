package org.apache.spark.sql.graftnative

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/** Bridge into private[sql] plan machinery: materialize an
  * already-analyzed [[LogicalPlan]] back into a DataFrame.
  *
  * Two users. `graft.tools.Layout.checkpointBy` wraps a checkpointed
  * `LogicalRDD` that declares its true layout into the frame it returns.
  * PlanInvariantsSpec audits plans with it: it lifts a Window node's
  * child out of a graded key's optimized plan and measures the partition
  * key's fixture NDV against the child's row count — the guard that
  * catches "data-grain window partitioned by a 3-value key" (linear
  * locally, 3 tasks at 100 TB), which a structural plan check alone
  * cannot see. Lives in the org.apache.spark.sql namespace solely for
  * access to classic.Dataset.ofRows.
  */
object PlanFrames {
  /** The plan fragment as a queryable DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The given expressions projected over `child` as columns p0..pN —
    * how an audit evaluates a Window node's partitionSpec without a
    * public Expression→Column constructor. */
  def projectExprs(spark: SparkSession, child: LogicalPlan,
                   es: Seq[Expression]): DataFrame =
    ofRows(spark, Project(
      es.zipWithIndex.map { case (e, i) => Alias(e, s"p$i")() }, child))
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame, classic}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftnative.PlanFrames

/** Layout-preserving eager checkpoints (optimization-round r15).
  *
  * `Dataset.localCheckpoint(true)` under AQE forgets the frame's physical
  * layout: the captured `LogicalRDD` reports `UnknownPartitioning(0)`
  * because it copies the layout of the `AdaptiveSparkPlanExec` wrapper,
  * not of the plan AQE finally ran. Every downstream join/aggregation
  * keyed on the frame's own layout column then re-Exchanges (and
  * re-Sorts, for SMJ) a frame that is ALREADY laid out — measured on
  * graph_pagerank at sf0.1: the static transition frame and the node
  * universe were re-shuffled in all 5 rounds (17 Exchanges / 17 Sorts in
  * one plan, plans/r15/graph_pagerank_before.txt).
  *
  * [[checkpointBy]] shuffles the frame ONCE into an explicit
  * `repartition(n, cols) + sortWithinPartitions(cols)` layout, checkpoints
  * it under normal adaptive execution, and re-wraps the same RDD in a
  * `LogicalRDD` declaring the partitioning and ordering of the final
  * adaptive plan — the layout Spark actually built, not an assumed one.
  * Consumers joining or grouping on `cols` skip both the Exchange and the
  * SMJ Sort — the guide-§2.4 "shuffle the static side once" posture. For a
  * frame that was going to be eagerly checkpointed anyway this moves no
  * extra bytes: the one explicit shuffle here replaces the first
  * downstream shuffle of the un-laid-out copy.
  *
  * `n` defaults to the session's `spark.sql.shuffle.partitions` — the same
  * scale knob every other exchange in the engine uses — so the layout is
  * cluster-adaptive, not a local-mode constant.
  */
object Layout {
  def checkpointBy(df: DataFrame, cols: Column*): DataFrame = {
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val laid = df.repartition(n, cols: _*).sortWithinPartitions(cols: _*)
    val leaf = laid.localCheckpoint(true).queryExecution.logical
      .asInstanceOf[LogicalRDD]
    // the checkpoint ran laid's own adaptive plan, so its final plan is
    // already in place: reading it starts no job
    val built = laid.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    PlanFrames.ofRows(spark, leaf.copy(
      outputPartitioning = built.outputPartitioning,
      outputOrdering = built.outputOrdering)(
      spark.asInstanceOf[classic.SparkSession],
      Some(leaf.computeStats()), Some(leaf.constraints)))
  }
}

package org.apache.spark.sql.graftnative

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge for building a DataFrame from an RDD[InternalRow] without the
  * external-Row round trip (r15 optimization round).
  *
  * ScalePrimitives' two-pass rank/prefix machinery used `Dataset.rdd` +
  * `createDataFrame(RDD[Row], schema)`: every row of the sorted corpus was
  * deserialized from Tungsten format into a boxed external `Row`, copied
  * field-by-field through `r.toSeq :+ rank`, and re-encoded by the
  * RowEncoder — exactly the conversion the optimization guide (§1.4) warns
  * `df.rdd` adds. The InternalRow path keeps rows in Tungsten format end
  * to end; the per-row cost drops to one UnsafeProjection eval plus one
  * buffer copy. Lives in the org.apache.spark.sql namespace solely for
  * access to `classic.SparkSession.internalCreateDataFrame` (the same
  * access pattern as [[PlanFrames]]).
  */
object InternalRows {
  /** `spark.internalCreateDataFrame(rdd, schema)` — rows must be
    * immutable (already-copied) InternalRows; the scan does not copy. */
  def ofRows(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** `df.queryExecution.toRdd` pinned under a tracked SQL execution —
    * the exact machinery `Dataset.rdd` runs (`withNewRDDExecutionId`:
    * `SQLExecution.withNewExecutionId(qe, Some(name)) { resetMetrics;
    * toRdd }`), minus the external-Row deserializer it appends.
    *
    * The tracking is LOAD-BEARING for `observe()`/`Observation`: the
    * SQLExecutionStart/End events this posts are what register the
    * plan's CollectMetrics accumulators with the session's
    * ObservationManager. A bare `queryExecution.toRdd` skips them, and
    * an Observation upstream of the pinned plan then never completes —
    * llmPipelineObserved's `obs.get` hung exactly this way when
    * ScalePrimitives first switched to the bare call (r15).
    *
    * `firstPass` runs inside the execution too: the Observation's metrics
    * are published when it ends, and a plan without a shuffle stage (all
    * of a small one, see graft.SmallPlanRule) has read no row until a
    * job runs over its RDD. Returns the RDD and the first pass's result. */
  def toRddTracked[T](df: DataFrame, name: String)
                     (firstPass: RDD[InternalRow] => T): (RDD[InternalRow], T) = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.toRdd
      (rdd, firstPass(rdd))
    }
  }
}

package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.tools.Layout

/** Latches a task-side UDF can reach: a closure-captured latch would be
  * serialized into the task and counted down on a copy. */
object LayoutSpecLatches {
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** `Layout.checkpointBy` declares the layout Spark actually built, and
  * builds it without touching the session's configuration. */
class LayoutSpec extends SparkTestBase {

  test("checkpointBy's declared layout is the true layout: hash partition + sort per partition") {
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = spark.range(2000).select(
      (col("id") % 37).as("a"), (col("id") % 5).as("b"), col("id"))
    val cp = Layout.checkpointBy(df, col("a"), col("b"))

    val leaf = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    leaf.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == n)
        assert(h.expressions.map(_.references.head.name) == Seq("a", "b"))
      case other => fail(s"declared partitioning is not hash: $other")
    }
    assert(leaf.outputOrdering.map(_.child.references.head.name) == Seq("a", "b"))

    // collect keeps partition order and each partition's row order
    val rows = cp.select(spark_partition_id().as("pid"),
        pmod(hash(col("a"), col("b")), lit(n)).as("want"), col("a"), col("b"))
      .collect()
    assert(rows.length == 2000)
    val misplaced = rows.filter(r => r.getInt(0) != r.getInt(1))
    assert(misplaced.isEmpty, s"rows outside their hash partition: ${misplaced.take(3).mkString(",")}")
    rows.groupBy(_.getInt(0)).foreach { case (pid, rs) =>
      val keys = rs.toSeq.map(r => (r.getLong(2), r.getLong(3)))
      assert(keys == keys.sorted, s"partition $pid is not sorted by (a, b)")
    }

    // consumers keyed on the layout columns reuse it: no Exchange
    val agg = cp.groupBy("a", "b").agg(count(lit(1)))
    val plan = agg.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
    assert(agg.collect().map(_.getLong(2)).sum == 2000L)
  }

  test("a query planned while checkpointBy builds stays adaptive") {
    LayoutSpecLatches.started = new CountDownLatch(1)
    LayoutSpecLatches.release = new CountDownLatch(1)
    val gate = udf { (x: Long) =>
      LayoutSpecLatches.started.countDown()
      LayoutSpecLatches.release.await(60, TimeUnit.SECONDS)
      x
    }.asNondeterministic()
    val df = spark.range(100).select(gate(col("id")).as("k"))
    val build = Future(Layout.checkpointBy(df, col("k")).count())
    try {
      assert(LayoutSpecLatches.started.await(60, TimeUnit.SECONDS),
        "checkpointBy's build never started")
      val other = spark.range(10).groupBy("id").count()
      assert(other.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
        s"planned without AQE during a layout build:\n${other.queryExecution.executedPlan}")
    } finally LayoutSpecLatches.release.countDown()
    assert(Await.result(build, 120.seconds) == 100L)
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** What [[SmallPlanRule]] does: a plan whose leaves fit in one task
  * plans no shuffle and runs as one job; a plan above the threshold, a
  * small plan over a large subquery input, an explicit repartition and a
  * streaming plan keep their exchanges, and a plan that is one scan chain
  * is left as it is. */
class SmallPlanRuleSpec extends SparkTestBase {

  private val keys = Seq("agg_groupby_q1", "win_rank_dense")

  private def key(s: SparkSession, name: String): DataFrame = SparkEntry.queries(name)(s, SF)

  /** The shuffle exchanges of `df`'s physical plan, before AQE runs it. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val plan: SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }
  }

  private def wraps(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case r @ Repartition(1, false, _) => r }.size

  test("small keys plan no shuffle and run one job") {
    for (name <- keys) {
      val df = key(spark, name)
      assert(exchanges(df).isEmpty, s"$name:\n${df.queryExecution.executedPlan}")
      assert(jobs(df.collect()) == 1, name)
    }
  }

  test("a session whose threshold is below the fixture keeps the exchanges") {
    for (name <- keys) {
      val small = key(spark, name)
      val large = key(largeInputSpark, name)
      assert(wraps(large) == 0 && exchanges(large).nonEmpty, s"$name:\n${large.queryExecution.executedPlan}")
      assert(jobs(large.collect()) > 1, name)
      assert(large.collect().toSeq == small.collect().toSeq, s"$name: rows differ across the threshold")
    }
  }

  test("a small plan over a large subquery input keeps its exchanges") {
    // customer (7 KB) fits under this threshold, orders (37 KB) does not;
    // with broadcasts off the EXISTS becomes a sort-merge semi join, which
    // must not run below a one-task coalesce
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = key(s, "sub_exists_corr")
    val plan = df.queryExecution.executedPlan.toString
    assert(wraps(df) == 0, df.queryExecution.optimizedPlan.toString)
    assert(plan.contains("LeftSemi") && !plan.contains("Coalesce") && exchanges(df).nonEmpty, plan)
    assert(df.collect().toSeq == key(spark, "sub_exists_corr").collect().toSeq)
  }

  test("an explicit repartition over a small input keeps its exchange") {
    val df = Tables.load(spark, SF, "customer").repartition(8, col("c_nationkey"))
    assert(exchanges(df).map(_.outputPartitioning.numPartitions) == Seq(8), df.queryExecution.executedPlan.toString)
    assert(df.rdd.getNumPartitions == 8)
  }

  test("a plan that is one scan chain is left alone") {
    import spark.implicits._
    val scan = Tables.load(spark, SF, "customer").filter(col("c_acctbal") > 0).select("c_custkey")
    assert(wraps(scan) == 0, scan.queryExecution.optimizedPlan.toString)
    val local = Seq(1L, 2L, 3L).toDF("x").filter(col("x") > 1)
    assert(wraps(local) == 0 && jobs(local.collect()) == 0)
  }

  test("a streaming query's micro-batch plan is untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val q = input.toDF().groupBy((col("value") % 3).as("k")).count()
      .writeStream.outputMode("complete").format("memory").queryName("small_plan_rule_stream").start()
    try {
      input.addData(1L, 2L, 3L, 4L)
      q.processAllAvailable()
      val exec = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(exec.optimizedPlan.collect { case r: Repartition => r }.isEmpty, exec.optimizedPlan.toString)
      assert(exec.executedPlan.collect { case e: ShuffleExchangeExec => e }.nonEmpty, exec.executedPlan.toString)
      val got = spark.table("small_plan_rule_stream").as[(Long, Long)].collect().toMap
      assert(got == Map(0L -> 1L, 1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("the rule is idempotent") {
    for (name <- keys) {
      val analyzed = key(spark, name).queryExecution.analyzed
      val once = SmallPlanRule(analyzed)
      assert(once.collect { case r @ Repartition(1, false, _) => r }.nonEmpty, name)
      assert(SmallPlanRule(once) == once, name)
    }
  }

  test("RedundantRoundRule and the as-of strategy still fire in a below-threshold plan") {
    val df = Tables.load(spark, SF, "customer").select(round(round(col("c_acctbal") / 3.0, 2), 4).as("x"))
      .orderBy("x")
    assert(wraps(df) == 1)
    assert("round\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString.toLowerCase).length == 1,
      df.queryExecution.optimizedPlan.toString)
    val asof = graft.operators.RelationalOps.joinAsofNative(spark, SF)
    assert(wraps(asof) > 0)
    assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"), asof.queryExecution.executedPlan.toString)
    assert(exchanges(asof).isEmpty, asof.queryExecution.executedPlan.toString)
  }
}

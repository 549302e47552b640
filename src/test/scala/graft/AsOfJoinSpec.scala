package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.AsOfJoinApi
import graft.operators.RelationalOps

/** The native as-of join plan node (AsOfJoinPlan / AsOfJoinExec): golden
  * micro-cases (ties, no-match, nulls), equivalence with the composed
  * window-argmax formulation on the fixture, and plan-shape assertions
  * (the custom exec node present, exchanges satisfied by the planner). */
class AsOfJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("native as-of join: golden micro-case with ties, no-match, and interleaving") {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")), // after quotes q1,q2 → latest is q2
      (2L, 100L, ts("2024-01-01 10:00:10")), // equal to q3's ts → q3 (<=)
      (3L, 100L, ts("2024-01-01 09:59:00")), // before any quote → dropped
      (4L, 200L, ts("2024-01-01 11:00:00")), // other key → q5
      (5L, 300L, ts("2024-01-01 12:00:00"))  // key with no quotes → dropped
    ).toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (11L, 100L, ts("2024-01-01 10:00:00")),
      (12L, 100L, ts("2024-01-01 10:00:03")),
      (13L, 100L, ts("2024-01-01 10:00:10")),
      (14L, 100L, ts("2024-01-01 10:00:10")), // same ts as 13 → tie → larger id wins
      (15L, 200L, ts("2024-01-01 10:59:59"))
    ).toDF("quote_id", "qsym", "q_ts")

    val got = AsOfJoinApi.asofJoin(trades, quotes, "sym", "qsym", "t_ts", "q_ts", "quote_id")
      .select("trade_id", "quote_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 12L, 2L -> 14L, 4L -> 15L))
  }

  test("left-outer as-of keeps unmatched and null-key left rows with a null right side") {
    val trades = Seq(
      (1L, 100L, ts("2024-01-01 10:00:05")), // matches q12
      (3L, 100L, ts("2024-01-01 09:59:00")), // before any quote → null quote
      (5L, 300L, ts("2024-01-01 12:00:00"))  // key with no quotes → null quote
    ).toDF("trade_id", "sym", "t_ts")
    val quotes = Seq(
      (11L, 100L, ts("2024-01-01 10:00:00")),
      (12L, 100L, ts("2024-01-01 10:00:03"))
    ).toDF("quote_id", "qsym", "q_ts")
    val got = AsOfJoinApi.asofJoin(trades, quotes, "sym", "qsym", "t_ts", "q_ts", "quote_id",
        isOuter = true)
      .select("trade_id", "quote_id")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map(1L -> Some(12L), 3L -> None, 5L -> None))
    // inner result is exactly the outer result minus the null-right rows
    val inner = AsOfJoinApi.asofJoin(trades, quotes, "sym", "qsym", "t_ts", "q_ts", "quote_id")
      .select("trade_id", "quote_id").as[(Long, Long)].collect().toMap
    assert(inner == got.collect { case (k, Some(v)) => k -> v })
  }

  test("native as-of join: NULL keys and NULL timestamps never match") {
    val l = Seq(
      (1L, Option(10L), Option(ts("2024-01-01 10:00:00"))),
      (2L, None: Option[Long], Option(ts("2024-01-01 10:00:00"))),
      (3L, Option(10L), None: Option[Timestamp])
    ).toDF("lid", "k", "lts")
    val r = Seq(
      (21L, Option(10L), Option(ts("2024-01-01 09:00:00"))),
      (22L, None: Option[Long], Option(ts("2024-01-01 09:00:00"))),
      (23L, Option(10L), None: Option[Timestamp])
    ).toDF("rid", "rk", "rts")
    val got = AsOfJoinApi.asofJoin(l, r, "k", "rk", "lts", "rts", "rid")
      .select("lid", "rid").as[(Long, Long)].collect().toMap
    // only the non-null (key, ts) pair joins, and only to the non-null quote
    assert(got == Map(1L -> 21L))
  }

  test("native as-of join matches the composed window-argmax form on the fixture") {
    val composed = RelationalOps.joinAsof(spark, SF)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val native = RelationalOps.joinAsofNative(spark, SF)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(native.nonEmpty && native == composed)
  }

  test("native as-of join plans as AsOfJoinExec with clustered+sorted children") {
    // planned as for a large input: a small one needs no exchange at all
    val df = RelationalOps.joinAsofNative(largeInputSpark, SF)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected the custom exec node in:\n$plan")
    // EnsureRequirements must have satisfied the declared distribution and
    // ordering with hash exchanges + sorts on the key/ts columns.
    assert(plan.contains("Exchange hashpartitioning"), s"expected hash exchanges in:\n$plan")
    assert(plan.contains("Sort ["), s"expected sorts under the merge in:\n$plan")
  }

  test("nearest as-of composes TWO native merge passes and agrees with brute force") {
    val df = RelationalOps.joinAsofNearest(spark, SF)
    val plan = df.queryExecution.executedPlan.toString
    assert("AsOfJoin".r.findAllIn(plan).size >= 2,
      s"expected both directions' merge nodes in:\n$plan")
    // brute-force twin: per purchase, scan ALL same-user signups and apply
    // the documented preference (smallest gap, backward on ties, then the
    // direction's own tie column)
    val e = Tables.load(spark, SF, "events")
      .select("event_id", "user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3).getTime * 1000 + r.getTimestamp(3).getNanos / 1000 % 1000))
    val signups = e.filter(_._3 == "signup").groupBy(_._2)
    val expected = e.filter(_._3 == "purchase").map { case (pid, uid, _, pus) =>
      val best = signups.getOrElse(uid, Array.empty).minByOption { case (sid, _, _, sus) =>
        val back = sus <= pus
        (math.abs(sus - pus), !back, if (back) -sid else sid)
      }
      pid -> best.map(_._1)
    }.toMap
    val got = df.collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(got == expected, "nearest pick disagrees with the brute-force scan")
  }

  test("bucketed layout satisfies the native as-of join's distribution without a shuffle") {
    // The exec node only DECLARES ClusteredDistribution(key); when both
    // sides come from tables bucketed on that key, EnsureRequirements
    // reuses the layout — the exchange-free plan a 100 TB deployment
    // would pre-pay at ingest (SCALE.md "Joins").
    spark.sql("DROP TABLE IF EXISTS b_asof_pur")
    spark.sql("DROP TABLE IF EXISTS b_asof_sig")
    Seq("b_asof_pur", "b_asof_sig").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    val e = Tables.load(spark, SF, "events")
    e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      .write.mode("overwrite").bucketBy(8, "user_id").saveAsTable("b_asof_pur")
    e.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("su"), col("ts").as("s_ts"))
      .write.mode("overwrite").bucketBy(8, "su").saveAsTable("b_asof_sig")
    val joined = AsOfJoinApi.asofJoin(
      spark.table("b_asof_pur"), spark.table("b_asof_sig"),
      "user_id", "su", "p_ts", "s_ts", "signup_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected the custom node in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed as-of join must not shuffle:\n$plan")
    // and the exchange-free plan returns the same rows as the shuffled one
    val viaBuckets = joined.select("purchase_id", "signup_id")
      .as[(Long, Long)].collect().sorted.toSeq
    val viaShuffle = RelationalOps.joinAsofNative(spark, SF)
      .select("purchase_id", "signup_id").as[(Long, Long)].collect().sorted.toSeq
    assert(viaBuckets == viaShuffle && viaBuckets.nonEmpty)
  }

  test("mixed layouts co-partition: bucketed left, plain right, same result") {
    // EnsureRequirements must shuffle the plain side to MATCH the bucketed
    // side's partitioning (zipPartitions needs equal partition counts).
    val e = Tables.load(spark, SF, "events")
    if (!spark.catalog.tableExists("b_asof_pur")) { // self-sufficient when run alone
      e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .write.mode("overwrite").bucketBy(8, "user_id").saveAsTable("b_asof_pur")
    }
    val sig = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("su"), col("ts").as("s_ts"))
    val mixed = AsOfJoinApi.asofJoin(
      spark.table("b_asof_pur"), sig, "user_id", "su", "p_ts", "s_ts", "signup_id")
      .select("purchase_id", "signup_id").as[(Long, Long)].collect().sorted.toSeq
    val reference = RelationalOps.joinAsofNative(spark, SF)
      .select("purchase_id", "signup_id").as[(Long, Long)].collect().sorted.toSeq
    assert(mixed == reference && mixed.nonEmpty)
  }

  test("native as-of join equals a brute-force twin on seeded random data (ties, nulls, skew)") {
    val rnd = new scala.util.Random(20260813L)
    // keys 0..24 over 2000x2000 rows → heavy per-key activity; ts drawn
    // from only 500 distinct values → frequent exact-tie timestamps;
    // ~2% null keys and ~2% null ts exercise the exclusion rules.
    def rows(n: Int, idBase: Long) = Seq.tabulate(n) { i =>
      val k: java.lang.Long = if (rnd.nextInt(50) == 0) null else rnd.nextInt(25).toLong
      val ts: java.lang.Long = if (rnd.nextInt(50) == 0) null else rnd.nextInt(500).toLong
      (idBase + i, k, ts)
    }
    val lRows = rows(2000, 0L)
    val rRows = rows(2000, 100000L)
    val l = lRows.toDF("lid", "k", "lts")
    val r = rRows.toDF("rid", "rk", "rts")
    val got = AsOfJoinApi.asofJoin(l, r, "k", "rk", "lts", "rts", "rid")
      .select("lid", "rid").as[(Long, Long)].collect().toMap
    val expected = lRows.flatMap { case (lid, k, lts) =>
      if (k == null || lts == null) None
      else rRows.filter { case (_, rk, rts) =>
          rk != null && rts != null && rk == k && rts <= lts }
        .sortBy { case (rid, _, rts) => (rts, rid) }
        .lastOption.map { case (rid, _, _) => lid -> rid }
    }.toMap
    assert(got.size == expected.size && got == expected)
  }

  test("exec metrics report output and matched rows (UI observability parity)") {
    // AQE off for this query so the AsOfJoinExec instance in the plan is
    // the one that executes (AQE re-instantiates nodes per stage)
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // no orderBy: a global sort's RangePartitioner SAMPLES its child,
      // executing the merge twice and double-counting the metric
      val e = Tables.load(spark, SF, "events")
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val sig = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("su"), col("ts").as("s_ts"))
      val df = AsOfJoinApi.asofJoin(pur, sig, "user_id", "su", "p_ts", "s_ts", "signup_id")
      val node = df.queryExecution.executedPlan.collectFirst {
        case a: org.apache.spark.sql.graftnative.AsOfJoinExec => a
      }.getOrElse(fail("AsOfJoinExec not found in the non-adaptive plan"))
      // collect() executes THIS QueryExecution's plan (count() would build
      // a new one whose AsOfJoinExec is a different instance)
      val n = df.collect().length.toLong
      assert(n > 0 && node.metrics("numOutputRows").value == n,
        s"numOutputRows ${node.metrics("numOutputRows").value} vs count $n")
      assert(node.metrics("numMatchedRows").value == n) // inner join: all output matched
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("native as-of join is a merge, not a pair blow-up: output rows == matched left rows") {
    // a user with 50 purchases and 40 earlier signups would materialize
    // 2000 intermediate rows in the composed form; the merge emits 50.
    val pur = Seq.tabulate(50)(i => (i.toLong, 1L, ts(f"2024-01-02 10:00:${i % 60}%02d")))
      .toDF("purchase_id", "user_id", "p_ts")
    val sig = Seq.tabulate(40)(i => (1000L + i, 1L, ts(f"2024-01-01 09:00:${i % 60}%02d")))
      .toDF("signup_id", "su", "s_ts")
    val out = AsOfJoinApi.asofJoin(pur, sig, "user_id", "su", "p_ts", "s_ts", "signup_id")
    assert(out.count() == 50L)
    // every purchase matches the single latest signup (max ts, tie → max id)
    val best = out.select("signup_id").distinct().as[Long].collect().toSeq
    assert(best == Seq(1039L))
  }
}

package graft

/** Registry-wide plan invariants: EVERY graded key is planned at the
  * smallest fixture scale and screened for the scale anti-pattern nodes.
  * This is the programmatic form of the 100 TB posture — an operator
  * added later that accidentally plans a Cartesian product (a dropped
  * join condition, a mis-typed column) fails here before it ever reaches
  * the driver's gate.
  */
class PlanInvariantsSpec extends SparkTestBase {

  /** Keys where a BroadcastNestedLoopJoin is the CORRECT plan — every
    * entry joins against a provably-tiny side:
    *  - join_cross: the intentional cross-join op (5×25 rows, graded).
    *  - event_funnel / fn_bool_logic_3vl: cross of 1-row aggregates /
    *    literal truth-table frames.
    *  - join_skew_salted: the salt-explode of a bounded dim (the whole
    *    point is the dim is broadcastable).
    *  - llm_knn_queries: bounded query set × corpus — the brute-force
    *    baseline; the scale path is ann_lsh_topk / ann_ivf_topk.
    *  - llm_lang_temperature / llm_unigram_logprob / llm_tfidf_topk /
    *    tpch_q22_idle / tpch_q11_stock / llm_domain_mix: scalar-subquery
    *    style joins against a 1-row global aggregate (tfidf's corpus
    *    size N for the idf term; q11/q22's value threshold;
    *    domain_mix's corpus-total rate — the non-equi use of the scalar
    *    can't become an equi-join, so the 1-row broadcast nested loop
    *    IS the right plan).
    */
  /**  - stat_chisq: marginal-grid build (R-rows × C-rows contingency
    *    dims, both re-aggregates of the tiny observed table) plus the
    *    1-row grand-total broadcast.
    *  - agg_hll_merge: the n_sketches count (a 1-row aggregate over the
    *    3-group register table) rides the same 1-row broadcast.
    *  - agg_hll_intersect: three 1-row frames (per-flag estimates, the
    *    union estimate, the exact count) cross-joined into the one
    *    output row — the agg_hll_merge shape twice over.
    *  - llm_bm25_topk: the (N, avgdl) corpus statistics — one 1-row
    *    aggregate broadcast into the per-term scoring expression.
    *  - event_peak_concurrency: the n_sessions count — a 1-row aggregate
    *    broadcast onto the 1-row peak (replaced the separate count() job
    *    that recomputed the sessionize pipeline).
    *  - stat_lorenz: the spend grand total — a 1-row re-aggregate of the
    *    10-row decile table broadcast into the share divisions (replaced
    *    a separate full orders scan whose only output was one scalar).
    *  - ml_target_encode: the (N, S) global target moments — one 1-row
    *    aggregate broadcast into the smoothing arithmetic.
    *  - dq_volume_anomaly: the (N, S, Q) feed moments — one 1-row
    *    aggregate broadcast into the integer 3σ comparison.
    *  - event_attribution_decay: the total weight mass — a 1-row
    *    re-aggregate of the 2-row type table broadcast into the share
    *    division.
    * (llm_tfidf_cosine left the list in round 6: its corpus count became
    * a driver-side literal when the TF table was checkpointed, so no
    * 1-row broadcast survives in the plan.) */
  private val bnlAllowed = Set(
    "join_cross", "event_funnel", "fn_bool_logic_3vl", "join_skew_salted",
    "llm_knn_queries", "llm_lang_temperature", "llm_unigram_logprob",
    "llm_tfidf_topk", "tpch_q22_idle", "tpch_q11_stock", "llm_domain_mix",
    "stat_skew_report", "stat_chisq", "stat_cramers_v", "agg_hll_merge",
    "agg_hll_intersect", "event_peak_concurrency",
    "stat_lorenz", "ml_target_encode", "dq_volume_anomaly",
    // llm_bm25_topk and llm_hybrid_rrf are NOT here since r15: both now
    // serve from the memoized depth-10 lexical rank list (checkpoint
    // leaf), so the bm25 kernel's 1-row stats cross join only appears in
    // the memo BUILD plan — pinned in the dedicated bm25-kernel test
    // below (the llm_tfidf_cosine round-6 precedent, same as the indexed
    // fusion / re-rank keys whose fused frames were memoized earlier)
    "event_attribution_decay")

  test("no graded key plans a CartesianProduct; nested-loop joins only where justified") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, SF).queryExecution.executedPlan.toString
      val cart = if (plan.contains("CartesianProduct")) Some(s"$name: CartesianProduct") else None
      val bnl = if (plan.contains("BroadcastNestedLoopJoin") && !bnlAllowed(name))
        Some(s"$name: unexpected BroadcastNestedLoopJoin") else None
      cart ++ bnl
    }
    assert(offenders.isEmpty, s"scale anti-patterns:\n${offenders.mkString("\n")}")
  }

  /** Keys that legitimately plan an UNPARTITIONED window — every entry
    * runs it over a provably BOUNDED grain, never the data grain, so the
    * "Moving all data to a single partition" WARN is benign by
    * construction for exactly these keys (Bench filters the message on
    * the strength of this test):
    *  - stat_psi: 20 fixed value bins (fixed-width binning, range-capped).
    *  - stat_benford: 9 first-digit rows.
    *  - ts_changepoint: calendar-day grain — bounded by the corpus'
    *    time span, not its volume.
    *  - stat_ks_test / stat_mannwhitney: the distinct-value domain of
    *    2-dp purchase amounts — bounded by the price domain.
    *  - llm_zipf_fit: the vocabulary grain — sublinear in corpus size
    *    (Heaps' law), the same posture as llm_dsir_weight's score table.
    *  - stat_lorenz: the cumulative-share window runs over exactly 10
    *    decile rows (the customer-grain cut itself rides distNtile).
    * Data-grain running totals (event_rfm's user-grain quintiles,
    * llm_heaps_growth's doc-grain growth curve) must instead ride
    * ScalePrimitives.distNtile/distRunning and stay OUT of this list. */
  private val globalWindowAllowed: Set[String] = Set(
    "stat_psi", "stat_benford", "ts_changepoint",
    "stat_ks_test", "stat_mannwhitney", "llm_zipf_fit", "stat_lorenz",
    // token_share over the per-source grid (<= |sources| rows)
    "llm_curation_e2e")

  test("unpartitioned windows only over provably bounded grains") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val wins = fn(spark, SF).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty && !globalWindowAllowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"keys planning an unpartitioned window outside the bounded-grain allowlist: $offenders")
  }

  /** Keys allowed to plan a PARTITIONED window whose partition key has
    * tiny, non-scaling NDV over a >=1000-row input. Every entry must
    * prove its window CHILD is bounded by something other than the data
    * volume (the globalWindowAllowed discipline):
    *  - agg_approx_percentile: the window runs over the pre-aggregated
    *    bucket grid — `b` is clamped into 4096 fixed buckets
    *    (RelationalOps.scala least(..., 4095)), so the child is
    *    <= |status|·4096 rows at ANY corpus size. The fact table itself
    *    is reduced by ONE 2-phase groupBy before the window.
    * The four round-11 offenders (win_median, win_share_of_total,
    * win_udaf_geomean, win_ntile_first_last — `partitionBy(o_orderstatus)`
    * over the full orders table = 3 window tasks at 100 TB) are NOT here:
    * they ride ScalePrimitives now, and this guard keeps the pattern out. */
  private val tinyNdvWindowAllowed: Set[String] = Set("agg_approx_percentile")

  test("no data-grain window partitions by a tiny-NDV key") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LogicalWindow}
    // a 3-value partition key over a fact-table-sized input routes the
    // whole input into 3 window tasks at any scale — the pattern the
    // empty-partitionSpec check above is structurally blind to. Two-scale
    // measurement: a window is flagged when its partition key's NDV is
    // tiny (<= 16) over a data-grain child (>= 1000 rows) at sf0.001 AND
    // the NDV stays tiny (<= 32) at sf0.01 — a genuinely scaling key
    // (user_id: 15 -> 150 between the fixtures) escapes, a fixed enum
    // (o_orderstatus: 3 -> 3) does not. Identical (child, partitionSpec)
    // pairs across keys are measured once.
    val SF1 = "/root/testdata/sf0.01"
    def windows(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String): Seq[LogicalWindow] =
      fn(spark, dir).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.nonEmpty => w
      }
    val seen = scala.collection.mutable.HashMap
      .empty[(LogicalPlan, Seq[Expression]), Option[(Long, Long)]]
    def stats(w: LogicalWindow): Option[(Long, Long)] =
      seen.getOrElseUpdate((w.child.canonicalized, w.partitionSpec.map(_.canonicalized)), {
        val n = org.apache.spark.sql.graftnative.PlanFrames.ofRows(spark, w.child).count()
        if (n < 1000L) None // bounded child at fixture scale: no NDV job
        else Some((n, org.apache.spark.sql.graftnative.PlanFrames
          .projectExprs(spark, w.child, w.partitionSpec).distinct().count()))
      })
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (tinyNdvWindowAllowed(name)) Nil
      else {
        val flagged = windows(fn, SF).flatMap { w =>
          stats(w) match {
            case Some((n, ndv)) if ndv <= 16 => Some((w.partitionSpec.map(_.sql), n, ndv))
            case _ => None
          }
        }
        if (flagged.isEmpty) Nil
        else {
          // scaling-key escape: the same window's partition NDV at the
          // 10x fixture (matched by partitionSpec SQL across the two
          // plan instantiations; max over matches = benefit of the doubt)
          val ndvAt1 = windows(fn, SF1)
            .groupBy(_.partitionSpec.map(_.sql))
            .map { case (spec, ws) => spec -> ws.flatMap(stats).map(_._2).maxOption.getOrElse(0L) }
          flagged
            .filterNot { case (spec, _, _) => ndvAt1.get(spec).exists(_ > 32L) }
            .map { case (spec, n, ndv) =>
              s"$name: window over $n rows partitioned by ${spec.mkString(", ")} " +
                s"(ndv=$ndv at sf0.001, ${ndvAt1.getOrElse(spec, 0L)} at sf0.01)"
            }
        }
      }
    }
    assert(offenders.isEmpty,
      s"tiny-NDV data-grain windows (3-task wall at scale):\n${offenders.distinct.mkString("\n")}")
  }

  test("the tiny-NDV window allowlist is tight: every entry still plans a tiny-NDV window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val stale = tinyNdvWindowAllowed.toSeq.sorted.filterNot { name =>
      SparkEntry.queries(name)(spark, SF).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.nonEmpty => w
      }.exists { w =>
        val child = org.apache.spark.sql.graftnative.PlanFrames.ofRows(spark, w.child)
        child.count() >= 1000L && org.apache.spark.sql.graftnative.PlanFrames
          .projectExprs(spark, w.child, w.partitionSpec).distinct().count() <= 16L
      }
    }
    assert(stale.isEmpty, s"allowlist entries no longer planning a tiny-NDV window: $stale")
  }

  test("the global-window allowlist is tight: every allowlisted key still plans one") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
    val stale = globalWindowAllowed.toSeq.sorted.filterNot { name =>
      SparkEntry.queries(name)(spark, SF).queryExecution.optimizedPlan.collect {
        case w: LogicalWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty
    }
    assert(stale.isEmpty, s"allowlist entries no longer planning a global window: $stale")
  }

  test("indexed fusion BUILD plan: the ONLY nested-loop is the bm25 1-row stats join") {
    // the served key is checkpoint-backed (memoized fused frame), so its
    // executedPlan carries no joins at all — the invariant that matters
    // is the plan the memo BUILDS once per (session, corpus): exactly the
    // justified 1-row stats cross join, with the index-served dense side
    // staying pure equi-joins
    val plan = graft.operators.LlmCorpusOps.hybridRrfIndexedOn(spark, SF,
        org.apache.spark.sql.functions.col("doc_id") % 97 === 0,
        org.apache.spark.sql.functions.col("vec_id") % 97 === 0)
      .queryExecution.executedPlan.toString
    val n = "BroadcastNestedLoopJoin".r.findAllMatchIn(plan).length
    assert(n == 1, s"expected exactly the bm25 stats BNL, found $n in:\n$plan")
  }

  test("re-rank keys serve from the memoized fused/brute frames: zero nested loops") {
    // the exact-cosine re-rank stage must stay pure id equi-joins on top
    // of the checkpoint-backed first stage — a BNL appearing here means
    // the re-rank itself regressed to a nested loop
    def bnls(key: String): Int =
      "BroadcastNestedLoopJoin".r.findAllMatchIn(
        SparkEntry.queries(key)(spark, SF)
          .queryExecution.executedPlan.toString).length
    assert(bnls("llm_rerank_topk") == 0,
      "llm_rerank_topk: the re-rank stage planned a nested loop")
    assert(bnls("llm_rerank_recall") == 0,
      "llm_rerank_recall: the recall join planned a nested loop")
  }

  test("the BNL allowlist is tight: every allowlisted key still plans a BNL") {
    // an allowlist entry whose plan improved should be REMOVED, so the
    // allowlist never silently grows stale
    val stale = bnlAllowed.toSeq.sorted.filterNot { name =>
      SparkEntry.queries(name)(spark, SF)
        .queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin")
    }
    assert(stale.isEmpty, s"allowlist entries no longer planning BNL: $stale")
  }

  test("sort-lift keys keep the heavy projection ABOVE the range exchange") {
    // r15's sort-lift family moved the expensive row-local towers above
    // the output orderBy so the range exchange's boundary-SAMPLING pass
    // stops executing them twice. The sorted-output contract then hinges
    // on a PHYSICAL property — the lifted Project is map-only over the
    // sorted stream — which no result hash can distinguish from the
    // un-lifted plan. Pin it: the heavy expression must print above
    // (before) the range exchange in the physical plan, and never below
    // it (below = the sampling pass pays the tower again).
    val lifted = Seq(
      ("llm_repetition", "array_distinct"),
      ("llm_fingerprint", "md5"),
      ("llm_gopher_rules", "aggregate("))
    val broken = lifted.flatMap { case (key, token) =>
      val plan = SparkEntry.queries(key)(spark, SF).queryExecution.executedPlan.toString
      val ex = plan.indexOf("Exchange rangepartitioning")
      if (ex < 0) Some(s"$key: no range exchange in plan (output sort vanished?)")
      else if (!plan.substring(0, ex).contains(token))
        Some(s"$key: heavy token '$token' not above the range exchange")
      else if (plan.substring(ex).contains(token))
        Some(s"$key: heavy token '$token' re-appears BELOW the range exchange " +
          "(the sampling pass would evaluate it twice)")
      else None
    }
    assert(broken.isEmpty, s"sort-lift regressions:\n${broken.mkString("\n")}")
  }

  test("graph_pagerank's rounds reuse the layout checkpoints: Exchange/Sort counts pinned") {
    // trans and nodes are Layout.checkpointBy leaves declaring their hash
    // layout, so the 5 rounds shuffle only the rank vector and each
    // round's received mass. Without the declared layout every round
    // re-exchanges and re-sorts the static sides (17/17 at r15's before
    // plan, plans/r15/graph_pagerank_before.txt). The bound is the count
    // before checkpointBy kept AQE on, and the r15 after plan's: 6 of each.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = SparkEntry.queries("graph_pagerank")(spark, SF)
      .queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }.size
    val sorts = plan.collect { case s: SortExec => s }.size
    assert(exchanges <= 6 && sorts <= 6,
      s"graph_pagerank: $exchanges Exchanges / $sorts Sorts (pinned 6 / 6):\n$plan")
  }
}

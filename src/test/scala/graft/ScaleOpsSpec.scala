package graft

import org.apache.spark.sql.functions._
import graft.operators.ScaleOps

/** Specs for the scale techniques: salted aggregation equivalence and
  * partitioned-layout pruning (the behaviors that matter at 100 TB,
  * exercised at fixture scale). */
class ScaleOpsSpec extends SparkTestBase {

  test("salted aggregation equals plain groupBy sum") {
    val li = Tables.load(spark, SF, "lineitem")
    val plain = li.groupBy(col("l_returnflag").as("key"))
      .agg(round(sum("l_quantity"), 6).as("sum_v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = ScaleOps.saltedSum(li, col("l_returnflag"), col("l_quantity"),
      saltSource = col("l_orderkey"))
      .select(col("key"), round(col("sum_v"), 6).as("sum_v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == plain)
  }

  test("salted join equals the plain equi-join, including a constructed hot key") {
    import spark.implicits._
    // 90% of fact rows share one hot key — the salting motivation
    val fact = (Seq.tabulate(900)(i => (1L, i.toDouble)) ++
      Seq.tabulate(100)(i => ((i % 7 + 2).toLong, i.toDouble)))
      .toDF("k", "v")
    val dim = Seq.tabulate(10)(i => (i.toLong, s"d$i")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .groupBy("dk").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val salted = ScaleOps.saltedJoin(fact, dim, "k", "dk", saltSource = col("v"))
      .groupBy("dk").agg(count(lit(1)).as("n"), sum("v").as("s"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(salted == plain)
  }

  test("partitioned layout enables static partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val orders = Tables.load(spark, SF, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val reread = ScaleOps.writePartitioned(orders, dir, "o_year")
    val pruned = reread.filter(col("o_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"),
      s"expected partition pruning in:\n$plan")
    // pruning must not change results
    val expected = orders.filter(col("o_year") === 1996).count()
    assert(pruned.count() == expected && expected > 0)
  }

  test("bucketed tables join without a shuffle (co-located sort-merge)") {
    val o = Tables.load(spark, SF, "orders")
    val c = Tables.load(spark, SF, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // a prior aborted run can leave orphaned managed-table dirs behind
    Seq("b_orders", "b_customer").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        java.nio.file.Files.walk(dir.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
    o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    // force sort-merge so the bucketing (not a broadcast) carries the join
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val smj = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_name")
      val plan = smj.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(smj.count() == o.count()) // every order matches its customer
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("binned range join equals the naive theta join and never plans a nested loop") {
    import spark.implicits._
    // constructed: ids spread over ~10 windows incl. exact-boundary deltas
    val rows = Seq.tabulate(120)(i => (i.toLong, (i.toLong * 37 % 1000) * 100L))
      .toDF("id", "us")
    val w = 1000L
    val naive = rows.as("a").crossJoin(rows.as("b"))
      .filter(col("a.id") < col("b.id") &&
        abs(col("b.us") - col("a.us")) <= w)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        abs(col("b.us") - col("a.us")).as("dt_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val binned = ScaleOps.rangePairsBinned(rows, "id", "us", w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(binned == naive, s"binned ${binned.size} vs naive ${naive.size}")
    assert(naive.nonEmpty)
    // the graded fixture query must plan as a hash/merge join on the bin
    val plan = graft.operators.RelationalOps.joinRangeBinned(spark, SF)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
  }

  test("graded join_bucketed plans an exchange-free sort-merge join") {
    import graft.operators.ExtendedOps
    val (li, ord) = ExtendedOps.joinBucketed(spark, SF)
    val joined = li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed fact-fact join must not shuffle either side:\n$plan")
    // and the graded aggregate's only exchange is the one the groupBy needs
    val aggPlan = ExtendedOps.joinBucketedAgg(spark, SF).queryExecution.executedPlan.toString
    assert(aggPlan.linesIterator.count(_.trim.startsWith("+- Exchange")) <= 2,
      s"unexpected extra shuffles:\n$aggPlan")
  }

  test("join_bucketed: two sessions on one SparkContext keep their own bucketed tables") {
    import graft.operators.ExtendedOps
    def run(s: org.apache.spark.sql.SparkSession) =
      ExtendedOps.joinBucketedAgg(s, SF).collect().map(_.toString).toSeq
    val first = run(spark)
    // a second session builds its layout after the first session read its own
    val second = run(spark.newSession())
    assert(second == first && first.nonEmpty)
    assert(run(spark) == first, "the second session's build disturbed the first session's tables")
  }

  test("z-order interleave is a correct Morton code and clusters 2-D boxes into fewer files") {
    import spark.implicits._
    // correctness of the bit interleave against a Scala reimplementation
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (12345L, 6789L), ((1L << 21) - 1, 42L))
    def zRef(x: Long, y: Long): Long =
      (0 until 21).foldLeft(0L)((a, i) => a | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1)))
    val got = pts.toDF("x", "y").select(ScaleOps.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pts.map((zRef _).tupled), s"z mismatch: $got")

    // locality: a 2-D predicate box on the z-clustered layout must land in
    // strictly fewer files than on a layout sorted by an unrelated column
    val li = Tables.load(spark, SF, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    val zdir = java.nio.file.Files.createTempDirectory("graft_z").toString
    val odir = java.nio.file.Files.createTempDirectory("graft_o").toString
    val zread = ScaleOps.writeZOrdered(li, zdir, col("l_partkey"), col("l_suppkey"))
    li.repartitionByRange(8, col("l_quantity")).write.mode("overwrite").parquet(odir)
    val oread = spark.read.parquet(odir)
    val box = (df: org.apache.spark.sql.DataFrame) => df
      .filter(col("l_partkey") < 30 && col("l_suppkey") < 4)
    assert(box(zread).count() == box(oread).count() && box(zread).count() > 0)
    def filesHit(df: org.apache.spark.sql.DataFrame): Long =
      box(df).select(input_file_name()).distinct().count()
    val (zf, of) = (filesHit(zread), filesHit(oread))
    assert(zf < of, s"z layout hit $zf files vs $of on the quantity layout")
  }

  test("top-k limit plans TakeOrderedAndProject, never a global sort") {
    import graft.operators.RelationalOps
    val plan = RelationalOps.topkLimit(spark, SF).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("as-of join pushes its per-group top-1 below the shuffle (WindowGroupLimit)") {
    import graft.operators.RelationalOps
    val plan = RelationalOps.joinAsof(spark, SF).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected group-limit pushdown in:\n$plan")
  }

  test("ANN LSH path is UDF-free end-to-end (whole-stage codegen)") {
    import graft.operators.LlmTextOps
    val plan = LlmTextOps.annLshTopk(spark, SF).queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"expected native expressions only in:\n$plan")
  }

  test("banded ANN LSH candidates come from a (band, bucket) equi-join, never all-pairs") {
    import graft.operators.LlmTextOps
    val plan = LlmTextOps.annLshTopk(spark, SF).queryExecution.executedPlan.toString
    // the band-OR amplification must keep the band key AS the join key —
    // a regression to a nested-loop/cartesian candidate generator is the
    // exact failure mode banding exists to prevent at 100 TB
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"banded LSH planned a pairwise join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join in:\n$plan")
  }

  test("no graded query collects vectors to the driver (distributed cosine)") {
    // planned as for a large input, on a session of its own
    val s = largeInputSpark
    import graft.operators.LlmOps
    import graft.functions.VectorFunctions
    // the distributed block join shows up as groupByKey/mapGroups stages
    // (SerializeFromObject), never a driver-side broadcast of the table.
    // llm_dedup_embedding's GRADED frame is now the memoized pair table
    // (a checkpoint leaf with no upstream plan to inspect), so the plan
    // property is asserted on the builder that memo runs — the same
    // cosinePairsDistributed call, un-memoized.
    Seq(LlmOps.llmCosineTopk(s, SF),
        VectorFunctions.cosinePairsDistributed(s,
          Tables.load(s, SF, "embeddings"), 0.45).orderBy("a_id", "b_id"))
      .foreach { df =>
        val plan = df.queryExecution.executedPlan.toString
        // the collect kernel plans a bare MapPartitions over a driver
        // broadcast — no shuffle, no group assembly; the distributed
        // block join must show executor-side block assembly (MapGroups
        // after an Exchange on the chunk key)
        assert(plan.contains("MapGroups"), s"expected block assembly in:\n$plan")
        assert(plan.contains("Exchange hashpartitioning"), s"expected chunk shuffle in:\n$plan")
      }
  }

  test("top-k BNL emits at most K(K+1)/2 * k rows — the pair set is never materialized") {
    import spark.implicits._
    // 200 vectors, K=4 explicit -> 10 pair-groups; pre-sort-limit output
    // must be bounded by pairGroups * k, NOT by the 19900-pair space.
    val df = Seq.tabulate(200)(i =>
      (i.toLong, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6).toFloat)))
      .toDF("vec_id", "embedding")
    val k = 4; val topK = 5
    val out = graft.functions.VectorFunctions
      .cosineTopKDistributed(spark, df, topK, numChunks = k)
    val bound = k * (k + 1) / 2 * topK
    val n = out.count()
    assert(n <= bound, s"top-k BNL emitted $n rows (> $bound) — quadratic leak")
    // and the graded consumer's final output is exactly its limit
    assert(graft.operators.LlmCorpusOps.llmTfidfCosine(spark, SF).count() == 25)
  }

  test("containment shares the Jaccard family's aggregate-then-pair shape (no join at all)") {
    // r16: the posting-list SELF-JOIN became aggregate-then-pair
    // (LlmTextOps.pairInter): postings collect per shingle, pairs are
    // generated array-side. No join node of any kind should survive in
    // the pair kernel — a reappearing SMJ/broadcast would mean the
    // double-evaluated self-join shape crept back.
    val plan = graft.operators.LlmTextOps.llmContainment(spark, SF)
      .queryExecution.executedPlan.toString
    assert(plan.contains("collect_list"),
      s"expected the per-shingle posting-list aggregation in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"containment's pair kernel must stay join-free:\n$plan")
  }

  test("AQE re-plans a sort-merge join to broadcast from runtime stats") {
    // planned as for a large input, on a session of its own
    val s = largeInputSpark
    // static threshold 1 KB forces SMJ at plan time; the adaptive
    // threshold lets AQE convert once the runtime shuffle shows the
    // filtered orders side is tiny — the re-plan a 100 TB job relies on
    // when static estimates are wrong
    val prevStatic = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1048576")
      val o = Tables.load(s, SF, "orders")
        .filter(col("o_orderdate") >= lit("2001-06-01"))
      val j = Tables.load(s, SF, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val static = j.queryExecution.executedPlan.toString
      assert(static.contains("SortMergeJoin"), s"expected static SMJ in:\n$static")
      assert(j.collect().head.getLong(0) > 0)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true") && finalPlan.contains("BroadcastHashJoin"),
        s"AQE did not convert to broadcast:\n$finalPlan")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    // The runtime complement of manual salting (join_skew_salted): one hot
    // key concentrates half the fact in a single shuffle partition; AQE's
    // OptimizeSkewedJoin splits that partition into sub-joins at runtime.
    // Thresholds are tuned for real clusters — lower them so the tiny
    // fixture-scale hot partition qualifies.
    import spark.implicits._
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      // the count() after the join would normally make AQE decline the
      // split (it adds a shuffle); force it — at 100 TB the split is worth
      // the extra exchange, which is exactly what this flag encodes
      spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      // payload column rides THROUGH the join (summed after) so the hot
      // partition's shuffle bytes stay above the threshold — a key-only
      // row of repeated 1s would compress to nothing
      val fact = spark.range(0, 200000)
        .select(when(col("id") % 2 === 0, 1L).otherwise(col("id")).as("k"),
          md5(col("id").cast("string")).as("payload"))
      val dim = spark.range(0, 1000).select(col("id").as("dk"))
      // min(payload), not count(payload): count of a non-null column
      // rewrites to count(1) and the payload gets pruned anyway
      val j = fact.join(dim, col("k") === col("dk"))
        .agg(count(lit(1)).as("n"), min(col("payload")).as("mp"))
      // even ids (k=1) all match dk=1: 100000 rows; odd ids keep k=id and
      // match dk for id<=999: 500 rows
      assert(j.collect().head.getLong(0) == 100500L)
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$finalPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin").foreach(spark.conf.unset)
    }
  }

  test("dynamic partition pruning fires on a selective dim join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val orders = Tables.load(spark, SF, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    val fact = ScaleOps.writePartitioned(orders, dir, "o_year")
    val dim = Seq((1996, "pick")).toDF("d_year", "tag")
    val joined = fact.join(dim, col("o_year") === col("d_year"))
    val plan = joined.queryExecution.executedPlan.toString
    val expected = orders.filter(col("o_year") === 1996).count()
    assert(joined.count() == expected)
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters"),
      s"expected DPP or partition filters in:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // planned as for a large input, on a session of its own
    val s = largeInputSpark
    // The non-partitioned sibling of DPP: when a shuffle join's build side
    // carries a selective predicate, Catalyst injects a bloom-filter
    // semi-filter on the probe side so fact rows that cannot match die at
    // the scan instead of crossing the exchange — at 100 TB this is the
    // difference between shuffling the whole fact table and shuffling the
    // ~matching fraction. The size thresholds are tuned for real clusters;
    // lower them to let the tiny fixture qualify.
    val prevBroadcast = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = Tables.load(s, SF, "lineitem").select("l_orderkey", "l_quantity")
      val ord = Tables.load(s, SF, "orders")
        .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloom_filter"),
        s"expected an injected runtime bloom filter in:\n$plan")
      // the filter is a pure pruning hint: result must equal the plain join
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(j.count() == expected)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
  }

  test("stop-shingle cap costs zero extra shuffles: ONE sh-exchange, no window, no join") {
    // planned as for a large input, on a session of its own
    val s = largeInputSpark
    import graft.operators.LlmTextOps
    // r16 aggregate-then-pair shape (LlmTextOps.pairInter): the cap is a
    // size filter on the collected posting list, so the whole pair kernel
    // is Exchange(sh) -> collect_list -> filter -> pair explode ->
    // Exchange(pair grain) -> count. The old shape needed the df-window
    // PLUS the self-join (AQE recovered the exchange reuse at runtime but
    // both sides still ran the window pass); the new one needs exactly
    // one sh-exchange BY CONSTRUCTION, zero Window nodes, zero joins.
    for ((name, df) <- Seq(
        "llm_ngram_jaccard" -> LlmTextOps.llmNgramJaccard(s, SF),
        "llm_containment" -> LlmTextOps.llmContainment(s, SF))) {
      val plan = df.queryExecution.executedPlan.toString
      val shExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(sh#"))
      assert(shExchanges == 1,
        s"$name: expected exactly one sh-exchange, got $shExchanges in:\n$plan")
      assert(!plan.contains("Window"), s"$name: unexpected window in:\n$plan")
      assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
        s"$name: pair kernel must be join-free:\n$plan")
    }
  }
}

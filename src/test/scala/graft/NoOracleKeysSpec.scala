package graft

import org.apache.spark.sql.functions._

/** Every `SparkEntry.queries` key that ships WITHOUT a DuckDB oracle is
  * named here in a test that runs the EXACT graded entry and checks a
  * semantic property against an exact/brute-force twin computed in-test.
  * The driver's t2 gate records these keys as rows-only; this suite is
  * the correctness evidence that backs them (SURVEY.md §2 "unit" column).
  */
class NoOracleKeysSpec extends SparkTestBase {

  private def q(key: String) = SparkEntry.queries(key)(spark, SF)

  private def exactDistinctPerFlag: Map[String, Long] =
    Tables.load(spark, SF, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // agg_approx_hll and agg_hll_merge were promoted to full DuckDB oracles
  // in round 7 (portable register-arithmetic HLL) and left this spec; the
  // Spark BUILTIN HLL++ surface they previously graded stays covered here
  // as a library-surface test, like count_min_sketch/approx_top_k below.
  test("approx_count_distinct builtin (library surface): within 5% of exact per group") {
    val approx = Tables.load(spark, SF, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey").as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = exactDistinctPerFlag
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, nd) =>
      assert(math.abs(approx(k).toDouble - nd) / nd <= 0.05, s"group $k: ${approx(k)} vs $nd")
    }
  }

  test("agg_hll_sketch: per-group DataSketches estimate within 5% of exact") {
    val approx = q("agg_hll_sketch").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = exactDistinctPerFlag
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, nd) =>
      assert(math.abs(approx(k).toDouble - nd) / nd <= 0.05, s"group $k")
    }
  }

  // agg_approx_percentile is oracle-graded since round 7 (portable
  // equi-width histogram quantile — see RelationalOps; graded accuracy
  // asserted in RelationalOpsSpec). The builtin GK sketch stays covered:
  test("approx_percentile builtin (library surface): bracketed by exact neighbor quantiles") {
    // accuracy=1000 bounds the RANK error at n/1000; assert each estimate
    // lies within the exact [p-1%, p+1%] quantile envelope per group.
    val approx = Tables.load(spark, SF, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("ap90"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val env = Tables.load(spark, SF, "orders")
      .groupBy("o_orderstatus")
      .agg(expr("percentile(o_totalprice, array(0.49, 0.51, 0.89, 0.91))").as("p"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(approx.keySet == env.keySet)
    env.foreach { case (k, p) =>
      val (ap50, ap90) = approx(k)
      assert(ap50 >= p(0) && ap50 <= p(1), s"$k ap50 $ap50 outside [${p(0)}, ${p(1)}]")
      assert(ap90 >= p(2) && ap90 <= p(3), s"$k ap90 $ap90 outside [${p(2)}, ${p(3)}]")
    }
  }

  // agg_approx_topk and agg_count_min are oracle-graded since round 7
  // (portable md5 CMS — see RelationalOps). The Spark builtin sketch
  // library surface they replaced stays covered here.

  test("approx_top_k builtin (library surface): heavy-hitters match exact counts") {
    // 5-value event_type domain with k=3: the sketch tracks every value
    // exactly, so items AND counts must equal the exact top-3.
    val rows = Tables.load(spark, SF, "events")
      .agg(expr("approx_top_k(event_type, 3)").as("top3"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val got = rows.map(r => r.getString(0) -> r.getAs[Number](1).longValue)
    val exact = Tables.load(spark, SF, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(3).collect().map(r => r.getString(0) -> r.getLong(1))
    assert(got.toMap == exact.toMap, s"$got vs ${exact.toSeq}")
  }

  test("agg_approx_topk (portable CMS): graded top-3 equals the exact top-3") {
    val got = q("agg_approx_topk").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, SF, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"))
      .limit(3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // CMS estimates can only overcount; on the closed fixture domain the
    // counters don't collide, so items and counts are exact
    assert(got == exact, s"$got vs $exact")
  }

  test("agg_count_min (portable CMS): never undercounts, overcount bounded") {
    val li = Tables.load(spark, SF, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("int").as("qv"))
    val n = li.count()
    val exact = li.groupBy("l_returnflag", "qv").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rows = q("agg_count_min").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.map(t => (t._1, t._2)).distinct.size == rows.size)
    rows.foreach { case (flag, qv, est) =>
      val ex = exact.getOrElse((flag, qv), 0L)
      // min-of-d counters: est >= exact always; expected colliding mass
      // per row is ~ n/width — allow 1% of corpus as generous slack
      assert(est >= ex && est <= ex + math.max(1L, n / 100),
        s"($flag, $qv): est $est vs exact $ex")
    }
  }

  test("fn_map_suite: map construction/extraction round-trips the source columns") {
    val src = Tables.load(spark, SF, "customer").filter(col("c_custkey") <= 100)
      .select("c_custkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = q("fn_map_suite").collect()
    assert(rows.length == src.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getString(1) == "seg,key", "map_keys order")
      assert(r.getString(2) == src(id), "element_at(m, 'seg')")
      assert(r.getString(3) == id.toString, "str_to_map extraction")
      assert(r.getInt(4) == 3, "map_concat size")
    }
  }

  private def embMap: Map[Long, Seq[Float]] =
    Tables.load(spark, SF, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap

  /** The graded ANN entries round sims to 4 dp (determinism discipline);
    * mirror Spark's round() (HALF_UP) on the brute-force twin. */
  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("ann_lsh_topk: returned sims are the true pair cosines, sorted, keys ordered") {
    val emb = embMap
    val rows = q("ann_lsh_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, sim) =>
      assert(a < b, s"pair order ($a, $b)")
      val exact = round4(graft.functions.VectorFunctions.cosineValue(emb(a), emb(b)))
      assert(sim == exact, s"($a,$b): $sim vs $exact")
    }
    assert(rows.map(-_._3).toSeq == rows.map(-_._3).toSeq.sorted, "descending sim order")
  }

  test("ann_ivf_topk: returned sims are the true pair cosines, sorted, keys ordered") {
    val emb = embMap
    val rows = q("ann_ivf_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, sim) =>
      assert(a < b, s"pair order ($a, $b)")
      val exact = round4(graft.functions.VectorFunctions.cosineValue(emb(a), emb(b)))
      assert(sim == exact, s"($a,$b): $sim vs $exact")
    }
    assert(rows.map(-_._3).toSeq == rows.map(-_._3).toSeq.sorted, "descending sim order")
  }

  test("llm_dedup_simhash: buckets partition the corpus; survivor is the bucket min") {
    val rows = q("llm_dedup_simhash").collect()
    val total = Tables.load(spark, SF, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total, "bucket sizes partition the corpus")
    // survivor_id is strictly increasing output order and per-bucket min:
    // recompute sketches and group independently.
    val sketches = operators.LlmTextOps
      .simhashSketches(Tables.load(spark, SF, "documents"))
      .select("doc_id", "sh64").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byBucket = sketches.groupBy(_._2).map { case (h, xs) => h -> xs.map(_._1).min }
    rows.foreach { r =>
      assert(byBucket(r.getLong(0)) == r.getLong(1), s"bucket ${r.getLong(0)} survivor")
    }
  }

  test("count_min_sketch builtin (library surface): estimates bounded by exact + eps*N, and sketches merge") {
    import org.apache.spark.util.sketch.CountMinSketch
    // the serialized-sketch surface the portable graded entry replaced
    val rows = Tables.load(spark, SF, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("hex(count_min_sketch(cast(l_quantity as int), 0.001d, 0.99d, 42))").as("cms_hex"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted && rows.nonEmpty)
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val li = Tables.load(spark, SF, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("int").as("qv"))
    val exact = li.groupBy("l_returnflag", "qv").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    rows.foreach { case (flag, hexSketch, n) =>
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(unhex(hexSketch)))
      assert(cms.totalCount() == n, s"group $flag totalCount")
      (1 to 50).foreach { v =>
        val ex = exact.getOrElse((flag, v), 0L)
        val est = cms.estimateCount(v)
        // CMS never undercounts; eps=0.001 bounds the overcount at eps*N
        // with prob >= 0.99 per query — use 3x slack for the union bound
        assert(est >= ex && est <= ex + math.ceil(3 * 0.001 * n).toLong,
          s"group $flag value $v: est $est vs exact $ex (n=$n)")
      }
    }
    // mergeability: per-group sketches union to the global sketch's answers
    val merged = rows.map(r => CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(unhex(r._2))))
      .reduce((a, b) => { a.mergeInPlace(b); a })
    val globalExact = li.groupBy("qv").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = rows.map(_._3).sum
    assert(merged.totalCount() == total)
    globalExact.foreach { case (v, ex) =>
      val est = merged.estimateCount(v)
      assert(est >= ex && est <= ex + math.ceil(3 * 0.001 * total).toLong,
        s"merged value $v: est $est vs exact $ex")
    }
  }

  test("emb_pq_adc (graded portable): integer re-rank distances exact, recall@10 vs brute-force L2") {
    val rows = q("emb_pq_adc").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val queries = rows.map(_._1).distinct.sorted
    assert(queries.toSeq == (0L to 4L), s"query set: ${queries.toSeq}")
    val emb = embMap
    def qz(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    def l2q(a: Seq[Float], b: Seq[Float]): Long =
      qz(a).zip(qz(b)).map { case (x, y) => (x - y) * (x - y) }.sum
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    queries.foreach { qid =>
      val mine = rows.filter(_._1 == qid).sortBy(_._2)
      assert(mine.map(_._2).toSeq == (1 to 10), s"q$qid ranks")
      assert(mine.forall(_._3 != qid), s"q$qid self-match")
      val d = mine.map(_._4)
      assert(d.toSeq == d.toSeq.sorted, s"q$qid re-ranked distance not ascending")
      // the re-rank stage is EXACT int64 on the 1e-6-quantized vectors —
      // every reported distance must equal the independent recomputation
      mine.foreach { case (_, _, nid, dd) =>
        assert(dd == l2q(emb(qid), emb(nid)), s"q$qid → $nid distance $dd")
      }
    }
    // recall@10 vs the FLOAT brute-force truth: the portable integer
    // quantizer must still be a good quantizer, not just a portable one
    val recalls = queries.map { qid =>
      val exact = emb.keys.filter(_ != qid).toSeq
        .map(v => (l2(emb(qid), emb(v)), v)).sorted.take(10).map(_._2).toSet
      val got = rows.filter(_._1 == qid).map(_._3).toSet
      got.intersect(exact).size / 10.0
    }
    val avg = recalls.sum / recalls.size
    assert(avg >= 0.7, s"avg recall@10 $avg (per-query: ${recalls.toSeq})")
  }

  test("emb_pq_adc: ADC scan and re-rank plan only broadcast joins — the corpus is never shuffled pairwise") {
    val plan = q("emb_pq_adc").queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected the distance-table and query-vector broadcasts in:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise blow-up in the PQ plan:\n$plan")
  }

  test("llm_dedup_simhash_pairs: hamming column is the true sketch distance, bounded") {
    val sk = operators.LlmTextOps
      .simhashSketches(Tables.load(spark, SF, "documents"))
      .select("doc_id", "sh64").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = q("llm_dedup_simhash_pairs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    rows.foreach { case (a, b, h) =>
      assert(a < b, s"pair order ($a, $b)")
      assert(h <= 8, s"hamming bound ($a, $b): $h")
      assert(java.lang.Long.bitCount(sk(a) ^ sk(b)) == h, s"hamming value ($a, $b)")
    }
  }

  test("mm_ahash_dedup: hamming values exact vs recomputed hashes; exact-payload dups surface at hamming 0") {
    val texts = Tables.load(spark, SF, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def ahash(t: String): Long = {
      val cells = new Array[Long](64)
      t.getBytes("UTF-8").zipWithIndex.foreach { case (b, p) => cells(p % 64) += b & 0xffL }
      val tot = cells.sum
      (0 until 64).foldLeft(0L)((acc, i) =>
        if (cells(i) * 64 > tot) acc | (1L << i) else acc)
    }
    val hashes = texts.map { case (id, t) => id -> ahash(t) }.toMap
    val rows = q("mm_ahash_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, h) =>
      assert(a < b && h <= 8, s"pair ($a, $b) hamming $h")
      assert(java.lang.Long.bitCount(hashes(a) ^ hashes(b)) == h, s"hamming value ($a, $b)")
    }
    // identical payloads give identical hashes, which share every band —
    // so each exact-dup pair MUST surface, at hamming 0
    val pairSet = rows.map(t => (t._1, t._2)).toSet
    texts.groupBy(_._2).values.filter(_.length > 1).foreach { g =>
      g.map(_._1).sorted.combinations(2).foreach { p =>
        assert(pairSet.contains((p(0), p(1))), s"exact dup pair $p missing")
      }
    }
  }

  test("llm_bpe_train: round 1 = graded argmax; counts monotone; corpus compresses") {
    val (mergeDf, seg) = operators.LlmTextOps.bpeTrainCore(spark, SF)
    val m = mergeDf.collect()
    assert(m.length == 8, s"expected 8 training rounds, got ${m.length}")
    // round 1 must agree with the oracle-graded single-round op
    // (llm_bpe_merges top-1): same winning pair, same weighted count
    val top = q("llm_bpe_merges").collect()(0)
    assert(m(0).getAs[String]("merged") == top.getString(0),
      s"round-1 winner ${m(0)} vs graded ${top}")
    assert(m(0).getAs[Long]("cnt") == top.getLong(1))
    // merges are well-formed and greedy: argmax counts never increase
    // (a merge can only shrink old pair counts, and pairs born from the
    // merge are bounded by the number of replacements performed)
    m.foreach(r => assert(
      r.getAs[String]("merged") == r.getAs[String]("left") + r.getAs[String]("right")))
    val cnts = m.map(_.getAs[Long]("cnt")).toSeq
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b }, s"counts $cnts")
    // applying 8 merges must strictly compress the weighted symbol count
    val after = seg.select(
      sum(size(split(col("seg"), "\u001f")) * col("cnt"))).collect()(0).getLong(0)
    val before = Tables.load(spark, SF, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .agg(sum(length(col("w")))).collect()(0).getLong(0)
    assert(after < before, s"no compression: $after vs $before")
    // boundary anchoring: every final symbol is rebuilt purely from the
    // merge vocabulary + single chars (no symbol straddles a separator)
    val vocab = m.map(_.getAs[String]("merged")).toSet
    seg.select("seg").collect().foreach { r =>
      r.getString(0).split('\u001f').foreach { sym =>
        assert(sym.length == 1 || vocab.exists(v => sym == v),
          s"symbol '$sym' is neither a char nor a trained merge")
      }
    }
  }

  test("llm_bpe_encode: per-doc bounds; totals reconcile with the trained segmentation; broadcast vocab join") {
    val enc = q("llm_bpe_encode")
    // vocabulary-sized token map must broadcast, never shuffle the corpus
    assert(enc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "encode's vocab join should be a broadcast hash join")
    val rows = enc.collect()
    rows.foreach { r =>
      val (w, tk, ch) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_chars"))
      assert(w <= tk && tk <= ch, s"doc ${r.get(0)}: words $w tokens $tk chars $ch")
      val fert = r.getAs[Double]("fertility")
      assert(math.abs(fert - math.floor(ch.toDouble / tk * 10000 + 0.5) / 10000.0) == 0.0)
    }
    // total tokens = weighted symbol count of the trained word table
    // (len>=2 words) + one token per 1-char word in the corpus
    val seg = operators.LlmTextOps.bpeTrainCore(spark, SF)._2
    val segTokens = seg.select(
      sum(size(split(col("seg"), "\u001f")).cast("long") * col("cnt")))
      .collect()(0).getLong(0)
    val oneCharWords = Tables.load(spark, SF, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) === 1).count()
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == segTokens + oneCharWords)
  }
}

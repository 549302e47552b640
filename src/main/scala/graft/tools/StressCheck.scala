package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Above-fixture-scale evidence run: drives the SCALE-CRITICAL linear
  * paths on synthetic data 10–100× the sf0.1 fixtures (5 M events, 200 k
  * documents, 50 k vectors), generated EXECUTOR-SIDE from `spark.range`
  * so the driver never materializes a row. The quadratic-exact paths
  * (block BNL) are deliberately excluded — their scale story is the ANN /
  * banded replacements, which ARE included here at bucket-local cost.
  *
  * Usage: sbt "runMain graft.tools.StressCheck [rowsScale] [tagFilter]"
  * Prints one timing line per op plus a JSON summary; every op must
  * complete, and the run asserts basic output sanity (non-zero groups,
  * bounded candidate fan-out) so a silent wrong-shape can't pass.
  *
  * Smoke mode (round 10): fractional rowsScale runs clean (the
  * smj_fact_fact broadcast-shape assert is pinned with
  * autoBroadcastJoinThreshold=-1, a no-op at full scale), and the
  * optional comma-separated tagFilter (substring match) selects rows.
  * TWO documented sub-minute smoke SUBSETS cover the suite between full
  * runs — neither replaces the full suite (full-suite figures are what
  * docs/SCALE.md records; full at 0.2 is ~155 s, at 1.0 ~6-10 min):
  *
  * Subset 1 — dedup/LSH caps, fact-fact shuffle shape, iterative
  * kernels (~40 s measured / ~56 s wall):
  *   runMain graft.tools.StressCheck 0.2
  *     sessionize,dedup_exact,minhash,ann,smj,graph_components,basket,dist_running
  *
  * Subset 2 (round 11; round 12 adds the exactly-once geo stream row
  * and the compaction-churn row) — the join/window/graph/stream/geo/
  * table-maintenance rows subset 1 skips, each with its own
  * plan-shape/planted assert (star-join broadcast, as-of grid, PageRank
  * fixed points, window top-k, streaming tumbling core, geo blocking
  * completeness, streamed-vs-batch geo pair accounting, compact-under-
  * append row conservation; ~41 s measured at 0.2):
  *   runMain graft.tools.StressCheck 0.2
  *     asof,star,win_topk,pagerank_5m,stream_tumbling,geo_radius,geo_stream,vt_compact
  *
  * This is a dev/evidence tool, not a graded surface: synthetic data has
  * no DuckDB oracle. Correctness of each op is carried by its graded
  * fixture twin; THIS run demonstrates the shuffle/memory shapes hold
  * when n grows 10–100×. Results are recorded in docs/SCALE.md.
  */
object StressCheck {
  def main(args: Array[String]): Unit = {
    val scale = args.headOption.map(_.toDouble).getOrElse(1.0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val nEvents = (5000000 * scale).toLong  // sf0.1 ships 500k
    val nDocs = (200000 * scale).toLong     // sf0.1 ships 5k
    val nVecs = (50000 * scale).toLong      // sf0.1 ships 2k

    // Deterministic synthetic tables, generated in executors. Events get
    // zipfian-ish users (id % sqrt(n)) so group sizes are realistic and
    // one hot user (id % 97 == 0 -> user 0) exercises skew handling.
    def events: DataFrame = spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + (col("id") % 1000000L) * 7919L +
        (col("id") * 104729L) % 3600000000L).as("ts"),
      when(col("id") % 97 === 0, 0L)
        .otherwise(pmod(col("id") * 2654435761L, lit(math.max(1L, math.sqrt(nEvents.toDouble).toLong)))).as("user_id"),
      concat(lit("ev"), pmod(col("id"), lit(7))).as("event_type"),
      (pmod(col("id") * 48271L, lit(10000)) / 100.0).as("value"))

    // docs: ~40-word texts from a 512-word vocab, words drawn via
    // xxhash64(id, w) — NOT a linear congruence, whose id-periodicity
    // made every 512th doc identical (first draft of this tool produced
    // 39M true dup pairs and benchmarked the pathological all-clones
    // corpus instead of the intended one). Every 50th doc is an exact
    // duplicate of its predecessor, every 73rd a near-dup (one word
    // prepended) -> dedup ops must find planted, not accidental, structure.
    def docText(idCol: org.apache.spark.sql.Column) =
      concat_ws(" ", (0 until 40).map(w =>
        concat(lit("w"), pmod(xxhash64(idCol, lit(w)), lit(512)))): _*)
    def docs: DataFrame =
      spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % 50 === 1, docText(col("id") - 1))
          .when(col("id") % 73 === 2, concat(lit("changed "), docText(col("id"))))
          .otherwise(docText(col("id"))).as("text"))

    def vecs: DataFrame = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("id"), i), lit(1000)) / 500.0 - 1.0).cast("float"))
        .as("embedding"))

    // optional row selector: comma-separated substrings; a row runs when
    // any selector matches its tag (no arg = run everything). An arg that
    // parses to ZERO selectors ("" or ",") also means run-everything —
    // otherwise every row would be silently skipped and the run would
    // exit green having asserted nothing.
    val tagFilter = args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def time(tag: String)(f: => Long): Unit = {
      if (tagFilter.exists(sel => !sel.exists(tag.contains))) {
        println(f"[stress] $tag%-28s skipped (tagFilter)")
      } else {
        val t0 = System.nanoTime()
        val n = f
        val secs = (System.nanoTime() - t0) / 1e9
        results(tag) = secs
        println(f"[stress] $tag%-28s ${secs}%8.2f s   rows=$n")
      }
    }

    // 1. Sessionization: one shuffle on user_id; 5M events, hot user 0.
    time("sessionize_5m") {
      val n = graft.operators.EventOps.sessionize(events).count()
      require(n > 0); n
    }
    // 2. Tumbling window agg: two-phase hash agg on (window, type).
    time("tumbling_5m") {
      val n = events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("v")).count()
      require(n > 0); n
    }
    // 3. Exact dedup: md5-groupBy survivor choice over 200k docs.
    time("dedup_exact_200k") {
      val n = docs.withColumn("h", md5(col("text")))
        .groupBy("h").agg(min("doc_id").as("survivor"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1).count()
      require(n > 0, "planted exact dups not found"); n
    }
    // 3b. Substring-level dedup (llm_dedup_substring's core) on planted
    // repeated boilerplate, 200k docs / ~5M windows. Three closed-form
    // classes over per-doc-UNIQUE filler tokens (u<doc>x<pos>, so the
    // only colliding windows are the planted ones):
    //   A (id%10==0): a shared 16-token boilerplate block then 24 unique
    //     tokens — exactly ONE fully-boiler window at pos 1 per doc
    //     (pos ≥ 2 mixes in a doc-unique token), duplicated across all
    //     of class A; survivor = doc 0's occurrence.
    //   B (id%10==5): a doc-unique 16-token block, a separator, the same
    //     block again (33 tokens) — the WITHIN-doc repeat: dup windows
    //     at pos 1 and 18 only, survivor pos 1, one removable.
    //   C (rest): 40 unique tokens — zero duplicated windows.
    time("substring_dedup_200k") {
      val uniq = (off: Int, k: Int) => (off until off + k).map(w =>
        concat(lit("u"), col("id"), lit("x"), lit(w)))
      val boiler = (0 until 16).map(w => lit(s"b$w"))
      val blk = uniq(100, 16)
      val txt = when(col("id") % 10 === 0, concat_ws(" ", boiler ++ uniq(0, 24): _*))
        .when(col("id") % 10 === 5,
          concat_ws(" ", (blk :+ concat(lit("sep"), col("id"))) ++ blk: _*))
        .otherwise(concat_ws(" ", uniq(0, 40): _*))
      val d = spark.range(nDocs).select(col("id").as("doc_id"), txt.as("text"))
      val out = graft.operators.LlmTextOps.substringDedupProfile(d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nA = nDocs / 10 + (if (nDocs % 10 >= 1) 1L else 0L) // ids ≡ 0 (mod 10)
      val nB = (nDocs + 4) / 10                               // ids ≡ 5 (mod 10)
      val byClass = out.groupBy(
          when(pmod(col("doc_id"), lit(10)) === 0, "A")
            .when(pmod(col("doc_id"), lit(10)) === 5, "B").otherwise("C").as("cls"))
        .agg(count(lit(1)).as("n"), sum("n_windows").as("w"),
          sum("n_dup_windows").as("dup"), sum("n_removable_windows").as("rem"),
          countDistinct("dup_win_frac").as("nfrac"), max("dup_win_frac").as("frac"))
        .collect().map(r => r.getString(0) -> r).toMap
      val a = byClass("A"); val b = byClass("B"); val c = byClass("C")
      require(a.getLong(1) == nA && a.getLong(2) == 25L * nA && a.getLong(3) == nA &&
        a.getLong(4) == nA - 1 && a.getLong(5) == 1L && a.getDouble(6) == 0.04,
        s"class A off closed form: $a (expected n=$nA)")
      require(b.getLong(1) == nB && b.getLong(2) == 18L * nB && b.getLong(3) == 2L * nB &&
        b.getLong(4) == nB && b.getLong(5) == 1L && b.getDouble(6) == 0.111111,
        s"class B off closed form: $b (expected n=$nB)")
      require(c.getLong(1) == nDocs - nA - nB && c.getLong(3) == 0L && c.getLong(4) == 0L,
        s"class C must be dup-free: $c")
      // the deterministic survivor: doc 0 keeps its boilerplate window
      val d0 = out.filter(col("doc_id") === 0).head()
      require(d0.getLong(2) == 1L && d0.getLong(3) == 0L,
        s"doc 0 must be class A's survivor: $d0")
      // the STRIP product on the same plant, same closed forms: class A
      // cuts its 16 boiler tokens except the survivor doc 0 (0 cut),
      // class B cuts only its SECOND block occurrence (16 tokens at
      // positions 18..33 — pos 1 is the within-doc survivor), class C
      // cuts nothing; and reassembly is position-exact (doc 5's kept
      // text is its first block + separator, verbatim)
      val st = graft.operators.LlmTextOps.substringDedupStrip(d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sByClass = st.groupBy(
          when(pmod(col("doc_id"), lit(10)) === 0, "A")
            .when(pmod(col("doc_id"), lit(10)) === 5, "B").otherwise("C").as("cls"))
        .agg(sum("n_tokens").as("nt"), sum("n_cut_tokens").as("nc"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      require(sByClass("A") == ((40L * nA, 16L * (nA - 1))) &&
        sByClass("B") == ((33L * nB, 16L * nB)) &&
        sByClass("C") == ((40L * (nDocs - nA - nB), 0L)),
        s"strip class sums off closed form: $sByClass (nA=$nA nB=$nB)")
      val doc5 = st.filter(col("doc_id") === 5).head().getString(3)
      val want5 = (100 until 116).map(w => s"u5x$w").mkString(" ") + " sep5"
      require(doc5 == want5, s"doc 5 reassembly drifted: '$doc5'")
      st.unpersist()
      val total = out.count(); out.unpersist(); total
    }
    // 3c. INCREMENTAL substring dedup (llm_dedup_substring_incremental's
    // core) — planted truth across the existing/fresh boundary, 200k
    // docs total (4:1 existing:fresh). Existing: each doc the shared
    // 16-token boiler block + 24 doc-unique tokens (e<id>x<w>), so the
    // corpus-known hash set is {boiler} ∪ 24·nE uniques and the boiler
    // hash is HOT in the distinct build (absorbed map-side). Fresh
    // classes by id % 10:
    //   K (0): boiler + 24 fresh-unique — exactly ONE known window
    //     (pos 1), which is ALSO batch-duplicated across class K:
    //     proves at scale that known precedence zeroes batch_removable.
    //   B (5): a batch-shared c-block + 24 unique — ONE batch-dup
    //     window unknown to the corpus; survivor = min doc_id in class.
    //   C (rest): 40 uniques — clean.
    time("substring_incremental_200k") {
      val nExist = nDocs * 4 / 5
      val nFresh = nDocs - nExist
      val boiler = (0 until 16).map(w => lit(s"b$w"))
      val cblk = (0 until 16).map(w => lit(s"c$w"))
      val uniq = (p: String, off: Int, k: Int) => (off until off + k).map(w =>
        concat(lit(p), col("id"), lit("x"), lit(w)))
      val existing = spark.range(nExist).select(col("id").as("doc_id"),
        concat_ws(" ", boiler ++ uniq("e", 0, 24): _*).as("text"))
      val ftxt = when(col("id") % 10 === 0, concat_ws(" ", boiler ++ uniq("f", 0, 24): _*))
        .when(col("id") % 10 === 5, concat_ws(" ", cblk ++ uniq("f", 0, 24): _*))
        .otherwise(concat_ws(" ", uniq("f", 0, 40): _*))
      // +10M keeps fresh ids disjoint from existing WITHOUT changing
      // id % 10 (10M ≡ 0 mod 10) — class and survivor math read off id
      val fresh = spark.range(nFresh).select(
        (col("id") + 10000000L).as("doc_id"), ftxt.as("text"))
      val out = graft.operators.LlmTextOps.substringIncremental(existing, fresh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nK = nFresh / 10 + (if (nFresh % 10 >= 1) 1L else 0L)
      val nB = (nFresh + 4) / 10
      val byClass = out.groupBy(
          when(pmod(col("doc_id"), lit(10)) === 0, "K")
            .when(pmod(col("doc_id"), lit(10)) === 5, "B").otherwise("C").as("cls"))
        .agg(count(lit(1)).as("n"), sum("n_windows").as("w"),
          sum("n_known_windows").as("nk"), sum("n_batch_removable_windows").as("nr"),
          countDistinct("cut_frac").as("nfrac"), max("cut_frac").as("frac"))
        .collect().map(r => r.getString(0) -> r).toMap
      val k = byClass("K"); val b = byClass("B"); val c = byClass("C")
      require(k.getLong(1) == nK && k.getLong(2) == 25L * nK && k.getLong(3) == nK &&
        k.getLong(4) == 0L && k.getLong(5) == 1L && k.getDouble(6) == 0.04,
        s"class K off closed form: $k (expected n=$nK)")
      require(b.getLong(1) == nB && b.getLong(2) == 25L * nB && b.getLong(3) == 0L &&
        b.getLong(4) == nB - 1 && b.getLong(5) == 2L && b.getDouble(6) == 0.04,
        s"class B off closed form: $b (expected n=$nB)")
      require(c.getLong(1) == nFresh - nK - nB && c.getLong(3) == 0L &&
        c.getLong(4) == 0L && c.getDouble(6) == 0.0,
        s"class C must be clean: $c")
      // the deterministic within-batch survivor: class B's min doc_id
      val s5 = out.filter(col("doc_id") === 10000005L).head()
      require(s5.getLong(3) == 0L && s5.getDouble(4) == 0.0,
        s"class B survivor must keep its window: $s5")
      // the incremental STRIP on the same plant: class K cuts its 16
      // corpus-known boiler tokens in EVERY doc (the surviving copy
      // lives in the existing corpus, not the batch), class B cuts 16
      // in every doc but the batch survivor, class C cuts nothing —
      // and reassembly is position-exact (the survivor keeps its full
      // text verbatim, a non-survivor keeps only its unique tail)
      val st = graft.operators.LlmTextOps.substringIncrementalStrip(existing, fresh)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sByClass = st.groupBy(
          when(pmod(col("doc_id"), lit(10)) === 0, "K")
            .when(pmod(col("doc_id"), lit(10)) === 5, "B").otherwise("C").as("cls"))
        .agg(sum("n_tokens").as("nt"), sum("n_cut_tokens").as("nc"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      require(sByClass("K") == ((40L * nK, 16L * nK)) &&
        sByClass("B") == ((40L * nB, 16L * (nB - 1))) &&
        sByClass("C") == ((40L * (nFresh - nK - nB), 0L)),
        s"incremental strip off closed form: $sByClass (nK=$nK nB=$nB)")
      val surv = st.filter(col("doc_id") === 10000005L).head().getString(3)
      val wantSurv = (0 until 16).map(w => s"c$w").mkString(" ") + " " +
        (0 until 24).map(w => s"f5x$w").mkString(" ")
      require(surv == wantSurv, s"survivor reassembly drifted: '$surv'")
      val cutDoc = st.filter(col("doc_id") === 10000015L).head().getString(3)
      require(cutDoc == (0 until 24).map(w => s"f15x$w").mkString(" "),
        s"non-survivor must keep only its unique tail: '$cutDoc'")
      st.unpersist()
      val total = out.count(); out.unpersist(); total
    }
    // 4. MinHash LSH candidates: banded bucket join, hot-bucket capped.
    time("minhash_lsh_200k") {
      val n = graft.operators.MinHashOps
        .minhashCandidates(docs, maxBucketSize = Some(1000)).count()
      require(n > 0, "planted near-dups not found"); n
    }
    // 4b. MinHash hot-bucket cap under a PLANTED adversary (round 10):
    // 5000·scale identical boilerplate docs all land in ONE bucket in
    // every band (12.5M·scale² pairs uncapped — the blowup the cap
    // exists to prevent). With the cap the boilerplate block must
    // contribute ZERO pairs while the organic planted near-dups still
    // surface — the unit-scale cap spec (LlmOpsSpec) proven at 25×.
    time("minhash_capped_hot_bucket") {
      val nBoiler = math.max(2000L, (5000 * scale).toLong)
      val boilerText = (0 until 40).map(w => s"boiler$w").mkString(" ")
      val boiler = spark.range(nBoiler).select(
        (col("id") + 10000000L).as("doc_id"), lit(boilerText).as("text"))
      val capped = graft.operators.MinHashOps
        .minhashCandidates(docs.unionByName(boiler), maxBucketSize = Some(1000))
      // coalesce: sum over ZERO rows is NULL, and an empty candidate set
      // is exactly the regression this row exists to catch — it must land
      // in the require message, not a Row.getLong NPE
      val agg = capped.agg(
        coalesce(sum(when(col("a_id") >= 10000000L && col("b_id") >= 10000000L, 1L)
          .otherwise(0L)), lit(0L)).as("hot"),
        count(lit(1)).as("n")).head()
      require(agg.getLong(0) == 0L,
        s"hot-bucket pairs survived the cap: ${agg.getLong(0)}")
      require(agg.getLong(1) > 0L, "organic planted near-dups lost under the cap")
      agg.getLong(1)
    }
    // 5. SimHash buckets: linear sketch + groupBy.
    time("simhash_buckets_200k") {
      val sk = graft.operators.LlmTextOps.simhashSketches(docs)
      val n = sk.groupBy("sh64").agg(count(lit(1)).as("n")).count()
      require(n > 0); n
    }
    // 6. ANN banded-LSH fan-out certificate at 50k vectors — the SHIPPED
    // band-OR shape (round 10): 24 independent 6-bit tables, candidates =
    // same-band-same-bucket pairs. The certificate is the exact per-band
    // bucket histogram Σ C(size, 2) — the candidate count the join WOULD
    // produce (with multi-band duplicates), priced at O(n·L) instead of
    // executing the O(candidate) join: on synthetic RANDOM vectors every
    // pair sits at sim ≈ 0 where the fraction is the analytic worst case
    // ≈ NumBands/2^BandBits = 37.5%, so running the join here benchmarks
    // the adversarial corpus, not the operator (measured once this round:
    // 410,933,430 distinct pairs, 116.9 s — recorded in docs/SCALE.md).
    // The bound catches a regression that merges bands into one key or
    // loses a band's discriminating bits.
    time("ann_lsh_50k") {
      val cand = vecs.select(
          posexplode(graft.GraftFunctions.hyperplaneBands(col("embedding")))
            .as(Seq("band", "bucket")))
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .agg(sum(expr("n * (n - 1) DIV 2"))).head().getLong(0)
      val allPairs = nVecs * (nVecs - 1) / 2
      require(cand < allPairs / 2,
        s"banded LSH fan-out degenerated: $cand of $allPairs pairs")
      require(cand > 0, "no band collisions at all — bucket math broken")
      cand
    }
    // 6b. Index-SERVED retrieval at 50k vectors (round 10): the
    // servedTopK kernel behind ann_ivf_query_topk / the indexed RRF —
    // ~50 queries probe their 3 nearest IVF lists and rank candidates by
    // exact cosine. Asserts the serving contract: every query returns
    // ranked rows, at most k each, no self-hits — and the whole pass
    // stays list-local (the brute-force alternative would be 50 × 50k
    // cosines; the probed lists bound it at 3 lists/query).
    time("ivf_served_topk_50k") {
      // bounded-sample Lloyd's on the synthetic corpus — the SAME
      // TrainSample/K recipe the graded codebook build runs (the FAISS
      // posture: training O(1) in the corpus)
      val cb = graft.operators.PortableQuantizer.train(
        vecs.orderBy("vec_id").limit(graft.operators.PortableQuantizer.TrainSample)
          .select(lit(0).as("m"), col("vec_id").as("id"),
            graft.operators.PortableQuantizer.quantArr(col("embedding")).as("q")),
        graft.operators.PortableQuantizer.K)(0).map(_.toSeq).toSeq
      val assigned = vecs.select(col("vec_id"),
        posexplode(graft.operators.PortableQuantizer
          .ivfAssignMulti(cb, col("embedding"), 3)).as(Seq("probe", "bucket")))
      // the GRADED kernel body itself — servedTopKFrames is one
      // definition for the fixture key and this row, so the scale
      // evidence cannot drift from the kernel it claims to exercise
      val served = graft.operators.LlmTextOps.servedTopKFrames(
        assigned, vecs, col("vec_id") % 997 === 0, 3).collect()
      val nq = (nVecs + 996) / 997
      val byQ = served.groupBy(_.getLong(0))
      require(byQ.size == nq, s"served ${byQ.size} of $nq queries")
      require(served.forall(r => r.getLong(0) != r.getLong(2)), "self-hit served")
      require(byQ.values.forall(_.length <= 3), "over-k results")
      // the FILTERED serve variant (ann_ivf_filtered_topk's shape) over
      // the SAME assignment: a 50%-selectivity metadata predicate
      // semi-joins the index candidates before the shared exact re-rank —
      // every served neighbor must pass the filter, and the pass stays
      // list-local (the filter prunes candidates, it never scans the
      // allowed set against the corpus)
      val allowed = vecs.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("neighbor_id"))
      val filtered = graft.operators.LlmTextOps.exactRerank(
        graft.operators.LlmTextOps.indexCandidates(assigned, col("vec_id") % 997 === 0)
          .join(allowed, Seq("neighbor_id"), "left_semi"),
        vecs, 3).collect()
      require(filtered.nonEmpty && filtered.forall(_.getLong(2) % 2 == 0),
        "filtered serve leaked a disallowed neighbor")
      served.length + filtered.length
    }
    // 7. Containment/Jaccard posting join on 200k docs with the
    // stop-shingle cap — the open-vocab guard the 100 TB path uses.
    time("jaccard_capped_200k") {
      val sh = graft.operators.LlmTextOps.shingleIndex(docs)
      // Same cap the graded entries run with — the graded shape IS the
      // stress shape.
      val n = graft.operators.LlmTextOps.jaccardPairs(sh, 0.5,
        maxPosting = graft.operators.LlmTextOps.StopShingleCap).count()
      require(n > 0, "planted near-dups not found"); n
    }
    // 7a'. The FULL curation funnel (the graded llm_curation_e2e plan via
    // the shared curationFunnel kernel) at 40× with a CLASS-LABELED
    // corpus: source names the planted class, so every funnel counter has
    // a closed-form expected value. 85% organic docs (all pass, all
    // kept), 5% language-gate failures (lang "xx"), 5% exact duplicates
    // of organic bases (gated, then exact-deduped away — the lower-id
    // base survives), 5% "changed "-prefixed near-dups of organic bases
    // (survive exact dedup at distinct texts, then lose the 3-shingle
    // Jaccard-0.8 CC to their base: 36 shared of 41 union shingles
    // ≈ 0.878). Organic docs are exactly 40 one-token words, so kept
    // word/token totals are exact products and organic's token share is
    // exactly 1.0.
    time("curation_funnel_200k") {
      val clsN = nDocs / 20
      val g = nDocs - 3 * clsN
      val corpus = spark.range(nDocs).select(
        col("id").as("doc_id"),
        when(col("id") < g + clsN, docText(col("id")))
          .when(col("id") < g + 2 * clsN, docText(col("id") - (g + clsN)))
          .otherwise(concat(lit("changed "), docText(col("id") - (g + 2 * clsN)))).as("text"),
        when(col("id") < g, lit("organic"))
          .when(col("id") < g + clsN, lit("fail"))
          .when(col("id") < g + 2 * clsN, lit("dup"))
          .otherwise(lit("near")).as("source"),
        when(col("id") >= g && col("id") < g + clsN, lit("xx"))
          .otherwise(lit("en")).as("lang"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      val got = graft.operators.LlmCorpusOps.curationFunnel(corpus).collect()
      val bySrc = got.map(r => r.getString(0) -> r).toMap
      def chk(src: String, raw: Long, gated: Long, exact: Long, kept: Long,
              words: Long, toks: Long, share: Double): Unit = {
        val r = bySrc(src)
        require(r.getLong(1) == raw && r.getLong(2) == gated &&
          r.getLong(3) == exact && r.getLong(4) == kept &&
          r.getLong(5) == words && r.getLong(6) == toks &&
          r.getDouble(7) == share,
          s"funnel $src row off closed form: $r (want raw=$raw gated=$gated " +
            s"exact=$exact kept=$kept words=$words toks=$toks share=$share)")
      }
      chk("organic", g, g, g, g, 40 * g, 40 * g, 1.0)
      chk("fail", clsN, 0, 0, 0, 0, 0, 0.0)
      chk("dup", clsN, clsN, 0, 0, 0, 0, 0.0)
      chk("near", clsN, clsN, clsN, 0, 0, 0, 0.0)
      require(got.length == 4, s"expected 4 source rows, got ${got.length}")
      got.length.toLong
    }
    // 7a''. Grid-blocked geo radius join at 40× (3·nDocs = 600k targets,
    // nDocs/20 = 10k facilities) over the FULL earth grid (lat ∈
    // [-60,60), lon ∈ [-180,180) → 43,200 one-degree cells, so the
    // antimeridian wrap is actually exercised) — the same
    // radiusPairsFrom kernel the graded geo_radius_join/geo_knn keys
    // plan. Two honest assertions: the blocked candidate volume stays at
    // cell-occupancy scale (never all-pairs — < 1% of |F|·|T|), and
    // completeness is re-proven at THIS scale against brute force on a
    // 20-facility sample (blocking finds exactly the brute-force
    // within-50 km set for those facilities).
    // shared synthetic full-earth point generator for the geo rows
    def geoPtsOf(n: Long, mul: Long) = spark.range(n)
      .selectExpr(s"id * $mul + 17 AS k")
      .selectExpr("k",
        "CAST((k * 48271) % 120000 AS DOUBLE) / 1000.0 - 60.0 AS lat",
        "CAST((k * 16807) % 360000 AS DOUBLE) / 1000.0 - 180.0 AS lon",
        "((k * 48271) % 120000) DIV 1000 - 60 AS latc",
        "((k * 16807) % 360000) DIV 1000 - 180 AS lonc")
    time("geo_radius_600k") {
      val nTgt = 3L * nDocs
      val nFac = (nDocs / 20).toLong
      val fac = geoPtsOf(nFac, 13L)
      val tgt = geoPtsOf(nTgt, 7L)
      // enumerate the blocked candidates ONCE (cellCandidates = the raw
      // candidate set with distances, no radius claim), cache it, and
      // derive both the within-50 pair set and the never-all-pairs
      // candidate count from the same materialization
      // planted data-side half of radiusPairsFrom's caller-asserted
      // |lat| band (see its scaladoc): prove the synthetic full-earth
      // generator actually stays inside the 60° band the kernel's
      // radius require() is checked against — one cheap max() per side
      for ((nm, pts) <- Seq("fac" -> fac, "tgt" -> tgt)) {
        val maxAbs = pts.agg(max(abs(col("lat")))).head().getDouble(0)
        require(maxAbs <= 60.0,
          s"$nm lat $maxAbs exceeds the asserted 60-degree band")
      }
      val cand = graft.operators.GeoOps.cellCandidates(fac, tgt).cache()
      val pairs = cand.filter(col("d") <= 50.0)
      val nPairs = pairs.count()
      require(nPairs > 0, "no within-radius pairs at stress scale")
      val nCand = cand.count()
      require(nCand.toDouble < 0.01 * nFac.toDouble * nTgt.toDouble,
        s"blocked candidates $nCand not << ${nFac * nTgt} all-pairs")
      // sampled completeness: brute force 20 facilities over ALL targets
      val sampleFac = fac.orderBy("k").limit(20).cache()
      val keys = sampleFac.select("k").collect().map(_.getLong(0)).toSet
      val brute = sampleFac
        .select(col("k").as("sk"), col("lat").as("slat"), col("lon").as("slon"))
        .crossJoin(tgt)
        .select(col("sk"), col("k").as("ck"),
          graft.operators.GeoOps.haversineKm(
            col("slat"), col("slon"), col("lat"), col("lon")).as("d"))
        .filter(col("d") <= 50.0)
        .select("sk", "ck").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val blocked = pairs.filter(col("sk").isInCollection(keys))
        .select("sk", "ck").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      sampleFac.unpersist()
      cand.unpersist()
      require(blocked == brute,
        s"blocking at stress scale dropped ${(brute -- blocked).size} " +
          s"/ invented ${(blocked -- brute).size} pairs")
      nPairs
    }
    // 7a'''. The persisted cell-clustered layout (geo_bbox_persisted's
    // shape) at 40×: 600k full-earth points committed to a graft-vt
    // table keyed by the row-major cell id ((latc+60)·360 + lonc+180 ∈
    // [0, 43200)), range-clustered into 16 files; a 2°×4° box serve is
    // two contiguous cell ranges ([25400,25403] and [25760,25763]),
    // each a stats-pruned readWhere — FILE skipping asserted at this
    // scale, and the served id set equals the direct derivation filter
    // exactly.
    time("geo_persisted_600k") {
      val root = java.nio.file.Files
        .createTempDirectory("graft_stressgeo").toString + "/t"
      val pts = geoPtsOf(3L * nDocs, 7L)
        .withColumn("cell", (col("latc") + 60L) * 360L + (col("lonc") + 180L))
      val vt = graft.tables.VersionedTable.create(
        spark, root, pts, statsCol = Some("cell"))
      vt.optimizeLayout("cell", 16)
      def box(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("lat") >= 10.0 && col("lat") < 12.0 &&
          col("lon") >= 20.0 && col("lon") < 24.0)
      val served = box(vt.readWhere(25400.0, 25403.0)
          .unionAll(vt.readWhere(25760.0, 25763.0)))
        .select("k").collect().map(_.getLong(0)).toSet
      val want = box(pts).select("k").collect().map(_.getLong(0)).toSet
      require(served.nonEmpty && served == want,
        s"persisted serve drift: served ${served.size} want ${want.size}")
      val total = vt.read().inputFiles.length
      val scanned = (vt.readWhere(25400.0, 25403.0).inputFiles ++
        vt.readWhere(25760.0, 25763.0).inputFiles).distinct.length
      require(scanned < total,
        s"no file skipping at stress scale: scanned $scanned of $total")
      served.size.toLong
    }
    // 7a''''. The STREAMING side of the geo radius join at the same 40×
    // shapes (round-12): the exactly-once geoRadiusSink driven directly
    // with 4 facility micro-batches (the foreachBatch body IS what a
    // running query executes per trigger) against the 600k static
    // targets, plus one crash-replayed batch. Closed-form accounting:
    // the versioned table's pair set must equal the one-shot batch
    // kernel's EXACTLY (the kernel is stateless per facility, batches
    // partition the facilities), and the replay must change neither
    // contents nor version history.
    time("geo_stream_600k") {
      val nTgt = 3L * nDocs
      val nFac = (nDocs / 20).toLong
      val tgt = geoPtsOf(nTgt, 7L).localCheckpoint(true)
      val fac = geoPtsOf(nFac, 13L)
      val root = java.nio.file.Files
        .createTempDirectory("graft_stressgeostream").toString + "/t"
      import spark.implicits._
      val vt = graft.tables.VersionedTable.create(spark, root,
        Seq.empty[(Long, Long, Double)].toDF("sk", "ck", "d"))
      val sink = graft.streaming.StreamingOps.geoRadiusSink(tgt, vt, "stressgeo")
      (0L until 4L).foreach { b =>
        sink(fac.filter(pmod(col("k"), lit(4L)) === b), b)
      }
      val want = graft.operators.GeoOps.radiusPairsFrom(fac, tgt, 50.0).count()
      val got = vt.read().count()
      require(got == want, s"streamed pair total $got != batch kernel $want")
      val versionsBefore = vt.versions
      sink(fac.filter(pmod(col("k"), lit(4L)) === 3L), 3L) // replay batch 3
      require(vt.read().count() == want, "replayed geo batch duplicated pairs")
      require(vt.versions == versionsBefore, "replayed geo batch committed a version")
      got
    }
    // 7b. Perceptual (aHash) dedup over 200k media payloads — the
    // image-side analogue of SimHash: one typed decode+sketch pass, then
    // the SAME banded LSH + Hamming verify. Payloads are OPAQUE
    // pseudo-random bytes (128 B of unhex'd md5 chains), the byte-entropy
    // profile real encoded media has — NOT the word-salad doc texts: a
    // first draft sketched those and their near-identical byte-position
    // distributions put everything within hamming 8 of everything
    // (20.1M pairs — a measured demonstration that aHash needs
    // content-diverse input, kept here as the reason for this corpus).
    // Planted: every 50th payload is byte-identical to its predecessor —
    // its hash matches in every band and MUST surface at hamming 0;
    // unrelated random sketches sit at hamming ≈ 32, so the result stays
    // at planted scale and the band join stays bucket-bounded.
    time("ahash_dedup_200k") {
      import spark.implicits._
      def payloadOf(idCol: org.apache.spark.sql.Column) =
        unhex(concat((0 until 8).map(i =>
          md5(concat_ws(":", idCol, lit(i)).cast("binary"))): _*))
      val media = spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % 50 === 1, payloadOf(col("id") - 1))
          .otherwise(payloadOf(col("id"))).as("payload"))
      val sk = media.as[graft.operators.MultimodalOps.MediaIn]
        .mapPartitions(_.map(graft.operators.MultimodalOps.ahashSketch))
        .toDF()
      val pairs = graft.operators.LlmTextOps.simhashBandedPairs(sk, maxHamming = 8)
        .localCheckpoint(true)
      val planted = (nDocs - 2) / 50 // ids with id % 50 == 1 copy id - 1
      val zero = pairs.filter(col("hamming") === 0).count()
      require(zero >= planted,
        s"planted exact-payload dups missing: $zero hamming-0 pairs < $planted planted")
      val n = pairs.count()
      require(n < nDocs,
        s"pair count left planted scale ($n >= $nDocs): sketch space degenerated")
      n
    }

    // 8-10. GRAPH family at ~10x the sf0.1 edge volume (round-7): bulk
    // edges with POWER-LAW out-degree (src drawn via u^3 inverse-CDF, so
    // a few hub sources own most edges — the skew a real purchase graph
    // has) and uniform in-degree, PLUS planted probe structure in a
    // reserved id block (< 1000, disconnected from the bulk) so each op
    // must find exact planted answers, not just terminate.
    val nGraphEdges = (5000000 * scale).toLong // sf0.1 purchase edges ~600k
    val nGraphNodes = (50000 * scale).toLong
    def bulkEdges: DataFrame = spark.range(nGraphEdges).select(
      (floor(pow(pmod(xxhash64(col("id"), lit(1)), lit(1000000L)) / 1000000.0, 3.0)
        * nGraphNodes).cast("long") + 1000L).as("src"),
      (pmod(xxhash64(col("id"), lit(2)), lit(nGraphNodes)) + 1000L).as("dst"),
      lit(1.0).as("w"))

    // 8. k-hop BFS: 100 planted 2-chains (i -> i+100 -> i+200) in the
    // reserved block; every probe seed must reach EXACTLY its 2 chain
    // nodes — frontier expansion over 5M skewed edges must not leak
    // between components or drop hops.
    time("graph_khop_5m") {
      val probes = spark.range(100).select(col("id").as("src"),
          (col("id") + 100).as("dst"), lit(1.0).as("w"))
        .union(spark.range(100).select((col("id") + 100).as("src"),
          (col("id") + 200).as("dst"), lit(1.0).as("w")))
      val edges = bulkEdges.union(probes)
      val seeds = spark.range(100).select(col("id").as("seed"))
      val reach = graft.operators.GraphOps.khopReach(edges, seeds, 2)
        .where(col("id") =!= col("seed"))
        .groupBy("seed").agg(count(lit(1)).as("n")).collect()
      require(reach.length == 100 && reach.forall(_.getLong(1) == 2L),
        s"planted 2-hop chains not found exactly: ${reach.take(5).mkString(",")}")
      reach.length.toLong
    }
    // 9. PageRank: planted structure with ANALYTIC answers — 50 isolated
    // 2-cycles (ids 500..599, disconnected from the bulk) sit at the
    // fixed point rank = 1/n from round 0, so after 5 rounds each must
    // still be exactly 1/n (ulp noise only); total mass must stay a
    // distribution through all 5 join+agg rounds (no dangling leakage);
    // and the power-law hub must surface with rank far above uniform.
    time("graph_pagerank_5m") {
      val cycles = spark.range(50).select(
        (col("id") * 2 + 500L).as("src"), (col("id") * 2 + 501L).as("dst"), lit(1.0).as("w"))
      val e0 = bulkEdges.union(cycles)
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val pr = graft.operators.GraphOps.pageRank(edges).localCheckpoint(true)
      val n = pr.count()
      val mass = pr.agg(sum("rank")).collect()(0).getDouble(0)
      require(math.abs(mass - 1.0) < 1e-6, s"rank mass drifted: $mass")
      val planted = pr.filter(col("id").between(500L, 599L)).collect()
      require(planted.length == 100 &&
        planted.forall(r => math.abs(r.getDouble(1) - 1.0 / n) < 1e-12),
        s"isolated 2-cycles drifted off the 1/n fixed point (n=$n): " +
          planted.take(3).mkString(","))
      val top = pr.orderBy(col("rank").desc).limit(1).collect()(0)
      require(top.getDouble(1) > 20.0 / n, s"power-law hub not surfaced: $top (n=$n)")
      n
    }
    // 9b-9c. GRAPH family at 40x the sf0.1 edge volume (round-8): the
    // 24M-edge run the 100 TB extrapolation argument actually needs —
    // same power-law bulk and reserved planted block, DEEPER traversal
    // (3 hops) on the BFS so the frontier crosses more rounds, and the
    // same analytic PageRank invariants (fixed-point cycles, conserved
    // mass, surfaced hub) that cannot pass by accident.
    val nGraphEdges40 = (24000000 * scale).toLong // 40x sf0.1's ~600k
    val nGraphNodes40 = (200000 * scale).toLong
    def bulkEdges40: DataFrame = spark.range(nGraphEdges40).select(
      (floor(pow(pmod(xxhash64(col("id"), lit(11)), lit(1000000L)) / 1000000.0, 3.0)
        * nGraphNodes40).cast("long") + 1000L).as("src"),
      (pmod(xxhash64(col("id"), lit(12)), lit(nGraphNodes40)) + 1000L).as("dst"),
      lit(1.0).as("w"))

    // 9b. 3-hop BFS over 24M skewed edges: 100 planted 3-chains
    // (i -> i+100 -> i+200 -> i+300) in the reserved block; every seed
    // must reach EXACTLY its 3 chain nodes across three frontier rounds.
    time("graph_khop_24m") {
      val probes = spark.range(100).select(col("id").as("src"),
          (col("id") + 100).as("dst"), lit(1.0).as("w"))
        .union(spark.range(100).select((col("id") + 100).as("src"),
          (col("id") + 200).as("dst"), lit(1.0).as("w")))
        .union(spark.range(100).select((col("id") + 200).as("src"),
          (col("id") + 300).as("dst"), lit(1.0).as("w")))
      val edges = bulkEdges40.union(probes)
      val seeds = spark.range(100).select(col("id").as("seed"))
      val reach = graft.operators.GraphOps.khopReach(edges, seeds, 3)
        .where(col("id") =!= col("seed"))
        .groupBy("seed").agg(count(lit(1)).as("n")).collect()
      require(reach.length == 100 && reach.forall(_.getLong(1) == 3L),
        s"planted 3-hop chains not found exactly: ${reach.take(5).mkString(",")}")
      reach.length.toLong
    }
    // 9c. PageRank at 24M edges: identical invariants to item 9 — the
    // isolated 2-cycles must sit on the 1/n fixed point through all 5
    // rounds, total mass must stay a distribution, and the power-law hub
    // must surface. What changes at 40x is only what SHOULD change:
    // shuffle volume per round.
    time("graph_pagerank_24m") {
      val cycles = spark.range(50).select(
        (col("id") * 2 + 500L).as("src"), (col("id") * 2 + 501L).as("dst"), lit(1.0).as("w"))
      val e0 = bulkEdges40.union(cycles)
      val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      val pr = graft.operators.GraphOps.pageRank(edges).localCheckpoint(true)
      try {
        val n = pr.count()
        val mass = pr.agg(sum("rank")).collect()(0).getDouble(0)
        require(math.abs(mass - 1.0) < 1e-6, s"rank mass drifted: $mass")
        val planted = pr.filter(col("id").between(500L, 599L)).collect()
        require(planted.length == 100 &&
          planted.forall(r => math.abs(r.getDouble(1) - 1.0 / n) < 1e-12),
          s"isolated 2-cycles drifted off the 1/n fixed point (n=$n): " +
            planted.take(3).mkString(","))
        val top = pr.orderBy(col("rank").desc).limit(1).collect()(0)
        require(top.getDouble(1) > 20.0 / n, s"power-law hub not surfaced: $top (n=$n)")
        n
      } finally org.apache.spark.sql.graftnative.CheckpointRelease.release(pr)
    }

    // 9d. Connected components at the same 24M-edge volume (round-8's
    // graph_components key): the node universe is partitioned into
    // 1000-node blocks — intra-block CHAIN edges make each block
    // connected (and give the labeling a 1000-deep backbone, so the
    // pointer-jumping O(log n) argument is exercised at volume, not just
    // on the 60-node unit chain), and 24M random INTRA-block edges add
    // shuffle volume without ever bridging blocks. The fixed point is
    // fully analytic: exactly nodes/1000 components, each of size 1000,
    // labeled by its block's min node id.
    time("graph_components_24m") {
      val block = 1000L
      // the analytic census needs a whole number of blocks: round the
      // node universe DOWN to a block multiple (a free-form rowsScale
      // like 1.2345 would otherwise generate trailing-partial-block
      // edges to phantom ids and fail the require with a misleading
      // "off the fixed point" message)
      val nCcNodes = math.max(block, (nGraphNodes40 / block) * block)
      val chain = spark.range(nCcNodes - 1)
        .filter((col("id") + 1) % block =!= 0)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val bulk = spark.range(nGraphEdges40)
        .select(pmod(xxhash64(col("id"), lit(21)), lit(nCcNodes)).as("a_id"),
          pmod(xxhash64(col("id"), lit(22)), lit(block)).as("off"))
        .select(col("a_id"),
          ((col("a_id") - pmod(col("a_id"), lit(block))) + col("off")).as("b_id"))
      val labels = graft.operators.LlmTextOps
        .connectedComponents(chain.union(bulk))
      try {
        val census = labels.groupBy("comp").agg(count(lit(1)).as("n")).collect()
        require(census.length == (nCcNodes / block).toInt,
          s"expected ${nCcNodes / block} block components, got ${census.length}")
        require(census.forall(r => r.getLong(0) % block == 0 && r.getLong(1) == block),
          s"component census off the analytic fixed point: ${census.take(3).mkString(",")}")
        census.length.toLong
      } finally org.apache.spark.sql.graftnative.CheckpointRelease.release(labels)
    }

    // 10. Co-purchase pairs: 4-item uniform baskets plus 500 planted
    // baskets containing the pair (7, 9) — the top co-occurring pair
    // must be exactly (7, 9, 500) after the per-basket pair expansion
    // and TakeOrderedAndProject top-k.
    time("graph_copurchase_4m") {
      val nBaskets = (1000000 * scale).toLong
      val bulk = spark.range(nBaskets * 4).select(
        (col("id") / 4).as("oid"),
        (pmod(xxhash64(col("id"), lit(3)), lit(20000L)) + 1000L).as("pid"))
      val planted = spark.range(500).select((col("id") + nBaskets).as("oid"), lit(7L).as("pid"))
        .union(spark.range(500).select((col("id") + nBaskets).as("oid"), lit(9L).as("pid")))
      val items = bulk.union(planted)
      val pairs = items.as("a").join(items.as("b"),
          col("a.oid") === col("b.oid") && col("a.pid") < col("b.pid"))
        .groupBy(col("a.pid").as("p1"), col("b.pid").as("p2"))
        .agg(count(lit(1)).as("n"))
      val top = pairs.orderBy(col("n").desc, col("p1"), col("p2")).limit(1).collect()(0)
      require(top.getLong(0) == 7L && top.getLong(1) == 9L && top.getLong(2) == 500L,
        s"planted heavy pair not on top: $top")
      500L
    }

    // 11-13. JOIN/WINDOW family at 10-20x fixture row volume (round-7b):
    // the three shuffle shapes every TPC-H-style workload leans on —
    // sort-merge as-of, broadcast star, window top-k — each with an
    // ANALYTIC planted answer so a silently-wrong shuffle can't pass.

    // 11. Native as-of join, 5M ticks x 500k quotes over 1000 keys.
    // Quotes sit on a regular 1000-tick grid per key (quote q at ts
    // q*1000, quote_id q), so the backward as-of match for a tick at ts
    // tau is ANALYTICALLY quote floor(tau/1000) — verified for every one
    // of the 5M output rows distributively (mismatch count must be 0).
    time("asof_join_5m") {
      val nTicks = (5000000 * scale).toLong
      val ticks = spark.range(nTicks).select(
        col("id").as("tick_id"),
        pmod(col("id"), lit(1000L)).as("k"),
        pmod(xxhash64(col("id"), lit(11)), lit(500000L)).as("tick_ts"))
      val quotes = spark.range(500L * 1000L).select(
        pmod(col("id"), lit(1000L)).as("qk"),
        (floor(col("id") / 1000L) * 1000L).as("quote_ts"),
        floor(col("id") / 1000L).as("quote_id"))
      val joined = org.apache.spark.sql.graftnative.AsOfJoinApi
        .asofJoin(ticks, quotes, "k", "qk", "tick_ts", "quote_ts", "quote_id")
      val bad = joined.filter(col("quote_id") =!= floor(col("tick_ts") / 1000L)).count()
      require(bad == 0L, s"as-of matched wrong quote on $bad of $nTicks rows")
      val n = joined.count()
      require(n == nTicks, s"as-of dropped/duplicated rows: $n of $nTicks")
      n
    }
    // 12. Broadcast star join, 10M facts x 3 dims. Fact keys are exact
    // residues (id % 10/7/13) so every per-dim1 group count is EXACTLY
    // nFact/10 and no row may be lost or fanned out; the plan must
    // broadcast all three dims (asserted on the executed plan).
    time("star_join_10m") {
      val nFact = (10000000 * scale).toLong
      val fact = spark.range(nFact).select(col("id"),
        pmod(col("id"), lit(10L)).as("k1"),
        pmod(col("id"), lit(7L)).as("k2"),
        pmod(col("id"), lit(13L)).as("k3"),
        pmod(col("id"), lit(100L)).as("v"))
      def dim(n: Long, key: String, name: String) =
        spark.range(n).select(col("id").as(key), concat(lit(name), col("id")).as(s"${name}_nm"))
      val star = fact
        .join(broadcast(dim(10, "d1", "a")), col("k1") === col("d1"))
        .join(broadcast(dim(7, "d2", "b")), col("k2") === col("d2"))
        .join(broadcast(dim(13, "d3", "c")), col("k3") === col("d3"))
        .groupBy("a_nm").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      val plan = star.queryExecution.executedPlan.toString
      require("BroadcastHashJoin".r.findAllIn(plan).size == 3,
        "star join did not broadcast all three dims")
      val rows = star.collect()
      require(rows.length == 10 && rows.forall(_.getLong(1) == nFact / 10),
        s"per-group counts drifted: ${rows.take(3).mkString(",")}")
      // sum(id % 100) over [0, nFact): nFact is a multiple of 100 at any
      // integer scale arg, so each residue appears nFact/100 times.
      if (nFact % 100 == 0)
        require(rows.map(_.getLong(2)).sum == (nFact / 100) * 4950L, "global sum drifted")
      nFact
    }
    // 13. Window top-k, 10M rows over ~10k groups: the rank-1 value from
    // the sort-based WindowExec must agree with the hash-aggregate max on
    // EVERY group — two independent physical plans cross-checking each
    // other at 20x fixture scale.
    time("win_topk_10m") {
      val nRows = (10000000 * scale).toLong
      val rows = spark.range(nRows).select(
        pmod(xxhash64(col("id"), lit(13)), lit(10000L)).as("g"),
        pmod(xxhash64(col("id"), lit(17)), lit(1000000000L)).as("v"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("v").desc)
      val top1 = rows.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("g"), col("v").as("win_max"))
      val agg = rows.groupBy("g").agg(max("v").as("agg_max"))
      val bad = top1.join(agg, "g")
        .filter(col("win_max") =!= col("agg_max")).count()
      require(bad == 0L, s"window top-1 disagrees with hash-agg max on $bad groups")
      val n = agg.count()
      require(n > 0); n
    }

    // 14. Portable HLL sketch at 20M rows (round-7b, after the oracle
    // promotion): distinct cardinality is EXACT by construction
    // (id % nDistinct over a long range covers every residue), so the
    // estimate has a closed-form truth to land within 5% of; the merge
    // path (8 partial sketches register-max'd) must equal the direct
    // global sketch EXACTLY — the mergeability contract at scale.
    time("hll_sketch_20m") {
      val nRows = (20000000 * scale).toLong
      val nDistinct = 3000000L // < nRows so every residue occurs
      val vals = spark.range(nRows).select(
        pmod(col("id"), lit(8L)).cast("string").as("part"),
        pmod(col("id"), lit(nDistinct)).as("v"))
      val direct = graft.operators.RelationalOps.hllEstimate(
        graft.operators.RelationalOps.hllRegisters(
          vals.withColumn("g", lit("all")), "g", col("v")), "g")
        .collect()(0).getLong(1)
      val merged = graft.operators.RelationalOps.hllEstimate(
        graft.operators.RelationalOps.hllRegisters(vals, "part", col("v"))
          .groupBy("reg").agg(max("mr").as("mr")).withColumn("g", lit("all")), "g")
        .collect()(0).getLong(1)
      require(merged == direct, s"merge broke at scale: $merged != $direct")
      val relErr = math.abs(direct.toDouble - nDistinct) / nDistinct
      require(relErr <= 0.05, s"HLL estimate $direct vs true $nDistinct (err $relErr)")
      direct
    }

    // 15. Fact-fact sort-merge join, 20M items x 4M orders (round-7c):
    // the one shuffle shape the broadcast star (12) can't stand in for —
    // both sides exceed any broadcast threshold, so the planner MUST
    // shuffle both on the join key (asserted). Exactly 5 items per order
    // and 4000 orders per customer by construction, so every per-customer
    // item count is EXACTLY 20000 and none of the 1000 groups may drift.
    time("smj_fact_fact_20m") {
      val nOrders = (4000000 * scale).toLong
      val items = spark.range(nOrders * 5).select(
        // floor-div, not `/`: Column./ on longs is DOUBLE division, and a
        // double oid equi-joined against a long oid silently matches only
        // the 1-in-5 integral quotients (the planted count caught this)
        floor(col("id") / 5).cast("long").as("oid"),
        pmod(col("id"), lit(100L)).as("value"))
      val orders = spark.range(nOrders).select(
        col("id").as("oid"), pmod(col("id"), lit(1000L)).as("cust"))
      // the row's POINT is the both-sides-shuffle shape — pin it at any
      // rowsScale (a fractional smoke run shrinks orders under the 10 MB
      // broadcast threshold, which used to flip the plan to broadcast and
      // trip the shape assert; at full scale the pin is a no-op because
      // both sides exceed any threshold anyway)
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = items.join(orders, "oid")
          .groupBy("cust").agg(count(lit(1)).as("n_items"))
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"fact-fact join must shuffle both sides, not broadcast:\n$plan")
        val rows = q.collect()
        require(rows.length == 1000 &&
          rows.forall(_.getLong(1) == nOrders / 1000L * 5L),
          s"per-customer counts drifted: ${rows.take(3).mkString(",")}")
        nOrders * 5
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
    // 16. BM25 retrieval at 200k docs (round-7c, with the graded kernel):
    // 20 query docs chosen from the planted exact-duplicate pairs
    // (doc q duplicates doc q-1 whenever q % 50 == 1), so each query's
    // rank-1 hit has a KNOWN identity — its twin, which shares all 40
    // terms at identical tf and maximal idf mass. The candidate join is
    // the same broadcast-postings plan the graded key ships; fan-out is
    // |queries|·Σ df, never corpus².
    time("bm25_retrieval_200k") {
      val queryIds = (0 until 20).map(i => 50L * (7 * i + 3) + 1L)
        .filter(_ < nDocs)
        // the twin must itself be pristine: a twin in the %73 family has
        // "changed " prepended, so it is a near- not exact-duplicate
        .filter(q => (q - 1) % 73 != 2).toSet
      require(queryIds.nonEmpty)
      val hits = graft.operators.LlmCorpusOps.bm25TopK(
          docs, col("doc_id").isInCollection(queryIds), 3)
        .filter(col("rank") === 1).collect()
      require(hits.length == queryIds.size,
        s"expected ${queryIds.size} rank-1 hits, got ${hits.length}")
      val wrong = hits.filterNot(r =>
        r.getAs[Long]("doc_id") == r.getAs[Long]("q_id") - 1L)
      require(wrong.isEmpty,
        s"planted twin not at rank 1 for: ${wrong.take(3).mkString(",")}")
      hits.length.toLong
    }

    // 17-18. STRUCTURED STREAMING at 10x fixture volume (round-7c): the
    // graded streaming cores driven through a REAL multi-micro-batch
    // execution (file source, maxFilesPerTrigger=1 -> 8 batches), not the
    // single-batch MemoryStream path the unit specs use. Both have
    // closed-form answers; 17 additionally cross-checks the incremental
    // streaming state against the independent batch hash-aggregate.
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stress-stream")
    def streamEvents(n: Long, dupEvery: Long): DataFrame = spark.range(n).select(
      // planted dups: event j (j % dupEvery == 1) replays event j-1
      when(pmod(col("id"), lit(dupEvery)) === 1, col("id") - 1)
        .otherwise(col("id")).as("event_id"),
      timestamp_micros(lit(1700000000000000L) +
        pmod(col("id"), lit(2000L)) * 3600000000L).as("ts"),
      // type keyed off id/2000 so (hour, type) is a FULL 2000x50 product
      // (id % 2000 and id % 50 alone would be nested residues: 50 | 2000)
      concat(lit("ev"), pmod(floor(col("id") / 2000).cast("long"), lit(50))).as("event_type"))

    // 17. Tumbling agg, 5M events through 8 micro-batches, 100k (window,
    // type) groups: id % 100000 fixes (hour, type), so every group count
    // is EXACTLY n/100000; complete-mode output must also equal the batch
    // twin group-for-group (incremental state vs one-shot hash agg).
    time("stream_tumbling_5m") {
      val n = nEvents
      val src = s"$streamDir/tumbling"
      streamEvents(n, Long.MaxValue).repartition(8).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamingOps.tumblingCounts(stream)
        .writeStream.format("memory").queryName("stress_tumbling")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("stress_tumbling")
      val groups = got.count()
      require(groups == 100000L, s"expected 100000 groups, got $groups")
      val off = got.filter(col("cnt") =!= n / 100000L).count()
      require(off == 0L, s"$off groups off the closed-form count ${n / 100000L}")
      val batch = graft.streaming.StreamingOps
        .tumblingCounts(spark.read.parquet(src))
      val diff = got.union(batch).groupBy("hour_start", "event_type", "cnt")
        .agg(count(lit(1)).as("c")).filter(col("c") =!= 2).count()
      require(diff == 0L, s"streaming state diverged from batch agg on $diff rows")
      groups
    }
    // 18. Watermark dedup, 5M events with 1-in-50 planted replays through
    // 8 micro-batches: dropDuplicatesWithinWatermark must emit exactly the
    // distinct event_ids (closed form: n - n/50) and no replay twice.
    time("stream_dedup_5m") {
      val n = nEvents
      val src = s"$streamDir/dedup"
      streamEvents(n, 50L).repartition(8).write.mode("overwrite").parquet(src)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      // watermark wider than the 2000h event-time span: no replay can be
      // late-dropped, so the output is exactly the distinct id set
      val q = graft.streaming.StreamingOps.dedupStream(stream, "4000 hours")
        .writeStream.format("memory").queryName("stress_dedup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table("stress_dedup")
      val distinctIds = got.select("event_id").distinct().count()
      val emitted = got.count()
      val expect = n - n / 50L
      require(emitted == expect && distinctIds == expect,
        s"dedup emitted $emitted rows / $distinctIds ids, expected $expect")
      emitted
    }

    // 18b. Streaming portable-HLL distinct (round-9's hllDistinctStream)
    // at 5M events / 48 hourly windows through 9 ordered micro-batches.
    // Unlike rows 17-18 (complete mode, where the watermark drops
    // nothing), this op is Append + EventTimeTimeout, so event time must
    // be MONOTONE across batches: chunks are written sequentially (file
    // source orders by modification time), each covering the next 6
    // hours, plus a far-future sentinel to close the tail windows. The
    // claim under test: per-window register state folded incrementally
    // across micro-batches estimates EXACTLY what the batch
    // hllRegisters→hllEstimate frame computes on the same rows (the
    // bit-identity contract, at 10x volume and in the raw-HLL branch the
    // fixture unit test can't reach), and every estimate lands within
    // HLL's error envelope of the true distinct.
    time("stream_hll_5m") {
      val n = nEvents
      val src = s"$streamDir/hll"
      val hoursPerChunk = 6L
      def chunk(c: Long): DataFrame = spark.range(n / 8).select(
        timestamp_micros(lit(1700000000000000L) +
          (lit(c * hoursPerChunk) + pmod(col("id"), lit(hoursPerChunk))) * 3600000000L).as("ts"),
        pmod(xxhash64(col("id") + lit(c * 7777777L)), lit(200000L)).as("user_id"))
      // the file source orders batches by modification time with
      // path-order tie-breaking — stamp each append with an explicitly
      // increasing mtime so a same-millisecond tie can never schedule
      // the sentinel (or any chunk) early and late-drop real windows
      val stamped = scala.collection.mutable.Set.empty[String]
      def stampNew(order: Int): Unit =
        new java.io.File(src).listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !stamped(f.getName))
          .foreach { f =>
            f.setLastModified(1700000000000L + order * 60000L); stamped += f.getName
          }
      (0L until 8L).foreach { c =>
        chunk(c).coalesce(1).write.mode("append").parquet(src); stampNew(c.toInt)
      }
      spark.range(1).select(
        timestamp_micros(lit(1700000000000000L + 100L * 3600000000L)).as("ts"),
        lit(0L).as("user_id")).coalesce(1).write.mode("append").parquet(src)
      stampNew(8)
      val stream = spark.readStream
        .schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = graft.streaming.StreamingOps.hllDistinctStream(stream)
        .writeStream.format("memory").queryName("stress_hll")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val rows = spark.table("stress_hll").collect()
      // length BEFORE toMap: a duplicate per-window emission must fail
      // the exactly-once claim, not be silently collapsed by the Map
      require(rows.length == 48, s"expected 48 exactly-once windows, got ${rows.length}")
      val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(got.size == 48, s"expected 48 closed windows, got ${got.size}")
      // batch truth on the same rows (sentinel's unclosed window excluded)
      val batchDf = spark.read.parquet(src)
        .filter(col("ts") < timestamp_micros(lit(1700000000000000L + 48L * 3600000000L)))
        .withColumn("w", expr("date_trunc('hour', ts)"))
      val est = graft.operators.RelationalOps.hllEstimate(
          graft.operators.RelationalOps.hllRegisters(batchDf, "w", col("user_id")), "w")
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      require(est.keySet == got.keySet, "window sets diverged")
      val off = got.count { case (w, e) => est(w) != e }
      require(off == 0L, s"$off windows: streaming state != batch register frame")
      val exact = batchDf.groupBy("w").agg(countDistinct("user_id").as("nd"))
        .collect().map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
      val worst = got.map { case (w, e) =>
        math.abs(e - exact(w)).toDouble / exact(w) }.max
      require(worst <= 0.2, f"worst window rel-err $worst%.3f beyond the HLL envelope")
      got.size.toLong
    }
    org.apache.commons.io.FileUtils.deleteQuietly(streamDir.toFile)

    // 19. The PQ/IVF codebook trainer (PortableQuantizer.train) at 50x
    // its production sample: 50k 64-dim points. The corpus is 16 exact
    // atoms (every point IS one atom), so init sees exactly k distinct
    // points and every cluster mean is its quantized atom: the trainer
    // must return the 16 quantized atoms EXACTLY. The claim stress-tested
    // here is the distributed iteration path (row-local integer argmin
    // assignment + the per-cluster integer sums and the one rounding
    // re-mean) at volume — atom recovery makes any drift in that
    // arithmetic visible as a hard mismatch, not a quality degradation.
    time("lloyd_train_50k") {
      val kC = 16
      val dim = 64
      // atoms on the 1/512 grid, quantized by the trainer's own quantArr
      val planted: Array[Array[Double]] = Array.tabulate(kC, dim)((j, t) =>
        ((j * 8191 + t * 127) % 1000) / 512.0 - 1.0)
      val centLit = typedlit(planted.map(_.toSeq).toSeq)
      val atoms = spark.range(kC).select(graft.operators.PortableQuantizer
          .quantArr(element_at(centLit, col("id").cast("int") + 1)))
        .collect().map(_.getSeq[Long](0).toSeq).toSet
      require(atoms.size == kC, s"planted atoms collide after quantization: ${atoms.size}")
      val pts = spark.range(nVecs).select(
        lit(0).as("m"), col("id"),
        graft.operators.PortableQuantizer.quantArr(
          element_at(centLit, pmod(col("id"), lit(kC)).cast("int") + 1)).as("q"))
      val learned = graft.operators.PortableQuantizer.train(pts, kC)(0)
        .map(_.toSeq).toSet
      require(learned == atoms,
        s"quantized atoms not recovered exactly: ${(atoms -- learned).size} missing")
      nVecs
    }

    // 12. Bloom file skipping at 192 files / 1M keys (hash layout — the
    // case where min/max range stats are provably useless). Claims: (a)
    // every present key found exactly once THROUGH the pruned file list
    // (no false negatives at volume), (b) the average point lookup LISTS
    // a small fraction of the table's files (~1 owning file + ~1% fpp
    // over the rest; per-file key counts here sit at the 8 KB bloom's
    // designed ~5k-keys/file operating point).
    time("vt_bloom_1m") {
      val vroot = java.nio.file.Files
        .createTempDirectory("graft_stress_bloom").toString + "/t"
      val nB = (1000000 * scale).toLong
      val tb = graft.tables.VersionedTable.create(spark, vroot,
        spark.range(nB).select(col("id"), pmod(col("id"), lit(1000)).as("v"))
          .repartition(192, col("id")),
        bloomCol = Some("id"))
      val nFiles = tb.read().inputFiles.length
      require(nFiles >= 150, s"expected ~192 data files, got $nFiles")
      println(s"[stress] vt_bloom_1m head manifest: ${java.nio.file.Files.size(java.nio.file.Paths
        .get(vroot, "_manifests", f"v${tb.currentVersion}%08d.json"))} bytes, $nFiles files")
      val keys = (0 until 20).map(i => (nB / 20) * i + i)
      var listed = 0
      keys.foreach { k =>
        listed += tb.pruneFilesEq(k).size
        val got = tb.readWhereEq(k).collect()
        require(got.length == 1 && got(0).getLong(0) == k,
          s"bloom lookup lost/duplicated key $k: ${got.mkString(",")}")
      }
      val avg = listed.toDouble / keys.size
      require(avg <= nFiles * 0.15,
        s"bloom skipping ineffective: avg $avg of $nFiles files listed")
      nB
    }

    // 19b. Compaction UNDER CONCURRENT APPEND churn (round-12): 4
    // appender threads × 5 disjoint-range appends race a maintenance
    // thread running compact(4) three times, then a vacuum reclaims the
    // churn. Closed-form accounting: the final snapshot must hold
    // exactly initial + 20·perAppend rows (no commit race and no
    // compaction rewrite may lose a writer's rows), the PRE-churn
    // version must time-travel to its exact (count, sum) AFTER the
    // compactions (compaction commits new manifests, it never touches
    // old versions' files until vacuum), idempotent txns must survive
    // the vacuum, and the vacuum must actually reclaim the superseded
    // pre-compaction files.
    time("vt_compact_churn") {
      val vroot = java.nio.file.Files
        .createTempDirectory("graft_stress_compact").toString + "/t"
      val per = math.max(1000L, nDocs / 10)
      def slab(w: Int, i: Int) = spark.range(per).select(
        (col("id") + lit((w * 5 + i + 1) * per * 10)).as("id"),
        pmod(col("id"), lit(1000)).as("v"))
      val tc = graft.tables.VersionedTable.create(spark, vroot,
        spark.range(per).select(col("id"), pmod(col("id"), lit(1000)).as("v")))
      val v0 = tc.currentVersion
      val c0 = tc.read(Some(v0)).count()
      val s0 = tc.read(Some(v0)).agg(sum("v")).collect()(0).getLong(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      try {
        val writers = (0 until 4).map { w =>
          pool.submit(new Runnable {
            def run(): Unit = (0 until 5).foreach(i => tc.append(slab(w, i)))
          })
        }
        val maintenance = pool.submit(new Runnable {
          def run(): Unit = (0 until 3).foreach { _ =>
            tc.compact(target = 4); Thread.sleep(50)
          }
        })
        (writers :+ maintenance).foreach(_.get())
      } finally pool.shutdown()
      val want = c0 + 4L * 5L * per
      val got = tc.read().count()
      require(got == want, s"rows lost under compaction churn: $got != $want")
      // time-travel across the compaction boundary: the pre-churn
      // version still reads its exact snapshot
      require(tc.read(Some(v0)).count() == c0 &&
        tc.read(Some(v0)).agg(sum("v")).collect()(0).getLong(0) == s0,
        "pre-compaction version drifted under churn")
      // txn -> vacuum -> replay: exactly-once must survive retention
      val vtxn = tc.appendIdempotent(slab(9, 0), "churn:1")
      val reclaimed = tc.vacuum(keepVersions = 1, retentionMs = 0L)
      require(reclaimed > 0, "vacuum reclaimed nothing after 3 compactions")
      require(tc.appendIdempotent(slab(9, 0), "churn:1") == tc.currentVersion &&
        tc.read().count() == want + per,
        "idempotent txn lost across vacuum")
      require(vtxn <= tc.currentVersion, "version counter went backwards")
      got
    }

    // 20. Basket-affinity pair kernel at 24M (basket, item) rows — 40x
    // the sf0.1 lineitem grain behind round-8's basket_affinity key. The
    // scale claim under test: candidate fan-out is Σ(basket-width²),
    // NEVER corpus² — widths control everything. Three planted
    // populations make that analytic:
    //  - 4M organic 6-item baskets over a 100k-item catalog (pair
    //    support across baskets is birthday-rare at this catalog size);
    //  - 50 wide-basket ADVERSARIES (width 200, each on its own disjoint
    //    item block): they must contribute EXACTLY 50·C(200,2) = 995,000
    //    candidate pairs — the Σwidth² bound, verified as an equality,
    //    not a ceiling — and ZERO survivors, because every adversary
    //    pair occurs once and the n_ab ≥ 2 support filter is what holds
    //    the output at planted scale;
    //  - one winner pair co-occurring in 100 dedicated 2-item baskets
    //    and nowhere else: lift = N/100, far above any organic pair
    //    (an organic lift rival would need an item seen ~2 times in 24M
    //    draws of mean 240 — Poisson-impossible), so it must rank 1.
    time("basket_pairs_24m") {
      val nRows = (24000000 * scale).toLong
      val nCat = 100000L
      val advBase = 10000000000L // basket-id block far above the organic range
      val w1 = 9000000L
      val regular = spark.range(nRows).select(
        expr("id DIV 6").as("ok"),
        pmod(xxhash64(col("id"), lit(21)), lit(nCat)).as("pk"))
      val adversary = spark.range(50L * 200L).select(
        (lit(advBase) + expr("id DIV 200")).as("ok"),
        (lit(nCat) + col("id")).as("pk")) // items unique per row: width 200, support 1
      val winner = spark.range(200).select(
        (lit(advBase) + 1000L + expr("id DIV 2")).as("ok"),
        (lit(w1) + pmod(col("id"), lit(2))).as("pk"))
      // persisted: four verification actions below (adversary candidate
      // count, survivor count, top-1, final census) would otherwise each
      // replay the 24M-row distinct + self-join — the timing would then
      // measure ~4 kernel recomputations, not the kernel
      val dpk = regular.union(adversary).union(winner).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = dpk.select(countDistinct("ok")).head().getLong(0)
      val pairsAll = dpk.as("a")
        .join(dpk.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("a_id"), col("b.pk").as("b_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val inAdv = col("a_id") >= nCat && col("a_id") < nCat + 50L * 200L
      val advCand = pairsAll.filter(inAdv).count()
      require(advCand == 50L * (200L * 199L / 2L),
        s"adversary candidate volume broke the exact Σwidth² bound: $advCand")
      val pairs = pairsAll.groupBy("a_id", "b_id")
        .agg(count(lit(1)).as("n_ab")).filter(col("n_ab") >= 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val advSurvivors = pairs.filter(inAdv).count()
      require(advSurvivors == 0L,
        s"support filter leaked $advSurvivors single-occurrence adversary pairs")
      val cnt = dpk.groupBy("pk").agg(count(lit(1)).as("np"))
      val top = pairs
        .join(cnt.select(col("pk").as("a_id"), col("np").as("n_a")), "a_id")
        .join(cnt.select(col("pk").as("b_id"), col("np").as("n_b")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_ab"),
          ((col("n_ab") * lit(n)).cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("lift"))
        .orderBy(col("lift").desc, col("a_id"), col("b_id")).limit(1).collect()(0)
      require(top.getLong(0) == w1 && top.getLong(1) == w1 + 1 && top.getLong(2) == 100L,
        s"planted winner pair not at rank 1: $top")
      val out = advCand + pairs.count()
      pairs.unpersist(); pairsAll.unpersist(); dpk.unpersist()
      out
    }

    // 21. ScalePrimitives.distRunning/distNtile at 8M rows (round-9's
    // pinned-partitioner rank/prefix-sum machinery, the replacement for
    // every data-grain unpartitioned window). The input value column is
    // a PERMUTATION of 0..n-1 (id·P mod n, P coprime to n), so the truth
    // is closed-form AT EVERY ROW: rank(v) = v+1, running sum = v(v+1)/2,
    // and with 40 | n each ntile(5) bucket holds exactly n/5 rows. Any
    // boundary-resampling inconsistency between the totals pass and the
    // output pass (the failure mode the pinned .rdd plan exists to
    // prevent — observed live on the in-plan design at sf0.1) lands as a
    // hard per-row mismatch here, at 5333x that scale.
    time("dist_running_8m") {
      val n = math.max(40L, (8000000 * scale).toLong / 40L * 40L)
      // id·p mod n is a permutation iff gcd(p, n) = 1 — a free-form
      // rowsScale can hand n any factor, so find the first coprime odd p
      val p = Iterator.iterate(2654435761L)(_ + 2)
        .find(x => BigInt(x).gcd(BigInt(n)) == 1).get
      val perm = spark.range(n).select(col("id").as("k"),
        pmod(col("id") * p, lit(n)).as("v"))
      val run = graft.operators.ScalePrimitives
        .distRunning(perm, Seq(col("v")), "rnk", Seq("v"), Seq("cv"))
      val bad = run.filter(col("rnk") =!= col("v") + 1 ||
        col("cv") =!= expr("(v * (v + 1)) DIV 2")).count()
      require(bad == 0L, s"$bad rows off the closed-form rank/prefix truth")
      val tiles = graft.operators.ScalePrimitives
        .distNtile(perm, 5, "t", col("v"))
        .groupBy("t").count().collect().sortBy(_.getInt(0))
      require(tiles.length == 5 && tiles.forall(_.getLong(1) == n / 5),
        s"ntile buckets drifted from n/5: ${tiles.mkString(",")}")
      n
    }

    // 21b. ScalePrimitives.distRunningBy at 8M rows over FIVE groups —
    // the round-12 per-group twin, at exactly the shape the retired
    // o_orderstatus windows now ride (a handful of groups over a
    // data-grain input, each group spanning MANY range partitions, so
    // the per-partition suffix-partial carry chain is the load-bearing
    // machinery). Within each group the value column is a permutation
    // of 0..m-1, so the per-group truth is closed-form at every row:
    // rank(v) = v+1 and running-sum(v) = v(v+1)/2 — for the exact LONG
    // sums AND the double sums (integer-valued doubles < 2^53 add
    // exactly under any association, so the double column's closed form
    // is BIT-exact, carry boundaries included).
    time("dist_running_by_8m") {
      val g = 5L
      val n = math.max(200L, (8000000 * scale).toLong / 200L * 200L)
      val m = n / g
      val p = Iterator.iterate(2654435761L)(_ + 2)
        .find(x => BigInt(x).gcd(BigInt(m)) == 1).get
      val perm = spark.range(n).select(
          concat(lit("s"), pmod(col("id"), lit(g))).as("grp"),
          pmod(expr(s"id DIV $g") * p, lit(m)).as("v"))
        .withColumn("x", col("v").cast("double"))
      val run = graft.operators.ScalePrimitives.distRunningBy(perm, "grp",
        Seq(col("v")), "rnk", Seq("v"), Seq("cv"), Seq("x"), Seq("cx"))
      val bad = run.filter(col("rnk") =!= col("v") + 1 ||
        col("cv") =!= expr("(v * (v + 1)) DIV 2") ||
        col("cx") =!= expr("CAST((v * (v + 1)) DIV 2 AS DOUBLE)")).count()
      require(bad == 0L, s"$bad rows off the per-group closed-form truth")
      n
    }

    // 21c. ScalePrimitives.distQuantilesBy at 8M rows — the round-12
    // order its siblings (21/21b) already delivered, two rounds late. It
    // is load-bearing under win_median and llm_ccnet_buckets, and its
    // boundary arithmetic (per-group size/offset → bracketing GLOBAL
    // ranks → broadcast rank-probe join → linear interpolation) is
    // exactly the kind that works at fixture scale and drifts at range-
    // partition boundaries. Plant: five groups, each a PERMUTATION of
    // 0..m-1, so the value at global rank r in group i is r − i·m − 1
    // and EVERY quantile has a closed form. The truth below replicates
    // the engine's own double-op order (pos = (off+1)+(n−1)·p, frac =
    // pos − ⌊pos⌋, q = lo + frac·(hi − lo)) so the assert is BIT-exact —
    // any off-by-one in a bracketing rank lands as a full ±1.0 error,
    // far above any representation noise.
    time("dist_quantiles_by_8m") {
      val g = 5L
      val n = math.max(200L, (8000000 * scale).toLong / 200L * 200L)
      val m = n / g
      val p = Iterator.iterate(2654435761L)(_ + 2)
        .find(x => BigInt(x).gcd(BigInt(m)) == 1).get
      val perm = spark.range(n).select(
        concat(lit("s"), pmod(col("id"), lit(g))).as("grp"),
        pmod(expr(s"id DIV $g") * p, lit(m)).as("v"))
      val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.9, 1.0)
      val got = graft.operators.ScalePrimitives
        .distQuantilesBy(perm, "grp", "v", ps)
        .collect() // bounded: |groups|·|ps| = 30 rows
      require(got.length == (g * ps.length).toInt,
        s"expected ${g * ps.length} (group,p) rows, got ${got.length}")
      // groups sort lexicographically "s0" < … < "s4" (= numerically for
      // g ≤ 10), so group i's exclusive global-rank offset is i·m
      val truth: Map[(String, Long), Long] = (for {
        i <- 0L until g; pq <- ps
      } yield {
        val pos = (i * m + 1).toDouble + ((m - 1).toDouble * pq)
        val lo = math.floor(pos).toLong
        val hi = math.ceil(pos).toLong
        val frac = pos - lo.toDouble
        val lov = lo - i * m - 1
        val hiv = hi - i * m - 1
        val q = lov.toDouble + frac * (hiv - lov).toDouble
        (s"s$i", java.lang.Double.doubleToLongBits(pq)) ->
          java.lang.Double.doubleToLongBits(q)
      }).toMap
      val off = got.filterNot { r =>
        truth.get((r.getString(0),
          java.lang.Double.doubleToLongBits(r.getDouble(1))))
          .contains(java.lang.Double.doubleToLongBits(r.getDouble(2)))
      }
      require(off.isEmpty,
        s"${off.length} (group,p) quantiles off the closed form, e.g. ${off.take(3).mkString("; ")}")
      n
    }

    val total = results.values.sum
    val json = results.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    }.mkString("{", ",", s""","total":${String.format(java.util.Locale.ROOT, "%.2f", Double.box(total))},"scale":$scale}""")
    println(s"[stress-summary] $json")
    spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Portable INTEGER-EXACT vector quantization — the graded path for the
  * IVF and PQ ANN entries (round-7 promotion off the no-oracle list, the
  * same discipline as the portable HLL / CMS / SimHash / LSH promotions:
  * replace the one non-portable ingredient with exact integer arithmetic
  * both engines reproduce bit-for-bit, keep the algorithm itself).
  *
  * It is the engine's only vector quantizer: one trainer ([[train]]),
  * one encoder ([[pqCodes]]) and one search ([[pqSearch]]), serving the
  * graded keys and the streaming ANN sink alike. The trainer is Lloyd's
  * k-means with two ingredients made portable, so a SQL oracle can
  * replay it bit-for-bit:
  *
  *  - INIT: instead of a seeded shuffle of the distinct training points,
  *    rank them by `(md5int60(m ":" r0), r0)` and take the first k — a
  *    hash IS a portable seeded shuffle (md5 is identical everywhere;
  *    the engine already uses this for the LSH hyperplanes and the HLL
  *    register hash). `r0` = first-occurrence vec_id of each distinct
  *    vector, so duplicate vectors can't waste codebook capacity.
  *  - ARITHMETIC: components are quantized once to `floor(x*1e6 + 0.5)`
  *    int64 (the emb_quantize_int8 floor discipline; exact same IEEE ops
  *    in both engines). All distances are then exact BIGINT sums —
  *    order-independent, parallel-safe, no float-summation-order hazard
  *    at any cluster layout. Magnitudes: |qv| ≤ ~1e6, so a 64-dim
  *    squared distance is ≤ 64·(2e6)² ≈ 2.6e14 ≪ 2^63. Re-mean is the
  *    one float touch per centroid component: `floor(sum/cnt + 0.5)`
  *    where sum ≤ 2e9 is exact in a double and the divide is a single
  *    IEEE op — bit-identical cross-engine by construction.
  *
  * Both graded entries keep their 100 TB shape:
  *  - training reads a bounded sample (first [[TrainSample]]
  *    vec_ids — O(1) in the corpus, the FAISS posture); per Lloyd's round
  *    the executors do one map + one ≤ groups·k·dim-row reduce, and the
  *    driver holds MODEL STATE only (the k centroids), never vectors;
  *  - assignment / encoding is a row-local literal-codebook argmin — a
  *    map-only projection over the corpus, no shuffle, no training jobs.
  *
  * The DuckDB oracles replay training with the iterations unrolled as
  * CTEs (the llm_bpe_train pattern), in long (id, m, si, qv) form so the
  * whole replay is joins + group-bys on integers. Validated value-exact
  * against an independent scalar reference at sf0.001/sf0.01/sf0.1.
  */
object PortableQuantizer {
  /** PQ layout: [[NumSub]] contiguous subvectors of [[SubDim]] components
    * (NumSub · SubDim = the 64-dim embedding), [[K]] codewords per
    * codebook; the ADC scan keeps [[Shortlist]] candidates per query for
    * the exact re-rank; codebooks train on the [[TrainSample]] smallest
    * vec_ids. */
  val NumSub = 16
  val SubDim = 4
  val K = 16
  val Shortlist = 40
  val TrainSample = 1024

  /** Component quantization scale: 1e-6 resolution on unit-norm-ish
    * embedding components keeps full float32 precision (~7 decimal
    * digits) while making every downstream distance exact int64. */
  // single-sourced from the native kernel so eval/codegen/HOF/oracle can
  // never disagree on the fixed-point scale
  private val Scale = org.apache.spark.sql.graftnative.QuantizedCodes.Scale
  private val ScaleSql = Scale.toLong.toString
  /** Lloyd's rounds. Measured on the fixtures: recall@10 of the PQ path
    * is flat from 3 rounds up (the shortlist, not the codebook, binds),
    * and the IVF buckets are balanced (max/min ≈ 1.9 at sf0.1). */
  private val Iters = 3

  /** float embedding array → quantized BIGINT array (row-local). */
  def quantArr(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(Scale) + lit(0.5)).cast("long"))

  /** Position-first argmin of exact integer squared distance against a
    * literal codebook (rides into the plan — no shuffle, no model). */
  private def argminInt(cbLit: Column, q: Column): Column = {
    val dists = transform(cbLit, c =>
      aggregate(zip_with(q, c, (x, y) => (x - y) * (x - y)),
        lit(0L), (a, v) => a + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Distributed integer Lloyd's over a grouped training frame
    * (m, id, q: array<long>): all groups train in the same jobs; the
    * driver collects only centroids (≤ groups·k·dim values/round). */
  private[graft] def train(pts: DataFrame, k: Int,
      iters: Int = Iters): Map[Int, Array[Array[Long]]] = {
    trainRuns.incrementAndGet()
    // the small frame is re-read 1 + iters times — checkpoint once
    val p = pts.localCheckpoint(true)
    try {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("m").orderBy("h", "r0") // bounded by TrainSample rows
      val init = p.groupBy("m", "q").agg(min("id").as("r0"))
        .withColumn("h",
          conv(substring(md5(concat(col("m").cast("string"), lit(":"),
            col("r0").cast("string")).cast("binary")), 1, 15), 16, 10)
            .cast("long"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("m", "rn", "q").collect() // ≤ groups·k rows — model state
      var cent: Map[Int, Array[Array[Long]]] = init
        .groupBy(_.getInt(0)).map { case (m, rows) =>
          m -> rows.sortBy(_.getInt(1)).map(_.getSeq[Long](2).toArray)
        }
      val nGroups = cent.keys.max + 1
      (1 to iters).foreach { _ =>
        val cbLit = typedlit(Seq.tabulate(nGroups)(m =>
          cent(m).map(_.toSeq).toSeq))
        val sums = p
          .withColumn("code", argminInt(get(cbLit, col("m")), col("q")))
          .select(col("m"), col("code"), posexplode(col("q")))
          .groupBy("m", "code", "pos")
          .agg(sum("col").as("s"), count(lit(1)).as("n"))
          .collect() // ≤ groups·k·dim rows — model state, never vectors
        // empty clusters keep their previous centroid (absent from sums)
        val next = cent.map { case (m, cs) => m -> cs.map(_.clone()) }
        sums.foreach { r =>
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            math.floor(r.getLong(3).toDouble / r.getLong(4) + 0.5).toLong
        }
        cent = next
      }
      cent
    } finally org.apache.spark.sql.graftnative.CheckpointRelease.release(p)
  }

  /** Lloyd's-invocation counter — the spec hook proving the persisted-
    * index serve path (ann_ivf_persisted) never retrains. */
  private[graft] val trainRuns = new java.util.concurrent.atomic.AtomicLong

  /** Persist the trained ANN index into a `graft-vt` versioned table in
    * ONE commit carrying the IVF coarse codebook and the PQ codebooks.
    * Schema (kind, m, k, vals): ("ivf", 0, bucket, centroid) and
    * ("pq", subspace, code, centroid) — one table, so every version is a
    * whole index and a stale corpus re-versions it whole.
    *
    * Durability is the ROOT's durability: under the graded harness the
    * root is a per-JVM temp dir (fixture hygiene — nothing may outlive a
    * bench/verify run), so "no retraining" holds across SESSIONS of one
    * JVM; a production deployment points [[indexRootAt]] at a durable
    * path, where the build-if-absent check makes a restarted PROCESS
    * reopen the committed index instead of re-running Lloyd's —
    * restart-equivalence is what VtDataSourceSpec drives (fresh session
    * + a second bootstrap against an already-committed root, zero
    * trainRuns either way). */
  def indexRoot(s: SparkSession, d: String): String = {
    val base = graft.TempDirs.cached("vtann", d) { _ => () }
    indexRootAt(s, d, base)
  }

  /** Build-if-absent-or-stale bootstrap of the persisted index at an
    * explicit `base` directory, through
    * [[graft.tables.CorpusStamp.persist]]: no committed version → train
    * and commit the whole index as v0; a stale corpus → retrain both
    * codebooks (the trainer memos follow the corpus stamp) and
    * re-version the whole index in one commit; otherwise a pure open with no
    * training jobs. Concurrent first serves in one JVM build once. */
  def indexRootAt(s: SparkSession, d: String, base: String): String = {
    import s.implicits._
    graft.tables.CorpusStamp.persist(s, base + "/t", d, "embeddings") {
      val ivf = ivfCentroids(s, d).zipWithIndex.map { case (c, b) => ("ivf", 0, b, c) }
      val pq = pqCodebook(s, d).zipWithIndex.flatMap { case (sub, m) =>
        sub.zipWithIndex.map { case (c, code) => ("pq", m, code, c) }
      }
      (ivf ++ pq).toDF("kind", "m", "k", "vals")
    }
  }

  /** The IVF codebook read back from the persisted index — a bounded
    * index LOOKUP (K rows through the graft-vt reader), not training:
    * the returned centroids ride into the codegen assign kernel so the
    * serve plan stays a map-only projection over the corpus. Sessions
    * other than the one that built the index (fresh trainer memos) serve
    * from here without a single Lloyd's job — asserted by
    * VtDataSourceSpec via [[trainRuns]]. */
  def ivfFromIndex(s: SparkSession, d: String): Seq[Seq[Long]] =
    s.read.format("graft-vt").option("path", indexRoot(s, d)).load()
      .filter(col("kind") === "ivf").orderBy("k")
      .select("vals").collect().map(_.getSeq[Long](0).toSeq).toSeq

  /** PQ codebooks from the persisted index (subspace-major, code-minor) —
    * same lookup posture as [[ivfFromIndex]]. */
  def pqFromIndex(s: SparkSession, d: String): Seq[Seq[Seq[Long]]] =
    s.read.format("graft-vt").option("path", indexRoot(s, d)).load()
      .filter(col("kind") === "pq").orderBy("m", "k")
      .select("m", "vals").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Long](1).toSeq).toSeq)

  private def trainFrame(s: SparkSession, d: String): DataFrame =
    // the TrainSample SMALLEST ids, not `vec_id < TrainSample`: a corpus
    // whose ids are offset or sparse would make the filter form return 0
    // rows and crash training with an opaque empty.max
    Tables.load(s, d, "embeddings").orderBy("vec_id").limit(TrainSample)
      .select(col("vec_id").as("id"), quantArr(col("embedding")).as("qa"))

  /** IVF coarse quantizer: one full-dimension k-centroid codebook.
    * Codebooks are an INDEX — trained once per (session, corpus state). */
  def ivfCentroids(s: SparkSession, d: String): Seq[Seq[Long]] =
    graft.tools.Derived(s, d, "vt_ivf_centroids") {
      train(trainFrame(s, d)
        .select(lit(0).as("m"), col("id"), col("qa").as("q")), K)(0)
        .map(_.toSeq).toSeq
    }

  /** Row-local IVF bucket assignment against the literal codebook —
    * the native codegen kernel (one quantization pass + integer argmin;
    * [[org.apache.spark.sql.graftnative.QuantizedCodes]]), value-
    * identical to the HOF formulation (PortableQuantizerSpec). */
  def ivfAssign(cb: Seq[Seq[Long]], vec: Column): Column =
    element_at(
      org.apache.spark.sql.graftnative.GraftNative
        .quantizedCodes(vec, Seq(cb), cb.head.size), 1)

  /** The HOF formulation of [[ivfAssign]] — the cross-engine semantics
    * spec the native kernel is asserted against. */
  private[graft] def ivfAssignHof(cb: Seq[Seq[Long]], vec: Column): Column =
    argminInt(typedlit(cb), quantArr(vec))

  /** Multi-probe IVF assignment: the P nearest codes, nearest first —
    * the standard FAISS `nprobe` knob applied to pair-finding (a pair is
    * a candidate when the assignment SETS intersect). Tie-break
    * (distance, code) matches the oracle's `ORDER BY sum(...), c.code`.
    * HOF form: K=16 integer distances per row is row-local metadata-
    * scale work; at 100 TB the native QuantizedCodes kernel grows a
    * top-P variant the same way it replaced the argmin HOF. Measured on
    * the fixture (`ann_ivf_recall_mp`): P=3 lifts top-20-pair recall
    * from 0.25 (single list) to 0.90 at sf0.1. */
  def ivfAssignMulti(cb: Seq[Seq[Long]], vec: Column, p: Int): Column = {
    val q = quantArr(vec)
    val dists = transform(typedlit(cb), c =>
      aggregate(zip_with(q, c, (x, y) => (x - y) * (x - y)),
        lit(0L), (a, v) => a + v))
    val paired = zip_with(dists, sequence(lit(0), size(dists) - 1),
      (d0, i) => struct(d0.as("d"), i.as("code")))
    slice(transform(array_sort(paired), s0 => s0.getField("code").cast("int")),
      1, p)
  }

  /** PQ codebooks: [[NumSub]] subspaces × [[K]] codewords,
    * every subspace trained concurrently in the same Lloyd's jobs. */
  def pqCodebook(s: SparkSession, d: String): Seq[Seq[Seq[Long]]] =
    graft.tools.Derived(s, d, "vt_pq_codebooks") {
      val cbs = train(trainFrame(s, d)
        .select(col("id"), posexplode(expr(
          s"transform(sequence(0, ${NumSub - 1}), " +
            s"m -> slice(qa, m * $SubDim + 1, $SubDim))")))
        .withColumnRenamed("pos", "m")
        .withColumnRenamed("col", "q"), K)
      (0 until NumSub).map(m => cbs(m).map(_.toSeq).toSeq)
    }

  /** PQ-encode as a row-local projection → (vec_id, sub_idx, code) —
    * the native codegen kernel (quantize once, per-subspace integer
    * argmin). The equivalent HOF tower re-evaluated the quantization
    * subtree once per codeword (M·K = 256 interpreted copies per row);
    * see the kernel scaladoc for the measured difference. */
  def pqCodes(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .withColumn("codes", org.apache.spark.sql.graftnative.GraftNative
        .quantizedCodes(col("embedding"), pqCodebook(s, d), SubDim))
      .select(col("vec_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub_idx")
      .withColumnRenamed("col", "code")

  /** The HOF formulation of the PQ encode — the cross-engine semantics
    * spec the native kernel is asserted against. */
  private[graft] def pqCodesHof(s: SparkSession, d: String): DataFrame = {
    val cb = typedlit(pqCodebook(s, d))
    Tables.load(s, d, "embeddings")
      .withColumn("qa", quantArr(col("embedding")))
      .withColumn("codes", transform(
        transform(sequence(lit(0), lit(NumSub - 1)), m =>
          transform(get(cb, m), c =>
            aggregate(
              zip_with(slice(col("qa"), m * lit(SubDim) + 1, lit(SubDim)), c,
                (x, y) => (x - y) * (x - y)),
              lit(0L), (a, v) => a + v))),
        ds => (array_position(ds, array_min(ds)) - 1).cast("int")))
      .select(col("vec_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub_idx")
      .withColumnRenamed("col", "code")
  }

  /** The codebook as a broadcastable (sub_idx, code, cvec) frame. */
  private def pqCentroidsDf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pqCodebook(s, d).zipWithIndex.flatMap { case (cs, m) =>
      cs.zipWithIndex.map { case (c, k) => (m, k, c) }
    }.toDF("sub_idx", "code", "cvec")
  }

  /** Product-quantization ADC search over any (query_id, embedding)
    * frame — the graded [[pqAdc]] entry and the streaming
    * `StreamingOps.annEnrichSink` both run it, so their answers cannot
    * drift. Per query: a NumSub × K table of exact integer subspace
    * distances to every codeword; each corpus vector's approximate
    * distance is the sum of its NumSub table lookups (codes ⋈
    * broadcast(distance table) on (sub_idx, code), then one
    * (query_id, neighbor_id) aggregation); the top-[[Shortlist]] by that
    * ADC distance are re-ranked by the exact quantized squared L2
    * (shortlist ⋈ broadcast(query vectors)) — the corpus is never
    * shuffled pairwise. Returns (query_id, rank, neighbor_id, l2q_d2)
    * with rank ≤ k; `l2q_d2` is exact int64 end-to-end, which is what
    * makes the full-pipeline DuckDB oracle possible. Candidates where
    * `skip` (over query_id, neighbor_id) holds leave before the shortlist
    * rank: the graded key skips each query's own vector, a caller serving
    * arbitrary query ids skips nothing (`lit(false)`).
    *
    * Query rows whose embedding is NULL, holds a NULL element or is not
    * exactly NumSub · SubDim long are dropped: their distances would be
    * NULL, which ranks first, so they would return k arbitrary rows (the
    * corpus side already encodes such vectors as NULL codes). */
  def pqSearch(s: SparkSession, d: String, queries: DataFrame, k: Int, skip: Column): DataFrame = {
    val qa = queries
      .filter(size(col("embedding")) === NumSub * SubDim &&
        !exists(col("embedding"), _.isNull))
      .select(col("query_id"), quantArr(col("embedding")).as("qa"))
    val qsub = qa
      .select(col("query_id"), posexplode(expr(
        s"transform(sequence(0, ${NumSub - 1}), " +
          s"m -> slice(qa, m * $SubDim + 1, $SubDim))")))
      .withColumnRenamed("pos", "sub_idx")
      .withColumnRenamed("col", "qsub")
    // per-query distance table: |Q| × NumSub × K rows, broadcast-sized
    val dist = qsub.join(broadcast(pqCentroidsDf(s, d)), "sub_idx")
      .select(col("query_id"), col("sub_idx"), col("code"),
        aggregate(zip_with(col("qsub"), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0L), (a, v) => a + v).as("d2"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_d2").asc, col("neighbor_id"))
    val shortlist = pqCodes(s, d).join(broadcast(dist), Seq("sub_idx", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("d2").as("adc_d2"))
      .filter(!skip)
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= Shortlist)
    val nv = Tables.load(s, d, "embeddings")
      .select(col("vec_id").as("neighbor_id"), quantArr(col("embedding")).as("na"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2q_d2").asc, col("neighbor_id"))
    shortlist
      .join(broadcast(qa), "query_id")
      .join(nv, "neighbor_id")
      .withColumn("l2q_d2",
        aggregate(zip_with(col("qa"), col("na"), (x, y) => (x - y) * (x - y)),
          lit(0L), (a, v) => a + v))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "l2q_d2")
  }

  /** Graded PQ-ADC entry: [[pqSearch]] at k = 10 over the queries
    * vec_id ≤ 4 (the llm_knn_queries set), each excluding its own vector. */
  def pqAdc(s: SparkSession, d: String): DataFrame =
    pqSearch(s, d,
      Tables.load(s, d, "embeddings").filter(col("vec_id") <= 4)
        .select(col("vec_id").as("query_id"), col("embedding")), 10,
      skip = col("query_id") === col("neighbor_id"))
      .orderBy("query_id", "rank")

  // ------------------------------------------------------------------
  // DuckDB oracles: training replayed with the Lloyd's rounds unrolled
  // as CTEs, long (id, m, si, qv) form — integer joins + group-bys only.
  // ------------------------------------------------------------------

  /** Quantized long-form CTEs shared by both oracles. */
  private val oracleBase: String =
    "allv AS (SELECT vec_id AS id, embedding AS e FROM embeddings), " +
      s"aq AS (SELECT id, CAST((i-1)//$SubDim AS INTEGER) AS m, " +
      s"CAST((i-1)%$SubDim AS INTEGER) AS si, " +
      s"CAST(floor(CAST(e[CAST(i AS INTEGER)] AS DOUBLE)*$ScaleSql + 0.5) AS BIGINT) AS qv " +
      "FROM (SELECT id, e, unnest(range(1, len(e)+1)) AS i FROM allv)), " +
      // the TrainSample smallest ids — mirrors the Spark orderBy/limit
      // sampler (id-offset-robust, identical on the dense fixtures)
      s"tids AS (SELECT id FROM allv ORDER BY id LIMIT $TrainSample), " +
      "tq AS (SELECT aq.* FROM aq JOIN tids USING (id))"

  /** The IVF assignment tower (portable training replay on the
    * full-dimension vectors — m collapsed away, join on raw component
    * index i = m·SubDim + si — ending in `fin(id, code)`, every vector's
    * inverted-list assignment). Shared by [[ivfOracle]] and
    * [[ivfRecallOracle]]. */
  private def ivfAssignCteP(p: Int): String = {
    def it(t: Int): String = {
      val prev = s"c${t - 1}"
      s"a$t AS (SELECT id, code FROM (" +
        "SELECT q.id, c.code, row_number() OVER (PARTITION BY q.id ORDER BY " +
        "sum((q.qv-c.cv)*(q.qv-c.cv)), c.code) AS rn " +
        s"FROM tql q JOIN $prev c ON q.i = c.i " +
        "GROUP BY q.id, c.code) WHERE rn = 1), " +
        s"n$t AS (SELECT a.code, q.i, CAST(floor(sum(q.qv)/count(*) + 0.5) AS BIGINT) AS cv " +
        s"FROM a$t a JOIN tql q ON a.id = q.id GROUP BY a.code, q.i), " +
        s"c$t AS (SELECT p.code, p.i, coalesce(n.cv, p.cv) AS cv " +
        s"FROM $prev p LEFT JOIN n$t n ON p.code = n.code AND p.i = n.i)"
    }
    s"WITH $oracleBase, " +
      s"allql AS (SELECT id, m * $SubDim + si AS i, qv FROM aq), " +
      "tql AS (SELECT allql.* FROM allql JOIN tids USING (id)), " +
      "dp AS (SELECT p, min(id) AS r0 FROM " +
      "(SELECT id, list(qv ORDER BY i) AS p FROM tql GROUP BY id) GROUP BY p), " +
      "init AS (SELECT r0, row_number() OVER (ORDER BY " +
      "CAST(('0x' || substring(md5('0:' || r0), 1, 15)) AS BIGINT), r0) AS rn FROM dp), " +
      "c0 AS (SELECT init.rn - 1 AS code, q.i, q.qv AS cv " +
      s"FROM init JOIN tql q ON q.id = init.r0 WHERE init.rn <= $K), " +
      (1 to Iters).map(it).mkString(", ") + ", " +
      "fin AS (SELECT id, code FROM (" +
      "SELECT q.id, c.code, row_number() OVER (PARTITION BY q.id ORDER BY " +
      "sum((q.qv-c.cv)*(q.qv-c.cv)), c.code) AS rn " +
      s"FROM allql q JOIN c$Iters c ON q.i = c.i " +
      s"GROUP BY q.id, c.code) WHERE rn <= $p)"
  }

  private val ivfAssignCte: String = ivfAssignCteP(1)

  /** The p-probe assignment chain WITHOUT the leading WITH — for
    * embedding inside composed oracle towers (the hybrid indexed
    * fusion). Its CTE names (allv, aq, tids, tq, allql, tql, dp, init,
    * cN, aN, nN, fin) are disjoint from the BM25 tower's by
    * construction. */
  def ivfAssignChain(p: Int): String = ivfAssignCteP(p).stripPrefix("WITH ")

  /** IVF oracle: the assignment tower, then the same inverted-list
    * pair-cosine tail as the banded-LSH oracle. */
  val ivfOracle: String =
    ivfAssignCte + ", " +
      "e AS (SELECT f.code AS bucket, emb.vec_id, emb.embedding " +
      "FROM embeddings emb JOIN fin f ON emb.vec_id = f.id) " +
      "SELECT a.vec_id AS a_id, c.vec_id AS b_id, " +
      "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM e a JOIN e c ON a.bucket = c.bucket AND a.vec_id < c.vec_id " +
      "ORDER BY sim DESC, a_id, b_id LIMIT 20"

  /** IVF self-evaluation oracle tail: the p-probe assignment tower + the
    * exact top-20 cosine truth, recall = co-listed truth pairs / 20 (the
    * ann_pair_recall shape applied to the IVF index; DISTINCT collapses
    * multi-list co-occurrence when p > 1). */
  private def ivfRecallOracleP(p: Int): String =
    ivfAssignCteP(p) + ", " +
      "truth AS (SELECT a.vec_id AS a_id, c.vec_id AS b_id " +
      "FROM embeddings a JOIN embeddings c ON a.vec_id < c.vec_id " +
      "ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) DESC, a_id, b_id LIMIT 20), " +
      "hit AS (SELECT DISTINCT t.a_id, t.b_id FROM truth t " +
      "JOIN fin fa ON fa.id = t.a_id JOIN fin fb ON fb.id = t.b_id " +
      "WHERE fa.code = fb.code) " +
      // n_truth MEASURED from the truth CTE, mirroring the Spark side
      "SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth, " +
      "CAST(count(*) AS BIGINT) AS n_hit, " +
      "floor(CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM truth) " +
      "* 1000000 + 0.5) / 1000000 AS recall FROM hit"

  val ivfRecallOracle: String = ivfRecallOracleP(1)
  val ivfRecallMpOracle: String = ivfRecallOracleP(3)

  /** Index-served per-query retrieval oracle: 3-probe assignment, query
    * set doc_id % 97 == 0 (the BM25/RRF set), candidates = members of
    * the query's probed lists, exact cosine rank, top-3 per query. */
  val ivfQueryTopkOracle: String =
    ivfAssignCteP(3) + ", " +
      "qa AS (SELECT id AS q_id, code FROM fin WHERE id % 97 = 0), " +
      "cand AS (SELECT DISTINCT qa.q_id, f2.id AS neighbor_id " +
      "FROM qa JOIN fin f2 ON f2.code = qa.code AND f2.id <> qa.q_id), " +
      "sc AS (SELECT c.q_id, c.neighbor_id, " +
      "round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]), CAST(en.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM cand c JOIN embeddings eq ON eq.vec_id = c.q_id " +
      "JOIN embeddings en ON en.vec_id = c.neighbor_id), " +
      "r AS (SELECT q_id, neighbor_id, sim, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank FROM sc) " +
      "SELECT q_id, rank, neighbor_id, sim FROM r WHERE rank <= 3 ORDER BY q_id, rank"

  /** Filtered index-served retrieval oracle: the ivfQueryTopkOracle
    * chain with the metadata predicate (documents.lang = 'en') applied
    * at the CANDIDATE stage, before the exact-cosine ranking — the
    * pre-filter semantics the Spark key implements. */
  val ivfFilteredTopkOracle: String =
    ivfAssignCteP(3) + ", " +
      "qa AS (SELECT id AS q_id, code FROM fin WHERE id % 97 = 0), " +
      "cand AS (SELECT DISTINCT qa.q_id, f2.id AS neighbor_id " +
      "FROM qa JOIN fin f2 ON f2.code = qa.code AND f2.id <> qa.q_id " +
      "JOIN documents dd ON dd.doc_id = f2.id AND dd.lang = 'en'), " +
      "sc AS (SELECT c.q_id, c.neighbor_id, " +
      "round(list_cosine_similarity(CAST(eq.embedding AS DOUBLE[]), CAST(en.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM cand c JOIN embeddings eq ON eq.vec_id = c.q_id " +
      "JOIN embeddings en ON en.vec_id = c.neighbor_id), " +
      "r AS (SELECT q_id, neighbor_id, sim, " +
      "CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank FROM sc) " +
      "SELECT q_id, rank, neighbor_id, sim FROM r WHERE rank <= 3 ORDER BY q_id, rank"

  /** Multi-probe IVF top-k oracle: 3-probe assignment, candidates =
    * DISTINCT pairs sharing ANY list, cosine, top-20. */
  val ivfMultiprobeOracle: String =
    ivfAssignCteP(3) + ", " +
      "p AS (SELECT DISTINCT a.id AS a_id, c.id AS b_id " +
      "FROM fin a JOIN fin c ON a.code = c.code AND a.id < c.id) " +
      "SELECT p.a_id, p.b_id, " +
      "round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM p JOIN embeddings ea ON ea.vec_id = p.a_id JOIN embeddings ec ON ec.vec_id = p.b_id " +
      "ORDER BY sim DESC, a_id, b_id LIMIT 20"

  /** PQ-ADC oracle: per-subspace training replay (m, si keys), encode,
    * integer ADC shortlist, integer exact re-rank — the whole graded
    * pipeline in one SQL statement. */
  val pqOracle: String = {
    def it(t: Int): String = {
      val prev = s"c${t - 1}"
      s"a$t AS (SELECT id, m, code FROM (" +
        "SELECT q.id, q.m, c.code, row_number() OVER (PARTITION BY q.id, q.m ORDER BY " +
        "sum((q.qv-c.cv)*(q.qv-c.cv)), c.code) AS rn " +
        s"FROM tq q JOIN $prev c ON q.m = c.m AND q.si = c.si " +
        "GROUP BY q.id, q.m, c.code) WHERE rn = 1), " +
        s"n$t AS (SELECT a.m, a.code, q.si, CAST(floor(sum(q.qv)/count(*) + 0.5) AS BIGINT) AS cv " +
        s"FROM a$t a JOIN tq q ON a.id = q.id AND a.m = q.m GROUP BY a.m, a.code, q.si), " +
        s"c$t AS (SELECT p.m, p.code, p.si, coalesce(n.cv, p.cv) AS cv " +
        s"FROM $prev p LEFT JOIN n$t n ON p.m = n.m AND p.code = n.code AND p.si = n.si)"
    }
    s"WITH $oracleBase, " +
      "dp AS (SELECT m, p, min(id) AS r0 FROM " +
      "(SELECT id, m, list(qv ORDER BY si) AS p FROM tq GROUP BY id, m) GROUP BY m, p), " +
      "init AS (SELECT m, r0, row_number() OVER (PARTITION BY m ORDER BY " +
      "CAST(('0x' || substring(md5(m || ':' || r0), 1, 15)) AS BIGINT), r0) AS rn FROM dp), " +
      "c0 AS (SELECT i.m, i.rn - 1 AS code, q.si, q.qv AS cv " +
      s"FROM init i JOIN tq q ON q.id = i.r0 AND q.m = i.m WHERE i.rn <= $K), " +
      (1 to Iters).map(it).mkString(", ") + ", " +
      "codes AS (SELECT id, m, code FROM (" +
      "SELECT q.id, q.m, c.code, row_number() OVER (PARTITION BY q.id, q.m ORDER BY " +
      "sum((q.qv-c.cv)*(q.qv-c.cv)), c.code) AS rn " +
      s"FROM aq q JOIN c$Iters c ON q.m = c.m AND q.si = c.si " +
      "GROUP BY q.id, q.m, c.code) WHERE rn = 1), " +
      "qdist AS (SELECT q.id AS query_id, c.m, c.code, sum((q.qv-c.cv)*(q.qv-c.cv)) AS d2 " +
      s"FROM aq q JOIN c$Iters c ON q.m = c.m AND q.si = c.si " +
      "WHERE q.id <= 4 GROUP BY 1, 2, 3), " +
      "shortlist AS (SELECT query_id, neighbor_id FROM (" +
      "SELECT d.query_id, k.id AS neighbor_id, " +
      "row_number() OVER (PARTITION BY d.query_id ORDER BY sum(d.d2), k.id) AS rn " +
      "FROM codes k JOIN qdist d ON k.m = d.m AND k.code = d.code " +
      "WHERE k.id != d.query_id " +
      s"GROUP BY d.query_id, k.id) WHERE rn <= $Shortlist), " +
      "rer AS (SELECT s.query_id, s.neighbor_id, " +
      "CAST(sum((a.qv-b.qv)*(a.qv-b.qv)) AS BIGINT) AS l2q_d2 " +
      "FROM shortlist s " +
      "JOIN aq a ON a.id = s.query_id " +
      "JOIN aq b ON b.id = s.neighbor_id AND a.m = b.m AND a.si = b.si " +
      "GROUP BY 1, 2) " +
      "SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, l2q_d2 FROM (" +
      "SELECT query_id, neighbor_id, l2q_d2, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY l2q_d2, neighbor_id) AS rank " +
      "FROM rer) WHERE rank <= 10 ORDER BY query_id, rank"
  }
}

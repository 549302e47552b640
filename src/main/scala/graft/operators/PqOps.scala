package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Product quantization (PQ) + asymmetric-distance (ADC) search — the
  * third ANN scale path next to the hyperplane-LSH and IVF variants.
  *
  * PQ splits each 64-dim embedding into 16 contiguous 4-dim subvectors
  * and learns a 16-centroid codebook per subspace; a vector is stored as
  * 16 4-bit codes (8 B) instead of 64 floats (256 B) — a 32× compression
  * of the candidate-scan payload. ADC scores a query against the CODES:
  * per query, a 16×16 table of exact subspace distances to every
  * centroid is precomputed, and each database vector's approximate
  * squared L2 distance is the sum of 16 table lookups. The ADC scan
  * SHORTLISTS (top-40 here); the graded answer re-ranks the shortlist
  * at full precision — the two-stage shape every production PQ system
  * uses, because ADC error is a shortlist-recall problem, not a final-
  * ranking problem.
  *
  * 100 TB shape, stage by stage:
  *  - TRAIN on a bounded sample (1024 vectors here), driver-side Lloyd's
  *    iterations per subspace. This is how production PQ trains (FAISS
  *    trains codebooks on a ~100k sample regardless of corpus size): the
  *    sample and the codebook are O(1) in the corpus, so the driver work
  *    never grows. This is the sanctioned exception to the no-collect
  *    rule — a constant-size bounded fetch, not a corpus materialization.
  *  - ENCODE as a pure projection: the codebook is a literal (broadcast
  *    with the plan); nearest-centroid per subspace is row-local
  *    higher-order-function arithmetic. No shuffle, no extra jobs —
  *    a map-only pass over the corpus.
  *  - SEARCH: codes ⋈ broadcast(per-query distance table) on
  *    (sub_idx, code) — a broadcast hash join, never a corpus shuffle —
  *    then one (query_id, vec_id) hash aggregation with map-side partial
  *    sums. The exact re-rank touches only |Q|×40 rows. Queries are
  *    processed in bounded batches so the distance table stays
  *    broadcast-sized.
  *
  * Since round 7 the GRADED emb_pq_adc entry is the portable
  * integer-exact twin ([[PortableQuantizer.pqAdc]]) with a full DuckDB
  * oracle that replays training via unrolled Lloyd's CTEs; this float
  * pipeline remains the streaming enrichment path
  * (StreamingOps.pqEnrichStream) and keeps its unit evidence: recall@10
  * vs the exact brute-force L2 top-10, rank/shape invariants, and the
  * seed-pinned distributed-trainer equivalence.
  */
object PqOps {
  type Q = (SparkSession, String) => DataFrame

  val NumSub = 16
  val SubDim = 4
  val K = 16
  val Shortlist = 40
  val TrainSample = 1024

  /** Deterministic Lloyd's k-means on a driver-local point set: seeded
    * initial centroids drawn from the (distinct) points, 8 assignment/
    * re-mean rounds, empty clusters keep their previous centroid. */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int,
      seed: Long, iters: Int = 8): Array[Array[Double]] = {
    // fail with the actual requirement, not distinct.head's bare
    // NoSuchElementException three lines down
    require(points.nonEmpty, "lloyd: training point set is empty — " +
      "the sampler produced no vectors (empty embeddings table?)")
    val rnd = new scala.util.Random(seed)
    // content-distinct: Array equality is by reference, so dedup via an
    // equals-by-value view (duplicate initial centroids would silently
    // waste codebook capacity)
    val distinct = points.map(_.toVector).distinct.map(_.toArray)
    val init = rnd.shuffle(distinct.indices.toVector).take(k).map(distinct)
    // fewer distinct points than k: pad with repeats (harmless — the
    // duplicate centroid simply never wins an argmin tie, position-first)
    var cent = (init ++ Array.fill(math.max(0, k - init.size))(distinct.head)).toArray
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    (0 until iters).foreach { _ =>
      val assign = points.map(p => cent.indices.minBy(c => d2(p, cent(c))))
      cent = cent.indices.map { c =>
        val mine = points.indices.filter(assign(_) == c)
        if (mine.isEmpty) cent(c)
        else {
          val m = new Array[Double](points(0).length)
          mine.foreach { i => var j = 0; while (j < m.length) { m(j) += points(i)(j); j += 1 } }
          m.map(_ / mine.size)
        }
      }.toArray
    }
    cent
  }

  /** DISTRIBUTED Lloyd's over a (m, rank, p) training frame: every
    * subspace group `m` trains concurrently in the same jobs, and the
    * driver only ever holds MODEL STATE (k centroids per group + the
    * distinct-point index list), never the training vectors — the last
    * "driver collects training data" pattern removed (round-7).
    *
    * Bit-identical to [[lloyd]] by construction, so the seed-pinned
    * codebook contract survives the switch (asserted in PqOpsSpec):
    *  - init: distinct-by-value in first-occurrence (rank) order is
    *    `groupBy(p).min(rank)` sorted; the seeded shuffle permutes
    *    INDICES driver-side exactly as lloyd does, and only the k chosen
    *    vectors are fetched (broadcast semi-join, k rows);
    *  - assignment: the same position-first argmin over the same
    *    sequential per-dimension arithmetic ([[nearestCentroid]] shape);
    *  - re-mean: a deliberate SEQUENTIAL fold over the rank-sorted
    *    member list per cluster (sort_array(collect_list) + aggregate),
    *    matching lloyd's ascending-index summation order — a
    *    treeAggregate of partials would be faster but sums in partition
    *    order, which is not reproducible bit-for-bit across cluster
    *    layouts. Cluster membership is bounded by the training sample
    *    (O(1) in the corpus), so the per-cluster fold is metadata-scale.
    */
  private[graft] def lloydDistributedAll(pts: DataFrame, dim: Int, k: Int,
      seedOf: Int => Long, iters: Int = 8): Map[Int, Array[Array[Double]]] = {
    val spark = pts.sparkSession
    import spark.implicits._
    // the tiny frame is re-read 2 + iters times — checkpoint once
    val p = pts.localCheckpoint(true)
    try {
      val dpts = p.groupBy("m", "p").agg(min("rank").as("r0"))
      val r0sByM: Map[Int, Array[Long]] = dpts.select("m", "r0").collect()
        .map(r => (r.getInt(0), r.getLong(1)))
        .groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).sorted }
      val chosenByM: Map[Int, Vector[Long]] = r0sByM.map { case (m, r0s) =>
        val rnd = new scala.util.Random(seedOf(m))
        m -> rnd.shuffle(r0s.indices.toVector).take(k).map(r0s)
      }
      val chosenDf = chosenByM.toSeq
        .flatMap { case (m, rs) => rs.map(m -> _) }.toDF("m", "r0")
      val initVecs: Map[(Int, Long), Array[Double]] =
        dpts.join(broadcast(chosenDf), Seq("m", "r0"))
          .select("m", "r0", "p").collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2).toArray)
          .toMap
      var cent: Map[Int, Array[Array[Double]]] = chosenByM.map { case (m, rs) =>
        val init = rs.map(r0 => initVecs((m, r0)))
        // fewer distinct points than k: pad with the FIRST distinct point
        // (lloyd's rule — the duplicate never wins a position-first tie).
        // When padding is needed, `rs` covers every distinct index, so
        // the first-occurrence vector is present in initVecs.
        m -> (init ++ Vector.fill(math.max(0, k - init.size))(
          initVecs((m, r0sByM(m).head)))).toArray
      }
      val nGroups = cent.keys.max + 1
      val zero = typedlit(Seq.fill(dim)(0.0))
      def sq(x: Column) = x * x
      (0 until iters).foreach { _ =>
        val centLit = typedlit(Seq.tabulate(nGroups)(m =>
          cent(m).map(_.toSeq).toSeq))
        val mine = get(centLit, col("m"))
        val dists = transform(mine, c =>
          aggregate(zip_with(col("p"), c, (x, y) => sq(x - y)),
            lit(0.0), (a, v) => a + v))
        val sums = p
          .withColumn("c", (array_position(dists, array_min(dists)) - 1).cast("int"))
          .groupBy("m", "c")
          .agg(count(lit(1)).as("n"),
            aggregate(sort_array(collect_list(struct(col("rank"), col("p")))),
              zero, (acc, e) => zip_with(acc, e.getField("p"), (a, b) => a + b))
              .as("sum"))
          .collect()
        val next = cent.map { case (m, cs) => m -> cs.clone() }
        sums.foreach { r =>
          val (m, c, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
          next(m)(c) = r.getSeq[Double](3).map(_ / n).toArray
        }
        cent = next
      }
      cent
    } finally org.apache.spark.sql.graftnative.CheckpointRelease.release(p)
  }

  /** The bounded training sample as a distributed frame: the
    * [[TrainSample]] smallest vec_ids, embeddings widened to double. */
  private def trainFrame(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .orderBy("vec_id").limit(TrainSample)
      .select(col("vec_id").as("rank"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))

  /** Train all [[NumSub]] codebooks from a bounded deterministic sample
    * (first [[TrainSample]] vec_ids — a pure, reproducible choice),
    * distributed: one training-frame pass per Lloyd's round covers every
    * subspace. Codebooks are an INDEX — trained once per (session,
    * corpus), queried many times; constant size (16 × 16 × 4 doubles). */
  private[graft] def codebook(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    graft.tools.Derived(s, d, "pq_codebooks") {
      val pts = trainFrame(s, d)
        .select(col("rank"), posexplode(expr(
          s"transform(sequence(0, ${NumSub - 1}), " +
            s"m -> slice(emb, m * $SubDim + 1, $SubDim))")))
        .withColumnRenamed("pos", "m")
        .withColumnRenamed("col", "p")
      val cbs = lloydDistributedAll(pts, SubDim, K,
        m => graft.ml.MlPipelines.Seed + m)
      (0 until NumSub).map(m => cbs(m).map(_.toSeq).toSeq)
    }

  /** A single FULL-dimension codebook (the IVF coarse quantizer) from the
    * same bounded sample — shared infrastructure with the PQ codebooks:
    * training is O(1) in the corpus, assignment is a row-local argmin. */
  def ivfCentroids(s: SparkSession, d: String, k: Int = K): Seq[Seq[Double]] =
    graft.tools.Derived(s, d, "ivf_centroids") {
      // single-group (m = 0) use of the distributed trainer, full dim
      // (NumSub * SubDim — the same layout constant the PQ slicing above
      // derives from; a hardcoded 64 here would fail as an opaque NPE in
      // the trainer's zip_with if the dimensions ever diverged)
      val pts = trainFrame(s, d)
        .select(lit(0).as("m"), col("rank"), col("emb").as("p"))
      lloydDistributedAll(pts, NumSub * SubDim, k, _ => graft.ml.MlPipelines.Seed)(0)
        .map(_.toSeq).toSeq
    }

  /** Nearest-centroid assignment as a pure Column over a driver-local
    * codebook (rides into the plan as a literal — no shuffle, no model
    * object). Ties break position-first, matching [[lloyd]]'s argmin.
    * The distance array is computed twice (argmin needs the array and its
    * min) — 2 × |cb| · dim multiplies per row, irrelevant next to the
    * scan. */
  def nearestCentroid(cb: Seq[Seq[Double]], vec: Column): Column = {
    val cbCol = typedlit(cb)
    def sq(x: Column) = x * x
    def dists = transform(cbCol, c =>
      aggregate(zip_with(vec, c, (x, y) => sq(x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** The codebook as a broadcastable frame (16 × 16 rows) for the ADC
    * distance-table join. */
  def pqCentroids(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    codebook(s, d).zipWithIndex.flatMap { case (cs, m) =>
      cs.zipWithIndex.map { case (c, k) => (m, k, c) }
    }.toDF("sub_idx", "code", "cvec")
  }

  /** PQ-encode as a single row-local projection: per subspace, the
    * argmin-distance centroid index. The codebook rides into the plan as
    * a literal; ties break position-first in both this encoder and the
    * driver-side assignment in [[lloyd]], so codes are deterministic.
    * Output is the exploded (vec_id, sub_idx, code) layout the ADC join
    * consumes — n×16 rows, each code in [0, 16). */
  def pqCodes(s: SparkSession, d: String): DataFrame = {
    val cb = typedlit(codebook(s, d))
    def sq(x: Column) = x * x
    val dall = transform(sequence(lit(0), lit(NumSub - 1)), m =>
      transform(get(cb, m), c =>
        aggregate(
          zip_with(slice(col("embedding"), m * lit(SubDim) + 1, lit(SubDim)), c,
            (x, y) => sq(x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v)))
    Tables.load(s, d, "embeddings")
      .withColumn("codes", transform(dall, ds =>
        (array_position(ds, array_min(ds)) - 1).cast("int")))
      .select(col("vec_id"), posexplode(col("codes")))
      .withColumnRenamed("pos", "sub_idx")
      .withColumnRenamed("col", "code")
  }

  /** PQ-ADC search core over an ARBITRARY (query_id, embedding) frame —
    * the same code path serves the graded batch entry and the streaming
    * foreachBatch enrichment (each micro-batch of query vectors is one
    * bounded query batch). Shortlists top-[[Shortlist]] by approximate
    * distance, then re-ranks the shortlist at full precision; returns
    * (query_id, rank, neighbor_id, l2_d2) with rank ≤ k. */
  def pqSearch(s: SparkSession, d: String, queries: DataFrame, k: Int = 10): DataFrame = {
    // query subvectors, widened to double once so the distance arithmetic
    // below is pure double (same discipline as the cosine kernels)
    val qsub = queries
      .select(col("query_id"),
        posexplode(expr(
          s"transform(sequence(0, ${NumSub - 1}), " +
            s"m -> transform(slice(embedding, m * $SubDim + 1, $SubDim), x -> cast(x as double)))")))
      .withColumnRenamed("pos", "sub_idx")
      .withColumnRenamed("col", "qsub")
    // per-query distance table: |Q| × 16 × 16 rows — broadcast-sized by
    // construction (the query batch is bounded)
    val dist = qsub.join(broadcast(pqCentroids(s, d)), "sub_idx")
      .select(col("query_id"), col("sub_idx"), col("code"),
        expr("aggregate(zip_with(qsub, cvec, (x, y) -> (x - y) * (x - y)), 0D, (a, v) -> a + v)")
          .as("d2"))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc_d2").asc, col("neighbor_id"))
    val shortlist = pqCodes(s, d).join(broadcast(dist), Seq("sub_idx", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("d2").as("adc_d2"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= Shortlist)
    // exact re-rank of the shortlist only: both vector joins are equi on
    // vec_id; the query side is |Q| rows → broadcast
    val qv = queries.select(col("query_id"), col("embedding").as("q_vec"))
    val nv = Tables.load(s, d, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"))
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("l2_d2").asc, col("neighbor_id"))
    shortlist
      .join(broadcast(qv), "query_id")
      .join(nv, "neighbor_id")
      .withColumn("l2_d2", round(expr(
        "aggregate(zip_with(q_vec, n_vec, (x, y) -> (cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), 0D, (a, v) -> a + v)"), 4))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "l2_d2")
  }

  /** The float pipeline over the graded query set (vec_id ≤ 4, the
    * llm_knn_queries set) — unit-tested; the GRADED emb_pq_adc entry is
    * [[PortableQuantizer.pqAdc]] (round-7 oracle promotion). */
  def embPqAdc(s: SparkSession, d: String): DataFrame =
    pqSearch(s, d,
      Tables.load(s, d, "embeddings").filter(col("vec_id") <= 4)
        .select(col("vec_id").as("query_id"), col("embedding")))
      .orderBy("query_id", "rank")

  val queries: Map[String, Q] = Map(
    "emb_pq_adc" -> ((s: SparkSession, d: String) => PortableQuantizer.pqAdc(s, d)))

  /** Full-pipeline DuckDB oracle (training replayed with unrolled
    * Lloyd's rounds) — see [[PortableQuantizer.pqOracle]]. A `def`, not
    * a `val`: PortableQuantizer reads this object's layout constants
    * during ITS init, so a val here would close an object-init cycle
    * and read a null oracle string. */
  def oracles: Map[String, String] = Map(
    "emb_pq_adc" -> PortableQuantizer.pqOracle)
}

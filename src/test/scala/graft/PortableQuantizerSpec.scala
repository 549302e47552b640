package graft

import org.apache.spark.sql.functions._

/** The portable integer quantizer (graded ann_ivf_topk / emb_pq_adc path):
  * the native codegen kernel must be VALUE-IDENTICAL to the higher-order-
  * function formulation the DuckDB oracles replay, and the trainer's
  * outputs must be deterministic model state.
  */
class PortableQuantizerSpec extends SparkTestBase {

  // SparkTestBase already provides SF = sf0.001

  test("native QuantizedCodes == HOF formulation for the PQ encode (every vector, every subspace)") {
    val native = operators.PortableQuantizer.pqCodes(spark, SF)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val hof = operators.PortableQuantizer.pqCodesHof(spark, SF)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(native.nonEmpty && native.size == hof.size)
    assert(native == hof)
  }

  test("native IVF assignment == HOF formulation for every vector") {
    val cb = operators.PortableQuantizer.ivfCentroids(spark, SF)
    val e = Tables.load(spark, SF, "embeddings")
    val both = e.select(col("vec_id"),
        operators.PortableQuantizer.ivfAssign(cb, col("embedding")).as("native"),
        operators.PortableQuantizer.ivfAssignHof(cb, col("embedding")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(1) == r.getInt(2), s"vec ${r.getLong(0)}"))
  }

  test("QuantizedCodes kernel stays inside whole-stage codegen (the HOF tower cannot)") {
    val cb = operators.PortableQuantizer.pqCodebook(spark, SF)
    val df = Tables.load(spark, SF, "embeddings")
      .select(org.apache.spark.sql.graftnative.GraftNative
        .quantizedCodes(col("embedding"), cb, 4).as("codes"))
    val hasSpan = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasSpan, s"no codegen span in:\n${df.queryExecution.executedPlan}")
    // and the interpreted-path answer agrees with the codegen path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.collect().map(_.getSeq[Int](0))
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val gen = df.collect().map(_.getSeq[Int](0))
      assert(interp.toSeq == gen.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("short vector yields null codes, not a crash") {
    import spark.implicits._
    val df = Seq((1L, Array(0.1f, 0.2f))).toDF("id", "v")
      .select(org.apache.spark.sql.graftnative.GraftNative
        .quantizedCodes(col("v"), Seq(Seq(Seq(0L, 0L, 0L, 0L))), 4).as("codes"))
    assert(df.collect().head.isNullAt(0))
  }

  test("null ELEMENT yields null codes on both eval paths (HOF-twin parity)") {
    // embeddings declares containsNull=true; the HOF formulation
    // null-propagates through transform/zip_with, so the kernel must
    // return null rather than silently reading the slot as 0.0f.
    // The rows go through PARQUET, not a local literal relation: a
    // literal Seq constant-folds into a LocalTableScan that evaluates
    // interpretedly regardless of the codegen conf, which would leave
    // the hand-written doGenCode null branch untested.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nullvec").toString + "/v"
    Seq((1L, Seq[Option[Float]](Some(0.1f), None, Some(0.3f), Some(0.4f))),
        (2L, Seq[Option[Float]](Some(0.1f), Some(0.2f), Some(0.3f), Some(0.4f))))
      .toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
      .write.parquet(dir)
    val df = spark.read.parquet(dir)
      .select(col("id"), org.apache.spark.sql.graftnative.GraftNative
        .quantizedCodes(col("v"), Seq(Seq(Seq(0L, 0L, 0L, 0L))), 4).as("codes"))
    // the codegen run must actually BE codegen: a scan-backed projection
    // plans a WholeStageCodegen span
    assert(df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]),
      s"no codegen span in:\n${df.queryExecution.executedPlan}")
    def run(): Map[Long, Boolean] =
      df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = run()
      assert(gen == Map(1L -> true, 2L -> false), s"codegen path: $gen")
      assert(interp == gen, s"interp $interp != codegen $gen")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("trainer is deterministic: same corpus, fresh memo key => identical codebooks") {
    val cb1 = operators.PortableQuantizer.pqCodebook(spark, SF)
    val cb2 = operators.PortableQuantizer.pqCodebook(spark, SF) // memo hit
    assert(cb1 == cb2)
    val ivf = operators.PortableQuantizer.ivfCentroids(spark, SF)
    // model-state shape: K centroids of the full dimension, all finite ints
    assert(ivf.size == operators.PortableQuantizer.K && ivf.forall(_.size == 64))
    // balanced coarse partition: no bucket holds more than half the corpus
    // (a degenerate init/centroid bug collapses most vectors into one cell)
    val e = Tables.load(spark, SF, "embeddings")
    val sizes = e.select(operators.PortableQuantizer
        .ivfAssign(ivf, col("embedding")).as("b"))
      .groupBy("b").count().collect().map(_.getLong(1))
    val n = sizes.sum
    assert(sizes.max <= n / 2, s"degenerate bucket sizes: ${sizes.toSeq}")
  }

  test("trainer fixed points: distinct points fill the codebook exactly, duplicates take no slot, centroids stay in the bounding box") {
    import spark.implicits._
    val pq = operators.PortableQuantizer
    def train(pts: Seq[(Int, Long, Seq[Double])], k: Int): Map[Int, Seq[Seq[Long]]] =
      pq.train(pts.toDF("m", "id", "v")
          .select(col("m"), col("id"), pq.quantArr(col("v")).as("q")), k)
        .map { case (m, cs) => m -> cs.map(_.toSeq).toSeq }
    def quant(v: Seq[Double]): Seq[Long] = v.map(x => math.floor(x * 1e6 + 0.5).toLong)
    // two groups trained together; group 0's first point is repeated 20
    // times, every group-1 point twice
    val g0 = Seq(Seq(0.1, 0.2, 0.3), Seq(-0.5, 0.25, 0.0), Seq(0.9, -0.9, 0.45),
      Seq(0.0, 0.0, 0.0))
    val g1 = Seq(Seq(1.0, 1.0, 1.0), Seq(-1.0, 0.5, 0.125), Seq(0.3, 0.3, -0.3))
    val rows =
      (Seq.fill(20)(g0.head) ++ g0.tail).zipWithIndex.map { case (v, i) => (0, i.toLong, v) } ++
        (g1 ++ g1).zipWithIndex.map { case (v, i) => (1, 100L + i, v) }
    // k >= distinct points: each distinct point is a singleton cluster
    // whose mean is the point itself, and a duplicate never takes a slot
    val cent = train(rows, 8)
    assert(cent(0).size == g0.size && cent(0).toSet == g0.map(quant).toSet, s"group 0: ${cent(0)}")
    assert(cent(1).size == g1.size && cent(1).toSet == g1.map(quant).toSet, s"group 1: ${cent(1)}")
    // k < distinct points: k centroids, each inside the bounding box
    val rnd = new scala.util.Random(7)
    val cloud = Seq.fill(40)(Seq.fill(3)(rnd.nextDouble() * 2 - 1))
    val c4 = train(cloud.zipWithIndex.map { case (v, i) => (0, i.toLong, v) }, 4)(0)
    assert(c4.size == 4)
    val qc = cloud.map(quant)
    (0 until 3).foreach { j =>
      val (lo, hi) = (qc.map(_(j)).min, qc.map(_(j)).max)
      assert(c4.forall(c => c(j) >= lo && c(j) <= hi), s"dim $j outside [$lo, $hi]: $c4")
    }
  }
}

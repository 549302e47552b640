package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftnative.CheckpointRelease
import graft.tools.{Derived, MemoRegistry}

/** The session-scoped derived-artifact store ([[graft.tools.Derived]])
  * against a live session: lost blocks rebuild, releaseAll frees them,
  * and a corpus rewritten in place rebuilds what was derived from it. */
class DerivedStoreSpec extends SparkTestBase {

  private def rows(key: String): Seq[String] =
    SparkEntry.queries(key)(spark, SF).collect().map(_.toString).toSeq

  test("tokenizer models rebuild exactly once after their segmentation blocks are lost") {
    import graft.operators.{LlmTextOps, UnigramOps, WordPieceOps}
    // (encode key, the memoized segmentation frame, trainer counter)
    val families: Seq[(String, () => DataFrame, java.util.concurrent.atomic.AtomicLong)] = Seq(
      ("llm_bpe_encode", () => LlmTextOps.bpeTrainCore(spark, SF)._2, LlmTextOps.bpeTrainRuns),
      ("llm_unigram_encode", () => UnigramOps.unigramCore(spark, SF)._2, UnigramOps.unigramTrainRuns),
      ("llm_wordpiece_encode", () => WordPieceOps.wordpieceCore(spark, SF)._3,
        WordPieceOps.wordpieceTrainRuns))
    for ((key, seg, trainRuns) <- families) {
      val before = rows(key)
      val runs = trainRuns.get()
      // an executor loss, simulated: the checkpoint blocks are gone
      CheckpointRelease.release(seg())
      val after = rows(key)
      assert(trainRuns.get() == runs + 1, s"$key: expected exactly one retrain")
      assert(after == before && after.nonEmpty, s"$key: rows changed after the rebuild")
    }
  }

  test("releaseAll empties the store and unpersists every memoized frame") {
    def rddIds(df: DataFrame): Seq[Int] =
      df.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }
    MemoRegistry.releaseAll()
    assert(Derived.size == 0)
    // one key per memoizing family: geo, graph, LLM stage, corpus stage,
    // a tuple-valued tokenizer model, a driver-side codebook, ML vectors
    val runs: Seq[(String, () => Any)] =
      Seq("geo_radius_join", "graph_pagerank", "graph_components", "llm_dedup_clusters",
        "llm_bm25_topk", "llm_bpe_encode", "emb_pq_adc").map(k => k -> (() => rows(k))) :+
        ("kmeans" -> (() => ml.MlPipelines.kmeansEmbeddings(spark, SF)))
    for ((name, run) <- runs) {
      val n = Derived.size
      run()
      assert(Derived.size > n, s"$name memoized nothing")
    }
    val ids = Derived.frames.flatMap(rddIds).toSet
    def cached = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    assert((ids & cached).nonEmpty)
    MemoRegistry.releaseAll()
    assert(Derived.size == 0)
    assert((ids & cached).isEmpty, s"still cached after releaseAll: ${ids & cached}")
  }

  test("a corpus rewritten in place rebuilds its artifacts in the same session; a non-table file rebuilds none") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.SparkSession
    import graft.operators.LlmTextOps
    import graft.tables.VersionedTable
    // simhash, substring_spans and geo_radius_pairs artifacts
    val keys = Seq("llm_dedup_simhash", "llm_dedup_substring", "geo_radius_join")
    val tables = Seq("documents", "supplier", "customer")
    // a WRITABLE copy of the corpus, so it can be rewritten at the same path
    val dir = Files.createTempDirectory("graft_derivedfp").toString
    tables.foreach(t => Files.copy(Paths.get(SF, s"$t.parquet"), Paths.get(dir, s"$t.parquet")))
    def serve(s: SparkSession, ks: Seq[String]): Seq[Seq[String]] =
      ks.map(k => SparkEntry.queries(k)(s, dir).collect().map(_.toString).toSeq)
    val before = serve(spark, keys)
    // the next fixture scale's files replace them at the same paths
    val larger = Paths.get(SF).resolveSibling("sf0.01")
    tables.foreach(t => Files.copy(larger.resolve(s"$t.parquet"),
      Paths.get(dir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING))
    val after = serve(spark, keys)
    val fresh = serve(spark.newSession(), keys)
    for ((k, (a, f)) <- keys.zip(after.zip(fresh)))
      assert(a == f, s"$k: the session served rows derived from the replaced files")
    assert(after != before)
    // a persisted root inside the corpus directory is not a corpus
    // table: the serves after it build nothing, trainers included
    val warm = keys :+ "llm_bpe_encode"
    val served = serve(spark, warm)
    VersionedTable.create(spark, Paths.get(dir, "ann", "t").toString, spark.range(3).toDF("k"))
    val (n, runs) = (Derived.size, LlmTextOps.bpeTrainRuns.get())
    MemoRegistry.BuildLog.reset()
    MemoRegistry.BuildLog.setKey("after_non_table_write")
    try {
      assert(serve(spark, warm) == served)
      assert(MemoRegistry.BuildLog.snapshot().isEmpty,
        s"builds after a non-table write: ${MemoRegistry.BuildLog.snapshot()}")
      assert(Derived.size == n && LlmTextOps.bpeTrainRuns.get() == runs)
    } finally MemoRegistry.BuildLog.reset()
  }
}

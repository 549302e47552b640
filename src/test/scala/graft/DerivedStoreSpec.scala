package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftnative.CheckpointRelease
import graft.tools.{Derived, MemoRegistry}

/** The session-scoped derived-artifact store ([[graft.tools.Derived]])
  * against a live session: lost blocks rebuild, releaseAll frees them. */
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
}

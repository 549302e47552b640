package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.{MulticlassClassificationEvaluator, RegressionEvaluator}
import org.apache.spark.ml.feature._
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.MlOps

/** MLlib pipeline surface beyond the oracle-checked feature transforms
  * (SURVEY.md §2.J5–J10, K2). Everything seeded; behavior is threshold-
  * tested in MlPipelinesSpec — never cross-engine equality (hash spaces
  * and seeded initializations are implementation-specific).
  *
  * 100 TB notes: HashingTF/IDF are one pass + one broadcast (the IDF
  * vector); KMeans is one treeAggregate per iteration with broadcast
  * centroids; LogisticRegression is L-BFGS with one aggregation job per
  * step; ALS block-partitions the rating matrix. All fit the
  * driver-coordinates / executors-aggregate pattern — nothing collects
  * raw data to the driver.
  */
object MlPipelines {
  val Seed = 42L

  /** J5: tokenize → HashingTF(2^18, murmur3) → IDF. Returns the fitted
    * model and the transformed corpus with a `tfidf` vector column. */
  def tfidf(docs: DataFrame, numFeatures: Int = 1 << 18): (PipelineModel, DataFrame) = {
    val pipe = new Pipeline().setStages(Array(
      MlOps.tokenizer(),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(numFeatures),
      new IDF().setInputCol("tf").setOutputCol("tfidf")))
    val model = pipe.fit(docs)
    (model, model.transform(docs))
  }

  /** J6: StringIndexer → OneHotEncoder → VectorAssembler feature prep over
    * customer (mktsegment one-hot + acctbal). */
  def customerFeatures(customer: DataFrame): DataFrame = {
    val pipe = new Pipeline().setStages(Array(
      new StringIndexer().setInputCol("c_mktsegment").setOutputCol("seg_idx")
        .setStringOrderType("frequencyDesc"),
      new OneHotEncoder().setInputCol("seg_idx").setOutputCol("seg_oh"),
      new VectorAssembler().setInputCols(Array("seg_oh", "c_acctbal")).setOutputCol("features")))
    pipe.fit(customer).transform(customer)
  }

  /** J7: seeded KMeans over the embedding vectors. maxIter is modest —
    * downstream uses (IVF bucketing) need stable assignments, not a
    * converged objective. */
  def kmeansEmbeddings(spark: SparkSession, sfDir: String, k: Int = 10,
                       maxIter: Int = 8): (KMeansModel, DataFrame) = {
    // materialized once: KMeans re-scans its input every iteration (one
    // job each) — without this the parquet read + vector conversion
    // reruns 8×. Routed through the Derived store, NOT a bare .cache():
    // an unreleased cache pinned a corpus-sized frame in the block
    // manager for the session's lifetime, the leak the store's release
    // exists to close.
    val vecs = graft.tools.Derived(spark, sfDir, "ml_vecs") {
      Tables.load(spark, sfDir, "embeddings")
        .withColumn("features", array_to_vector(col("embedding")))
        .localCheckpoint(true)
    }
    // random init: kmeans|| costs extra full passes; for IVF bucketing
    // (and seeded tests) random centroids converge just as usefully
    val model = new KMeans().setK(k).setSeed(Seed).setMaxIter(maxIter)
      .setInitMode("random").setFeaturesCol("features").fit(vecs)
    (model, model.transform(vecs))
  }

  /** J8: end-to-end text-classification pipeline — tokenize → stopwords →
    * HashingTF → IDF → LogisticRegression predicting `lang`. Returns the
    * fitted model and the seeded-split test accuracy. */
  def langClassifier(spark: SparkSession, sfDir: String): (PipelineModel, Double) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val Array(train, test) = docs.randomSplit(Array(0.8, 0.2), Seed)
    val pipe = new Pipeline().setStages(Array(
      MlOps.tokenizer(),
      new StopWordsRemover().setInputCol("toks").setOutputCol("kept")
        .setStopWords(MlOps.PinnedStopwords).setCaseSensitive(true),
      new HashingTF().setInputCol("kept").setOutputCol("tf").setNumFeatures(1 << 16),
      new IDF().setInputCol("tf").setOutputCol("features"),
      // "skip", not the default "error": a rare language landing only in
      // the test split (or a CV fold) must be skipped, not kill transform
      new StringIndexer().setInputCol("lang").setOutputCol("label")
        .setStringOrderType("frequencyDesc").setHandleInvalid("skip"),
      new LogisticRegression().setMaxIter(20).setRegParam(0.01)))
    val model = pipe.fit(train)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("label").setPredictionCol("prediction").setMetricName("accuracy")
      .evaluate(model.transform(test))
    (model, acc)
  }

  /** J9: ALS recommender on ratings synthesized from purchase events
    * (item = the JSON props key, rating = event value). Returns train RMSE. */
  def alsPurchases(spark: SparkSession, sfDir: String): Double = {
    val ratings = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id").cast("int").as("user"),
        get_json_object(col("props"), "$.k").cast("int").as("item"),
        col("value").cast("float").as("rating"))
      // a purchase without $.k (or a non-numeric value) yields nulls that
      // ALS.fit rejects outright — drop them instead of dying on one row
      .na.drop(Seq("user", "item", "rating"))
    val model = new ALS().setSeed(Seed).setRank(8).setMaxIter(5)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .fit(ratings)
    model.setColdStartStrategy("drop")
    new RegressionEvaluator().setMetricName("rmse")
      .setLabelCol("rating").setPredictionCol("prediction")
      .evaluate(model.transform(ratings))
  }

  /** J10: CrossValidator over the LogReg regularization grid (small grid /
    * folds — the surface, not a tuning exercise). */
  def crossValidatedLangClassifier(spark: SparkSession, sfDir: String): (Double, Double) = {
    val docs = Tables.load(spark, sfDir, "documents")
    val lr = new LogisticRegression().setMaxIter(10)
    val pipe = new Pipeline().setStages(Array(
      MlOps.tokenizer(),
      new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(1 << 14),
      new IDF().setInputCol("tf").setOutputCol("features"),
      new StringIndexer().setInputCol("lang").setOutputCol("label")
        .setHandleInvalid("skip"), // see langClassifier
      lr))
    val grid = new ParamGridBuilder().addGrid(lr.regParam, Array(0.01, 0.5)).build()
    val cv = new CrossValidator().setSeed(Seed).setNumFolds(2)
      .setEstimator(pipe).setEvaluator(new MulticlassClassificationEvaluator()
        .setLabelCol("label").setPredictionCol("prediction").setMetricName("accuracy"))
      .setEstimatorParamMaps(grid)
    val model = cv.fit(docs)
    (model.avgMetrics.max, model.avgMetrics.min)
  }

  /** Classic learner surface (unit-tested thresholds, seeded). */

  /** Shared featurized frame for the embedding classifiers — one prep so
    * tree and forest provably train on identical data. */
  private def labeledEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.load(spark, sfDir, "embeddings")
      .withColumn("features", array_to_vector(col("embedding")))
      .withColumn("label", col("label").cast("double"))

  /** Decision tree over embeddings → label. */
  def decisionTreeEmbeddings(spark: SparkSession, sfDir: String): Double = {
    val vecs = labeledEmbeddings(spark, sfDir)
    val model = new org.apache.spark.ml.classification.DecisionTreeClassifier()
      .setSeed(Seed).setMaxDepth(5).fit(vecs)
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .evaluate(model.transform(vecs))
  }

  /** Multinomial NaiveBayes on term counts → lang (the classic text
    * classifier; counts are non-negative as NB requires). */
  def naiveBayesLang(spark: SparkSession, sfDir: String): Double = {
    val docs = Tables.load(spark, sfDir, "documents")
    val pipe = new Pipeline().setStages(Array(
      MlOps.tokenizer(),
      new HashingTF().setInputCol("toks").setOutputCol("features").setNumFeatures(1 << 14),
      new StringIndexer().setInputCol("lang").setOutputCol("label"),
      new org.apache.spark.ml.classification.NaiveBayes().setModelType("multinomial")))
    val model = pipe.fit(docs)
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .evaluate(model.transform(docs))
  }

  /** Linear regression on a known linear target (the synthetic lineitem has
    * no quantity~price correlation, so the estimator is checked by
    * coefficient recovery: label = 100·qty + 10·discount).
    * Returns (r2, qtyCoefficient). */
  def linearRegressionLineitem(spark: SparkSession, sfDir: String): (Double, Double) = {
    val df = new VectorAssembler().setInputCols(Array("l_quantity", "l_discount"))
      .setOutputCol("features")
      .transform(Tables.load(spark, sfDir, "lineitem"))
      .withColumn("label", col("l_quantity") * 100.0 + col("l_discount") * 10.0)
    val model = new org.apache.spark.ml.regression.LinearRegression()
      .setMaxIter(20).fit(df)
    (model.summary.r2, model.coefficients(0))
  }

  /** Random forest over embeddings → label (ensemble twin of the single
    * decision tree; seeded). Returns training accuracy. */
  def randomForestEmbeddings(spark: SparkSession, sfDir: String): Double = {
    val vecs = labeledEmbeddings(spark, sfDir)
    val model = new org.apache.spark.ml.classification.RandomForestClassifier()
      .setSeed(Seed).setNumTrees(20).setMaxDepth(5).fit(vecs)
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .evaluate(model.transform(vecs))
  }

  /** Gradient-boosted trees over embeddings → binary label (GBTClassifier
    * only supports binary — label parity keeps the fixture's 0..k labels
    * usable). Boosting is sequential by nature: one tree fit per iteration,
    * each a distributed job — fine at 100 TB, just latency-bound by
    * iterations. Returns training accuracy. */
  def gbtEmbeddings(spark: SparkSession, sfDir: String): Double = {
    val vecs = labeledEmbeddings(spark, sfDir)
      .withColumn("label", (col("label") % 2).cast("double"))
    val model = new org.apache.spark.ml.classification.GBTClassifier()
      .setSeed(Seed).setMaxIter(10).setMaxDepth(4).fit(vecs)
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .evaluate(model.transform(vecs))
  }

  /** One-vs-rest multiclass reduction wrapping a binary LogisticRegression
    * over embeddings → label (k parallel binary fits — each an independent
    * distributed job). Returns training accuracy. */
  def oneVsRestEmbeddings(spark: SparkSession, sfDir: String): Double = {
    val vecs = labeledEmbeddings(spark, sfDir)
    val ovr = new org.apache.spark.ml.classification.OneVsRest()
      .setClassifier(new LogisticRegression().setMaxIter(15).setRegParam(0.01))
    new MulticlassClassificationEvaluator().setMetricName("accuracy")
      .evaluate(ovr.fit(vecs).transform(vecs))
  }

  /** FPGrowth frequent itemsets over per-order part baskets (market-basket
    * mining — the classic MLlib-era workload). Returns the itemsets frame
    * (items array + freq). */
  def fpGrowthBaskets(spark: SparkSession, sfDir: String,
                      minSupport: Double = 0.01): DataFrame = {
    val baskets = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), (col("l_partkey") % 50).as("item"))
      .groupBy("l_orderkey")
      .agg(collect_set("item").as("items"))
    new org.apache.spark.ml.fpm.FPGrowth()
      .setItemsCol("items").setMinSupport(minSupport).setMinConfidence(0.1)
      .fit(baskets).freqItemsets
  }

  /** PCA of the 64-dim embeddings down to k components. */
  def pcaEmbeddings(spark: SparkSession, sfDir: String, k: Int = 8): (Int, Array[Double]) = {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new org.apache.spark.ml.feature.PCA().setK(k)
      .setInputCol("features").setOutputCol("pca").fit(vecs)
    val dim = model.transform(vecs).select("pca").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    (dim, model.explainedVariance.toArray)
  }

  /** Seeded Word2Vec over document tokens. Returns (vocabSize, vectorDim). */
  def word2vecDocs(spark: SparkSession, sfDir: String, dim: Int = 16): (Long, Int) = {
    val toks = MlOps.tokenizer().transform(Tables.load(spark, sfDir, "documents"))
    val model = new org.apache.spark.ml.feature.Word2Vec().setSeed(Seed)
      .setInputCol("toks").setOutputCol("w2v").setVectorSize(dim).setMinCount(2)
      .fit(toks)
    (model.getVectors.count(), dim)
  }

  /** Seeded LDA topic model over CountVectorizer term counts (hashing-free
    * so topics map back to real terms). Returns (k, vocabSize, per-topic
    * top term indices). At 100 TB: online LDA (the default optimizer)
    * processes mini-batches of documents per iteration — one
    * treeAggregate-shaped job each — with the topic matrix broadcast. */
  def ldaDocs(spark: SparkSession, sfDir: String, k: Int = 5): (Int, Int, Array[Array[Int]]) = {
    val toks = MlOps.tokenizer().transform(Tables.load(spark, sfDir, "documents"))
    val cv = new org.apache.spark.ml.feature.CountVectorizer()
      .setInputCol("toks").setOutputCol("tf").setVocabSize(2048).setMinDF(2)
      .fit(toks)
    val lda = new org.apache.spark.ml.clustering.LDA()
      .setSeed(Seed).setK(k).setMaxIter(10).setFeaturesCol("tf")
      .fit(cv.transform(toks))
    val topics = lda.describeTopics(5).collect()
      .map(_.getAs[scala.collection.Seq[Int]]("termIndices").toArray)
    (lda.getK, cv.vocabulary.length, topics)
  }

  /** ml.stat surface: Pearson correlation matrix over assembled columns. */
  def correlationMatrix(spark: SparkSession, sfDir: String): org.apache.spark.ml.linalg.Matrix = {
    val df = new VectorAssembler()
      .setInputCols(Array("l_quantity", "l_extendedprice", "l_discount"))
      .setOutputCol("features")
      .transform(Tables.load(spark, sfDir, "lineitem"))
    org.apache.spark.ml.stat.Correlation.corr(df, "features").head()
      .getAs[org.apache.spark.ml.linalg.Matrix](0)
  }

  /** K2: near-duplicate detection — 5-gram word shingles → binary
    * HashingTF → seeded MinHashLSH self-join at Jaccard distance ≤
    * maxDistance. The 100 TB dedup path: banded hashes shard candidate
    * generation; only same-band pairs are compared. */
  def nearDupMinhash(docs: DataFrame, maxDistance: Double = 0.2): DataFrame = {
    val withShingles = new NGram().setN(5).setInputCol("toks").setOutputCol("shingles")
      .transform(MlOps.tokenizer().transform(docs))
      .filter(size(col("shingles")) > 0)
    val tf = new HashingTF().setInputCol("shingles").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true)
    val hashed = tf.transform(withShingles)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(5).setSeed(Seed).fit(hashed)
    lsh.approxSimilarityJoin(hashed, hashed, maxDistance, "dist")
      .select(col("datasetA.doc_id").as("a_id"), col("datasetB.doc_id").as("b_id"),
        round(col("dist"), 4).as("dist"))
      .filter(col("a_id") < col("b_id"))
  }
}

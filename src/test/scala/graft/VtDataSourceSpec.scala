package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import graft.tables.VersionedTable

/** The `graft-vt` data source: short-name registration, snapshot/time-
  * travel parity with the VersionedTable API, stats and bloom file
  * skipping observable through Spark's `numFiles` scan metric, the plan
  * being Spark's own parquet scan, and the count(*) empty-projection
  * path. */
class VtDataSourceSpec extends SparkTestBase {

  private lazy val root: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_vtsrc").toString
    val orders = Tables.load(spark, SF, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .repartitionByRange(8, col("o_totalprice"))
    val t = VersionedTable.create(spark, dir + "/t", orders, statsCol = Some("o_totalprice"))
    // v1: append a small tail so time travel has something to distinguish
    t.append(orders.filter(col("o_orderkey") <= 32))
    dir + "/t"
  }

  private def src = spark.read.format("graft-vt").option("path", root)

  test("graft-vt resolves by short name and reads the current snapshot") {
    val viaSource = src.load()
    val direct = VersionedTable.open(spark, root).read()
    assert(viaSource.schema == direct.schema)
    assert(viaSource.count() == direct.count() && viaSource.count() > 0)
  }

  test("asOf option time-travels to the pre-append snapshot") {
    val v0 = src.option("asOf", "0").load().count()
    val v1 = src.load().count()
    val tail = Tables.load(spark, SF, "orders").filter(col("o_orderkey") <= 32).count()
    assert(v1 == v0 + tail && tail > 0)
  }

  test("range predicate skips files at the manifest level, result unchanged") {
    val t = VersionedTable.open(spark, root)
    val allFiles = t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size
    val filtered = src.load()
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") < 110000.0)
    val expected = t.read()
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") < 110000.0)
      .count()
    assert(filtered.collect().length == expected && expected > 0)
    val scanned = VersionedTable.filesScanned(filtered)
    assert(scanned > 0 && scanned < allFiles,
      s"expected file skipping: scanned $scanned of $allFiles range-layout files")
  }

  test("non-stats filters scan everything but stay correct") {
    val t = VersionedTable.open(spark, root)
    val allFiles = t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size
    val q = src.load().filter(col("o_custkey") % 7 === 0)
    val n = q.collect().length
    val expected = t.read().filter(col("o_custkey") % 7 === 0).count()
    assert(n == expected && VersionedTable.filesScanned(q) == allFiles)
  }

  test("bloom-column equality skips files through graft-vt, result unchanged") {
    import spark.implicits._
    // hash layout: every file's key range overlaps, only the blooms prune
    val dir = java.nio.file.Files.createTempDirectory("graft_vtbloom").toString + "/t"
    val t = VersionedTable.create(spark, dir,
      spark.range(4000).select(col("id"), (col("id") % 10).as("v")).repartition(8, col("id")),
      bloomCol = Some("id"))
    val live = t.read().inputFiles.length
    val q = spark.read.format("graft-vt").option("path", dir).load().filter(col("id") === 1234L)
      .select("id", "v").as[(Long, Long)]
    assert(q.collect().toSeq == Seq((1234L, 4L)))
    val scanned = VersionedTable.filesScanned(q)
    assert(live == 8 && scanned > 0 && scanned < live,
      s"expected bloom skipping: scanned $scanned of $live hash-layout files")
  }

  test("the plan is Spark's parquet file scan with the predicate pushed, not a row scan") {
    val q = src.load().filter(col("o_totalprice") >= 100000.0)
    val plan = q.queryExecution.executedPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan.toString)
    assert(scans.head.metadata("PushedFilters").contains("o_totalprice"), plan.toString)
    assert(plan.collect { case s: RowDataSourceScanExec => s }.isEmpty, plan.toString)
    assert(!plan.toString.contains("ExistingRDD"), plan.toString)
  }

  test("count(*) survives the empty-projection path") {
    assert(src.load().count() == VersionedTable.open(spark, root).read().count())
  }

  test("mixed translatable/opaque predicates stay exact through the inner-scan re-application") {
    val t = VersionedTable.open(spark, root)
    // an IN on another column, a range on the stats column (the only
    // predicate the file index prunes on) and opaque modulo arithmetic:
    // both paths must agree with the direct read under the same predicates.
    def pred(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("o_custkey").isin(1L, 2L, 3L, 5L, 8L, 13L) &&
        col("o_totalprice") >= 50000.0 && col("o_orderkey") % 2 === 0)
    assert(pred(src.load()).count() == pred(t.read()).count())
    val viaSource = pred(src.load()).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    val direct = pred(t.read()).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSource == direct && viaSource.nonEmpty)
  }

  test("write path: ErrorIfExists creates, Append commits a version, Overwrite refused") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_vtw").toString + "/t"
    val nation = Tables.load(spark, SF, "nation").select("n_nationkey", "n_name")
    nation.write.format("graft-vt").option("path", dir)
      .mode(SaveMode.ErrorIfExists).save()
    assert(spark.read.format("graft-vt").option("path", dir).load().count() == nation.count())
    intercept[Exception] {
      nation.write.format("graft-vt").option("path", dir)
        .mode(SaveMode.ErrorIfExists).save()
    }
    nation.filter(col("n_nationkey") < 5).write.format("graft-vt")
      .option("path", dir).mode(SaveMode.Append).save()
    val t = VersionedTable.open(spark, dir)
    assert(t.currentVersion == 1 && t.read().count() == nation.count() + 5)
    // time travel still sees the pre-append snapshot
    assert(t.read(Some(0)).count() == nation.count())
    intercept[UnsupportedOperationException] {
      nation.write.format("graft-vt").option("path", dir)
        .mode(SaveMode.Overwrite).save()
    }
  }

  test("write path: statsCol option enables file skipping from version 0") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft_vtw2").toString + "/t"
    Tables.load(spark, SF, "orders")
      .select("o_orderkey", "o_totalprice")
      .repartitionByRange(4, col("o_totalprice"))
      .write.format("graft-vt").option("path", dir).option("statsCol", "o_totalprice")
      .mode(SaveMode.Append).save()
    val t = VersionedTable.open(spark, dir)
    assert(t.statsCol.contains("o_totalprice"))
    assert(t.pruneFiles(0.0, 1.0).size < t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size)
  }

  test("persisted BPE tokenizer: cross-session serve with ZERO retraining, identical encode") {
    import graft.operators.LlmTextOps
    // build (and persist) the merge list under the base session — this
    // may train once
    LlmTextOps.bpeIndexRoot(spark, SF)
    val trained = LlmTextOps.llmBpeEncode(spark, SF).collect().map(_.toString).toSeq
    // fresh session: cold trainer memos, so any training on the serve
    // path would rerun the 8-round argmax loop and bump the counter
    val s2 = spark.newSession()
    val before = LlmTextOps.bpeTrainRuns.get()
    val merges = LlmTextOps.bpeMergesFromIndex(s2, SF)
    val served = LlmTextOps.llmBpePersisted(s2, SF).collect().map(_.toString).toSeq
    assert(LlmTextOps.bpeTrainRuns.get() == before,
      "serving from the persisted tokenizer re-ran BPE training")
    assert(merges.size == 8, s"expected the 8 committed merges, got ${merges.size}")
    // the served encode is the trained-path encode, row for row
    assert(served == trained && served.nonEmpty)
  }

  test("persisted unigram model: cross-session serve with ZERO retraining, identical encode") {
    import graft.operators.UnigramOps
    UnigramOps.unigramIndexRoot(spark, SF)
    val trained = UnigramOps.llmUnigramEncode(spark, SF).collect().map(_.toString).toSeq
    val s2 = spark.newSession()
    val before = UnigramOps.unigramTrainRuns.get()
    val scores = UnigramOps.unigramScoresFromIndex(s2, SF)
    val served = UnigramOps.llmUnigramPersisted(s2, SF).collect().map(_.toString).toSeq
    assert(UnigramOps.unigramTrainRuns.get() == before,
      "serving from the persisted model re-ran Viterbi-EM training")
    assert(scores.nonEmpty && scores.size <= UnigramOps.TopMulti + 64,
      s"vocab lookup out of bounds: ${scores.size}")
    assert(served == trained && served.nonEmpty)
  }

  test("persisted WordPiece vocabulary: cross-session serve with ZERO retraining, identical encode") {
    import graft.operators.WordPieceOps
    WordPieceOps.wordpieceIndexRoot(spark, SF)
    val trained = WordPieceOps.llmWordpieceEncode(spark, SF).collect().map(_.toString).toSeq
    val s2 = spark.newSession()
    val before = WordPieceOps.wordpieceTrainRuns.get()
    val vocab = WordPieceOps.wordpieceVocabFromIndex(s2, SF)
    val served = WordPieceOps.llmWordpiecePersisted(s2, SF).collect().map(_.toString).toSeq
    assert(WordPieceOps.wordpieceTrainRuns.get() == before,
      "serving from the persisted vocabulary re-ran WordPiece training")
    assert(vocab.nonEmpty && vocab == vocab.sorted && vocab == vocab.distinct)
    assert(served == trained && served.nonEmpty)
  }

  test("persisted ANN index: cross-session serve with ZERO retraining, exact roundtrip") {
    import graft.operators.{LlmTextOps, PortableQuantizer}
    // build (and persist) the index under the base session — this may train
    val root = PortableQuantizer.indexRoot(spark, SF)
    val trained = PortableQuantizer.ivfCentroids(spark, SF)
    val trainedPq = PortableQuantizer.pqCodebook(spark, SF)
    // a FRESH session: new session uuid → every trainer memo is cold, so
    // any training on the serve path would run Lloyd's again and bump
    // the counter
    val s2 = spark.newSession()
    val before = PortableQuantizer.trainRuns.get()
    val served = PortableQuantizer.ivfFromIndex(s2, SF)
    val servedPq = PortableQuantizer.pqFromIndex(s2, SF)
    val pairs = LlmTextOps.annIvfPersisted(s2, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(PortableQuantizer.trainRuns.get() == before,
      "serving from the persisted index re-ran Lloyd's training")
    // exact int64 roundtrip through the versioned table
    assert(served == trained)
    assert(servedPq == trainedPq)
    // and the served answer is the trained-path answer
    val direct = LlmTextOps.annIvfTopk(spark, SF).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == direct && pairs.nonEmpty)
    // time travel: v0 is the whole index, IVF and PQ in one commit
    val v0 = spark.read.format("graft-vt").option("path", root)
      .option("asOf", "0").load()
    assert(v0.filter(col("kind") === "ivf").count() == trained.size)
    assert(v0.filter(col("kind") === "pq").count() ==
      trainedPq.map(_.size).sum)
    // restart-equivalence: bootstrap against an ALREADY-COMMITTED durable
    // root (what a restarted process does) is a pure open — the
    // build-if-absent check must see v0 and run zero training jobs
    val before2 = PortableQuantizer.trainRuns.get()
    val again = PortableQuantizer.indexRootAt(s2, SF,
      root.stripSuffix("/t"))
    assert(again == root)
    assert(PortableQuantizer.trainRuns.get() == before2,
      "re-bootstrap of a committed index root re-ran training")
  }

  test("corpus stamp: in-place corpus mutation retrains the persisted tokenizer exactly once") {
    import graft.operators.WordPieceOps
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // a WRITABLE copy of the corpus, so it can be mutated at the same path
    val dir = Files.createTempDirectory("graft_fpcorpus").toString
    Files.copy(Paths.get(SF, "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val before = WordPieceOps.wordpieceTrainRuns.get()
    val out1 = WordPieceOps.llmWordpiecePersisted(spark, dir).collect().map(_.toString).toSeq
    assert(WordPieceOps.wordpieceTrainRuns.get() == before + 1, "first build trains once")
    WordPieceOps.llmWordpiecePersisted(spark, dir).collect()
    assert(WordPieceOps.wordpieceTrainRuns.get() == before + 1,
      "unchanged corpus must serve with zero trains")
    val root = WordPieceOps.wordpieceIndexRoot(spark, dir)
    val vBefore = VersionedTable.open(spark, root).currentVersion
    // mutate the corpus IN PLACE at the same path (different content,
    // size and mtime — the staleness the metadata fingerprint detects)
    Files.copy(Paths.get("/root/testdata/sf0.01", "documents.parquet"),
      Paths.get(dir, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val out2 = WordPieceOps.llmWordpiecePersisted(spark, dir).collect().map(_.toString).toSeq
    assert(WordPieceOps.wordpieceTrainRuns.get() == before + 2,
      "mutated corpus must retrain EXACTLY once")
    assert(VersionedTable.open(spark, root).currentVersion == vBefore + 1,
      "the retrain must RE-VERSION the persisted vocabulary")
    assert(out2 != out1, "the serve must reflect the mutated corpus")
    // the served answer equals the trained-path answer on the NEW corpus,
    // from the SAME fp-keyed memo — no third training run
    val direct = WordPieceOps.llmWordpieceEncode(spark, dir).collect().map(_.toString).toSeq
    assert(out2 == direct && WordPieceOps.wordpieceTrainRuns.get() == before + 2)
    // re-sealed: the post-retrain state serves with zero trains again
    WordPieceOps.llmWordpiecePersisted(spark, dir).collect()
    assert(WordPieceOps.wordpieceTrainRuns.get() == before + 2)
  }

  test("corpus stamp: Tables.load re-resolves a table rewritten in place") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_fpload").toString
    Files.copy(Paths.get(SF, "customer.parquet"), Paths.get(dir, "customer.parquet"))
    assert(Tables.load(spark, dir, "customer").count() ==
      spark.read.parquet(s"$SF/customer.parquet").count())
    // a LARGER file at the same path: a plan that kept the old listing
    // would read none of its row groups
    Files.copy(Paths.get("/root/testdata/sf0.01", "customer.parquet"),
      Paths.get(dir, "customer.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.load(spark, dir, "customer").count() ==
      spark.read.parquet("/root/testdata/sf0.01/customer.parquet").count())
  }

  test("persisted artifact: concurrent first serves of a fresh corpus build once, one root, one version") {
    import graft.operators.{GeoOps, LlmTextOps, PortableQuantizer, UnigramOps, WordPieceOps}
    import java.nio.file.{Files, Paths}
    // every persisted root: (name, corpus table it derives from, serve)
    val rows: Seq[(String, String, String => String)] = Seq(
      ("bpe", "documents", LlmTextOps.bpeIndexRoot(spark, _)),
      ("substring", "documents", LlmTextOps.substringIndexRoot(spark, _)),
      ("unigram", "documents", UnigramOps.unigramIndexRoot(spark, _)),
      ("wordpiece", "documents", WordPieceOps.wordpieceIndexRoot(spark, _)),
      ("geo", "customer", GeoOps.geoTable(spark, _).root),
      ("ann", "embeddings", { dir =>
        PortableQuantizer.indexRootAt(spark, dir, Paths.get(dir, "ann").toString) }))
    for ((name, table, serve) <- rows) {
      val dir = Files.createTempDirectory("graft_fpfirst").toString
      Files.copy(Paths.get(SF, s"$table.parquet"), Paths.get(dir, s"$table.parquet"))
      // both threads reach the build-if-absent check together
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val roots = try (0 until 2).map(_ => pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = { gate.await(); serve(dir) }
        })).map(_.get())
      finally pool.shutdown()
      assert(roots.distinct.size == 1, s"$name: ${roots.mkString(", ")}")
      assert(VersionedTable.open(spark, roots.head).versions == Seq(0), name)
    }
  }

  test("persisted substring known-hash index: cross-session serve with ZERO rebuilds, identical profile") {
    import graft.operators.LlmTextOps
    LlmTextOps.substringIndexRoot(spark, SF) // may build once
    val derived = LlmTextOps.llmDedupSubstringIncremental(spark, SF)
      .collect().map(_.toString).toSeq
    // fresh session: cold memos, so any scan of the existing corpus on
    // the serve path would re-derive the hash table and bump the counter
    val s2 = spark.newSession()
    val before = LlmTextOps.substringIndexBuilds.get()
    val served = LlmTextOps.llmDedupSubstringPersisted(s2, SF)
      .collect().map(_.toString).toSeq
    assert(LlmTextOps.substringIndexBuilds.get() == before,
      "serving from the persisted index re-derived the known-hash table")
    assert(served == derived && served.nonEmpty)
  }

  test("corpus stamp: in-place corpus mutation rebuilds the substring index exactly once") {
    import graft.operators.LlmTextOps
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_subfp").toString
    Files.copy(Paths.get(SF, "documents.parquet"),
      Paths.get(dir, "documents.parquet"))
    val before = LlmTextOps.substringIndexBuilds.get()
    val out1 = LlmTextOps.llmDedupSubstringPersisted(spark, dir).collect().map(_.toString).toSeq
    assert(LlmTextOps.substringIndexBuilds.get() == before + 1, "first serve builds once")
    LlmTextOps.llmDedupSubstringPersisted(spark, dir).collect()
    assert(LlmTextOps.substringIndexBuilds.get() == before + 1,
      "unchanged corpus must serve with zero builds")
    val root = LlmTextOps.substringIndexRoot(spark, dir)
    val vBefore = VersionedTable.open(spark, root).currentVersion
    Files.copy(Paths.get("/root/testdata/sf0.01", "documents.parquet"),
      Paths.get(dir, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val out2 = LlmTextOps.llmDedupSubstringPersisted(spark, dir).collect().map(_.toString).toSeq
    assert(LlmTextOps.substringIndexBuilds.get() == before + 2,
      "mutated corpus must rebuild EXACTLY once")
    assert(VersionedTable.open(spark, root).currentVersion == vBefore + 1,
      "the rebuild must RE-VERSION the persisted hash table")
    assert(out2 != out1, "the serve must reflect the mutated corpus")
    // the served answer equals the derived path on the NEW corpus
    val direct = LlmTextOps.llmDedupSubstringIncremental(spark, dir)
      .collect().map(_.toString).toSeq
    assert(out2 == direct && LlmTextOps.substringIndexBuilds.get() == before + 2)
    // re-sealed: the post-rebuild state serves with zero builds again
    LlmTextOps.llmDedupSubstringPersisted(spark, dir).collect()
    assert(LlmTextOps.substringIndexBuilds.get() == before + 2)
  }

  test("stale ANN retrain: one IVF+PQ commit, later serves add none") {
    import graft.operators.PortableQuantizer
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_annfp").toString
    Files.copy(Paths.get(SF, "embeddings.parquet"), Paths.get(dir, "embeddings.parquet"))
    val base = Files.createTempDirectory("graft_annstale").toString
    val root = PortableQuantizer.indexRootAt(spark, dir, base) // full build, fpA
    val t0 = VersionedTable.open(spark, root)
    val vFull = t0.currentVersion
    val nPq = t0.read().filter(col("kind") === "pq").count()
    assert(nPq > 0)
    // mutate the corpus IN PLACE → fpB: the retrain must land IVF+PQ in
    // ONE commit, so no version ever serves a PQ-less index
    Files.copy(Paths.get("/root/testdata/sf0.01", "embeddings.parquet"),
      Paths.get(dir, "embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    PortableQuantizer.indexRootAt(spark, dir, base)
    val t1 = VersionedTable.open(spark, root)
    assert(t1.currentVersion == vFull + 1, "retrain must be ONE commit")
    assert(t1.read().filter(col("kind") === "pq").count() == nPq,
      "retrained snapshot must carry the FULL index atomically")
    // the re-sealed index is fresh: the next serve adds no version and
    // no rows, so the PQ batch is never duplicated
    val nRows = t1.read().count()
    PortableQuantizer.indexRootAt(spark, dir, base)
    val t2 = VersionedTable.open(spark, root)
    assert(t2.currentVersion == vFull + 1, "a fresh serve added a version")
    assert(t2.read().filter(col("kind") === "pq").count() == nPq, "PQ batch duplicated")
    assert(t2.read().count() == nRows)
  }

  test("ANN index bootstrap recovers a crashed create at version 0") {
    import graft.operators.PortableQuantizer
    // crashed first build: _manifests directory exists, but NO committed
    // version — the resume predicate must rebuild, not wedge on open
    val base = java.nio.file.Files.createTempDirectory("graft_annboot").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(base, "t", "_manifests"))
    val root = PortableQuantizer.indexRootAt(spark, SF, base)
    val t = VersionedTable.open(spark, root)
    assert(t.versions == Seq(0))
    assert(t.read().filter(col("kind") === "ivf").count() > 0 &&
      t.read().filter(col("kind") === "pq").count() > 0)
  }
}

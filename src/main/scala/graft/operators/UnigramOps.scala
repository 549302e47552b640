package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.{CheckpointRelease, GraftNative, UnigramSegment}
import graft.Tables

/** Unigram-LM (SentencePiece-style) tokenizer — the second trained
  * tokenizer family next to BPE (LlmTextOps.bpeTrainCore): modern
  * training-data pipelines measure token economics under BOTH, because
  * the two families disagree exactly on the morphology-heavy tail that
  * drives fertility.
  *
  * Algorithm (hard/Viterbi EM — the deterministic member of the EM
  * family, chosen so a DuckDB oracle can replay every step exactly):
  *   1. SEED: every substring of length 1..[[LMax]] of every distinct
  *      corpus word, weighted by word frequency; the vocabulary is all
  *      single characters (coverage guarantee — no UNK on the training
  *      domain) plus the [[TopMulti]] most frequent multi-character
  *      substrings ((f DESC, piece ASC) total order).
  *   2. EM ×[[EmRounds]]: E-step Viterbi-segments every distinct word
  *      under the current piece scores (native [[UnigramSegment]]
  *      expression — exact int64 DP, ties to the longest final piece);
  *      M-step recounts pieces over the segmentations (weighted by word
  *      frequency) and re-scores with add-one (Laplace) smoothing:
  *      s(p) = round(1e6 · ln((c(p)+1)/Σ(c+1))) — the ONE floating op,
  *      rounded to the integer score domain before any comparison, the
  *      engine's standard ln() determinism treatment.
  *   3. ENCODE: Viterbi under the final scores.
  *
  * Scale posture (100 TB): everything heavy is distributed — the word
  * histogram is one hash shuffle over the corpus, seeding is a
  * projection + one shuffle over the (bounded-fan-out) substring
  * explode, and each E-step is a map-side Viterbi over the DISTINCT-word
  * table followed by a vocabulary-sized aggregation. Driver state is the
  * vocabulary only (≤ [[TopMulti]] + alphabet rows, the same bounded
  * model-state collect as the PQ codebook); EM rounds are a fixed small
  * constant. Encoding the full corpus is a broadcast join of the word
  * stream against the distinct-word segmentation — exact-dedup's shape,
  * one map-side projection + one hash aggregation on doc_id.
  */
object UnigramOps {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Longest candidate piece, in characters. */
  val LMax = 4
  /** Multi-character vocabulary budget (single chars ride for free). */
  val TopMulti = 60
  /** Viterbi-EM rounds; fixed so the oracle unrolls (BPE discipline). */
  val EmRounds = 2
  /** Post-EM multi-char budget for the PRUNE step (llm_unigram_prune). */
  val PruneMulti = 24

  private def fix(x: Double): Long =
    math.floor(UnigramSegment.Scale * x + 0.5).toLong

  /** Trained model: (vocab rows (piece, final count, final score) in
    * insertion order; distinct-word table with final token counts,
    * checkpointed). Memoized per (session, dir) — llm_unigram_train
    * grades the first, llm_unigram_encode joins the second; without the
    * memo each grading/bench pass would pay the full EM (2 Viterbi
    * passes + 3 bounded collects) twice. */
  def unigramCore(s: SparkSession, d: String): (Seq[(String, Long, Long)], DataFrame) =
    // corpus fingerprint in the key: a corpus mutated in place at the
    // same path must MISS and retrain, not serve the stale model
    graft.tools.Derived(s, d, "unigram_train",
        graft.tables.CorpusStamp.fingerprint(d, "documents"))(trainUncached(s, d))

  /** Trainer-invocation counter — the spec hook proving the persisted-
    * tokenizer serve path (llm_unigram_persisted) never re-runs EM, the
    * bpeTrainRuns discipline applied to the second tokenizer family. */
  private[graft] val unigramTrainRuns = new java.util.concurrent.atomic.AtomicLong

  private def trainUncached(s: SparkSession, d: String): (Seq[(String, Long, Long)], DataFrame) = {
    unigramTrainRuns.incrementAndGet()
    // Distinct-word histogram — the table every later pass runs over.
    // Checkpointed once (4 consumers: seed, 2 E-steps, final encode);
    // released as soon as the final segmentation is materialized.
    val words = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    try {
      // SEED: one row per (substring occurrence), then one shuffle on the
      // piece. Fan-out per word is ≤ LMax · len(w) — bounded, no all-pairs.
      val subs = words
        .select(col("cnt"), explode(flatten(transform(
          sequence(lit(1), least(length(col("w")), lit(LMax))),
          l => transform(sequence(lit(1), length(col("w")) - l + 1),
            i => col("w").substr(i, l))))).as("piece"))
        .groupBy("piece").agg(sum("cnt").as("f"))
      val singles = subs.filter(length(col("piece")) === 1)
      val multis = subs.filter(length(col("piece")) > 1)
        .orderBy(col("f").desc, col("piece")).limit(TopMulti)
      // Bounded model-state collect: ≤ TopMulti + |alphabet| rows.
      val seed = singles.unionByName(multis).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      val vocabPieces = seed.map(_._1)
      val t0 = seed.map(_._2).sum
      var scores: Map[String, Long] =
        seed.map { case (p, f) => p -> fix(math.log(f.toDouble / t0)) }.toMap
      var counts: Map[String, Long] = Map.empty
      def segUnder(sc: Map[String, Long]) = {
        val (ps, ss) = sc.toSeq.sortBy(_._1).unzip // deterministic arrays
        GraftNative.unigramSegment(col("w"), ps, ss, LMax)
      }
      for (_ <- 1 to EmRounds) {
        // E-step: map-side Viterbi over distinct words, vocabulary-sized
        // aggregation; collect is bounded by the vocab (≤ 84 rows here).
        counts = words.select(explode(segUnder(scores)).as("piece"), col("cnt"))
          .groupBy("piece").agg(sum("cnt").as("c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // M-step: Laplace re-score over the FIXED vocabulary (smoothing
        // keeps never-chosen pieces finite; no pruning, so the oracle's
        // vocab CTE is stable across rounds).
        val tt = vocabPieces.map(p => counts.getOrElse(p, 0L) + 1).sum
        scores = vocabPieces
          .map(p => p -> fix(math.log((counts.getOrElse(p, 0L) + 1).toDouble / tt)))
          .toMap
      }
      val vocabOut = vocabPieces.toSeq
        .map(p => (p, counts.getOrElse(p, 0L), scores(p)))
      val wordTok = words.select(col("w"),
          size(segUnder(scores)).cast("long").as("ntok"))
        .localCheckpoint(true)
      (vocabOut, wordTok)
    } finally CheckpointRelease.release(words)
  }

  /** Graded: the trained vocabulary after 2 Viterbi-EM rounds — piece,
    * its final E-step count, and its final fixed-point log-prob. */
  def llmUnigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    unigramCore(s, d)._1.toDF("piece", "cnt", "score")
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Graded: corpus token economics under the trained tokenizer — the
    * same broadcast-join shape (and output contract) as llm_bpe_encode,
    * so the two families' fertility columns compare directly. */
  def llmUnigramEncode(s: SparkSession, d: String): DataFrame =
    encodeEconomics(s, d, unigramCore(s, d)._2)

  /** The encode tail shared by the trained-path key and the persisted
    * serve: broadcast-join the corpus word stream against ANY (w, ntok)
    * table and aggregate per-document token economics. */
  private def encodeEconomics(s: SparkSession, d: String, wordTok: DataFrame): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(wordTok), Seq("w")) // inner: every corpus word is in wordTok
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("fertility",
        floor(col("n_chars").cast("double") / col("n_tokens") * 10000 + 0.5) / 10000.0)
      .orderBy("doc_id")

  /** Persist the trained unigram model (piece, cnt, score — ≤ 84 rows)
    * into a `graft-vt` versioned table ([[graft.tables.CorpusStamp
    * .persist]], the bpeIndexRoot discipline): a trained tokenizer is a
    * committed pipeline artifact, reopened by serving jobs with zero
    * training jobs. */
  private[graft] def unigramIndexRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.tables.CorpusStamp.persist(s, graft.TempDirs.cached("vtuni", d)(_ => ()) + "/t",
      graft.tables.CorpusStamp.fingerprint(d, "documents"))(
      unigramCore(s, d)._1.toDF("piece", "cnt", "score"))
  }

  /** The trained scores read back from the persisted model — a bounded
    * lookup (≤ 84 rows through the graft-vt reader), never training. */
  private[graft] def unigramScoresFromIndex(s: SparkSession, d: String): Seq[(String, Long)] =
    s.read.format("graft-vt").option("path", unigramIndexRoot(s, d)).load()
      .orderBy("piece").select("piece", "score").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** llm_unigram_encode SERVED FROM THE PERSISTED MODEL: the scores come
    * back from the graft-vt table and the corpus encodes under ONE
    * map-side Viterbi pass over the distinct-word table — zero EM rounds,
    * zero substring-seeding shuffles, zero model-state collects beyond
    * the 84-row lookup (asserted via [[unigramTrainRuns]] in
    * VtDataSourceSpec). Same answer, same oracle as llm_unigram_encode;
    * together with llm_bpe_persisted this makes the tokenizer-artifact
    * posture a FAMILY property, not a BPE special case. */
  def llmUnigramPersisted(s: SparkSession, d: String): DataFrame = {
    val seg = graft.tools.Derived(s, d, "unigram_served_seg",
        graft.tables.CorpusStamp.fingerprint(d, "documents")) {
      val (ps, ss) = unigramScoresFromIndex(s, d).unzip
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
        .select(col("w"),
          size(GraftNative.unigramSegment(col("w"), ps, ss, LMax))
            .cast("long").as("ntok"))
        .localCheckpoint(true)
    }
    encodeEconomics(s, d, seg)
  }

  /** Graded: SentencePiece's third step — PRUNE the EM-trained vocabulary
    * to a serving budget. Single chars always survive (coverage); the
    * multi-char tail keeps only the [[PruneMulti]] highest-usage pieces
    * ((final E-step count DESC, piece ASC) total order — the pieces the
    * trained model actually segments with), and the survivors re-score
    * with the same add-one smoothing over the PRUNED vocabulary, so the
    * output is a complete, self-consistent model ready to encode with.
    * Driver-side over the memoized ≤84-row vocab: pruning is model-state
    * arithmetic, not a data pass. */
  def llmUnigramPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = unigramCore(s, d)._1
    val singles = vocab.filter(_._1.length == 1)
    val multis = vocab.filter(_._1.length > 1)
      .sortBy { case (p, c, _) => (-c, p) }.take(PruneMulti)
    val pruned = singles ++ multis
    val tp = pruned.map(_._2 + 1).sum
    pruned.map { case (p, c, _) => (p, c, fix(math.log((c + 1).toDouble / tp))) }
      .toDF("piece", "cnt", "score")
      .orderBy(col("cnt").desc, col("piece"))
  }

  /** Graded: the three trained tokenizer families side by side, per
    * document — the comparison a pipeline owner actually runs when
    * choosing a tokenizer (same corpus, same words; whose token count /
    * fertility wins, and by how much). Joins the three encode outputs on
    * doc_id; every side reuses its memoized trained model, so this costs
    * three broadcast joins and two equi-joins, never a retrain. The
    * WordPiece columns are APPENDED so the (doc_id, bpe, uni, ratio)
    * prefix keeps its shape for existing consumers. */
  def llmTokenizerCompare(s: SparkSession, d: String): DataFrame = {
    val bpe = LlmTextOps.llmBpeEncode(s, d).select(col("doc_id"),
      col("n_tokens").as("bpe_tokens"), col("fertility").as("bpe_fertility"))
    val uni = llmUnigramEncode(s, d).select(col("doc_id"),
      col("n_tokens").as("uni_tokens"), col("fertility").as("uni_fertility"))
    val wp = WordPieceOps.llmWordpieceEncode(s, d).select(col("doc_id"),
      col("n_tokens").as("wp_tokens"), col("fertility").as("wp_fertility"))
    bpe.join(uni, Seq("doc_id"))
      .withColumn("tokens_ratio",
        floor(col("uni_tokens").cast("double") / col("bpe_tokens") * 10000 + 0.5) / 10000.0)
      .join(wp, Seq("doc_id"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "llm_unigram_train" -> (llmUnigramTrain _),
    "llm_unigram_encode" -> (llmUnigramEncode _),
    "llm_unigram_persisted" -> (llmUnigramPersisted _),
    "llm_unigram_prune" -> (llmUnigramPrune _),
    "llm_tokenizer_compare" -> (llmTokenizerCompare _),
  )

  // ------------------------------------------------------------------
  // DuckDB oracles: the EM loop unrolls (fixed EmRounds, the BPE/pagerank
  // discipline) and each Viterbi pass is a recursive-CTE integer DP.
  // The forward pass carries the whole best/pred history as LISTS on the
  // row (standard recursive CTEs only see the previous step, so the row
  // carries its own DP table); the backtrack walks pred from len(w) to 0
  // rebuilding the pieces. Candidate choice is `max score, then min
  // start` — exactly the kernel's ascending-i strict-> loop. Verified
  // value-identical to the Spark path at sf0.01 AND sf0.1.
  // ------------------------------------------------------------------

  /** One Viterbi pass over `words` under the score map `scmapRel` (a
    * one-row relation with a MAP column m); yields seg_`tag`(w, cnt,
    * pieces). DuckDB map extraction `m[k]` returns a LIST — `[1]` takes
    * the value, NULL when the piece is out of vocabulary. */
  private def tower(tag: String, scmapRel: String): String =
    s"""vit_$tag AS (
  SELECT w, cnt, 0 AS j, [CAST(0 AS BIGINT)] AS best, [CAST(0 AS INTEGER)] AS pred
  FROM words
  UNION ALL
  SELECT w, cnt, j + 1, list_append(best, cand_$tag.msc), list_append(pred, cand_$tag.pi)
  FROM vit_$tag, $scmapRel,
  LATERAL (
    SELECT list_max(list_transform(valid, x -> x.sc)) AS msc,
      list_min(list_transform(list_filter(valid, x ->
        x.sc = list_max(list_transform(valid, y -> y.sc))), x -> x.i)) AS pi
    FROM (SELECT list_filter(
            list_transform(generate_series(greatest(0, j + 1 - $LMax), j),
              i -> struct_pack(sc := best[i + 1] + m[substr(w, i + 1, j + 1 - i)][1],
                               i := i)),
            x -> x.sc IS NOT NULL) AS valid)
  ) cand_$tag
  WHERE j < length(w)
),
bt_$tag AS (
  SELECT w, cnt, length(w) AS j, pred, CAST([] AS VARCHAR[]) AS pieces
  FROM vit_$tag WHERE j = length(w)
  UNION ALL
  SELECT w, cnt, pred[j + 1], pred,
    list_prepend(substr(w, pred[j + 1] + 1, j - pred[j + 1]), pieces)
  FROM bt_$tag WHERE j > 0
),
seg_$tag AS (SELECT w, cnt, pieces FROM bt_$tag WHERE j = 0)"""

  /** M-step from seg_`seg`: counts over the fixed vocab, add-one
    * smoothing, fixed-point ln scores, and the next score map. */
  private def mstep(seg: String, out: String): String =
    s"""c_$out AS (
  SELECT v.piece, coalesce(u.c, 0) AS c
  FROM vocab v LEFT JOIN (
    SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
    FROM (SELECT cnt, unnest(pieces) AS piece FROM $seg) GROUP BY 1) u
  ON v.piece = u.piece
),
t_$out AS (SELECT sum(c + 1) AS t FROM c_$out),
sc_$out AS (SELECT piece, c, CAST(floor(1e6 * ln(CAST(c + 1 AS DOUBLE) / t.t) + 0.5) AS BIGINT) AS s
            FROM c_$out, t_$out t),
map_$out AS (SELECT map(list(piece), list(s)) AS m FROM sc_$out)"""

  /** Shared prefix: word histogram, seed vocabulary, initial scores, and
    * the two unrolled EM rounds (tower → M-step, twice). */
  private def unigramOracleCtes: String =
    s"""WITH RECURSIVE
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 1 GROUP BY 1
),
subs AS (
  SELECT substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece, CAST(sum(cnt) AS BIGINT) AS f
  FROM (SELECT w, cnt, unnest(generate_series(1, $LMax)) AS l FROM words),
       LATERAL (SELECT unnest(generate_series(1, length(w) - l + 1)) AS i)
  WHERE l <= length(w)
  GROUP BY 1
),
vocab AS (
  SELECT piece, f FROM subs WHERE length(piece) = 1
  UNION ALL
  SELECT piece, f FROM (
    SELECT piece, f, row_number() OVER (ORDER BY f DESC, piece) AS rk
    FROM subs WHERE length(piece) > 1) WHERE rk <= $TopMulti
),
t0 AS (SELECT sum(f) AS t FROM vocab),
sc_0 AS (SELECT piece, CAST(floor(1e6 * ln(CAST(f AS DOUBLE) / t.t) + 0.5) AS BIGINT) AS s
         FROM vocab, t0 t),
map_0 AS (SELECT map(list(piece), list(s)) AS m FROM sc_0),
${tower("r1", "map_0")},
${mstep("seg_r1", "1")},
${tower("r2", "map_1")},
${mstep("seg_r2", "2")}"""

  private def unigramTrainOracle: String =
    unigramOracleCtes +
      " SELECT piece, c AS cnt, s AS score FROM sc_2 ORDER BY cnt DESC, piece"

  private def unigramEncodeOracle: String =
    unigramOracleCtes + s""",
${tower("enc", "map_2")},
wordtok AS (SELECT w, CAST(len(pieces) AS BIGINT) AS ntok FROM seg_enc),
dw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(ntok) AS BIGINT) AS n_tokens,
  CAST(sum(length(w)) AS BIGINT) AS n_chars,
  floor(CAST(sum(length(w)) AS DOUBLE) / sum(ntok) * 10000 + 0.5) / 10000.0 AS fertility
FROM dw JOIN wordtok USING (w) GROUP BY doc_id ORDER BY doc_id"""

  private def unigramPruneOracle: String =
    unigramOracleCtes + s""",
pruned AS (
  SELECT piece, c FROM sc_2 WHERE length(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c, row_number() OVER (ORDER BY c DESC, piece) AS rk
    FROM sc_2 WHERE length(piece) > 1) WHERE rk <= $PruneMulti
),
tp AS (SELECT sum(c + 1) AS t FROM pruned)
SELECT piece, c AS cnt,
  CAST(floor(1e6 * ln(CAST(c + 1 AS DOUBLE) / tp.t) + 0.5) AS BIGINT) AS score
FROM pruned, tp ORDER BY cnt DESC, piece"""

  val oracles: Map[String, String] = Map(
    "llm_unigram_train" -> unigramTrainOracle,
    "llm_unigram_encode" -> unigramEncodeOracle,
    // same oracle as the trained-path encode: the persisted serve must
    // reproduce it exactly (zero-retrain asserted in VtDataSourceSpec)
    "llm_unigram_persisted" -> unigramEncodeOracle,
    "llm_unigram_prune" -> unigramPruneOracle,
    // the three encode oracles nested as subqueries (each carries its
    // own WITH tower) joined on doc_id — the oracle composes exactly
    // like the Spark side composes the three encode frames
    "llm_tokenizer_compare" ->
      ("SELECT b.doc_id AS doc_id, b.n_tokens AS bpe_tokens, b.fertility AS bpe_fertility, " +
        "u.n_tokens AS uni_tokens, u.fertility AS uni_fertility, " +
        "floor(CAST(u.n_tokens AS DOUBLE) / b.n_tokens * 10000 + 0.5) / 10000.0 AS tokens_ratio, " +
        "w.n_tokens AS wp_tokens, w.fertility AS wp_fertility " +
        s"FROM (${LlmTextOps.oracles("llm_bpe_encode")}) b " +
        s"JOIN ($unigramEncodeOracle) u ON b.doc_id = u.doc_id " +
        s"""JOIN (${WordPieceOps.oracles("llm_wordpiece_encode")}) w ON b.doc_id = w.doc_id """ +
        "ORDER BY doc_id"),
  )
}

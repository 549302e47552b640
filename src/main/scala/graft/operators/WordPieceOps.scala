package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** WordPiece tokenizer — the THIRD trained tokenizer family next to BPE
  * ([[LlmTextOps.bpeTrainCore]]) and unigram-LM ([[UnigramOps]]). The
  * trainer runs the same merge loop as BPE (shared mechanics in
  * [[TokenizerMerge]]) but argmaxes WordPiece's likelihood score
  * `count(l·r) / (count(l) · count(r))` instead of the raw pair
  * frequency — the pair whose merge most improves corpus likelihood
  * under a unigram model, which prefers pairs that co-occur beyond what
  * their parts' popularity predicts. Encoding is WordPiece's greedy
  * longest-match-first walk over the final vocabulary. This is the
  * position-free variant: pieces are not split into word-initial vs
  * `##`-continuation forms, a constant-factor refinement the fixture's
  * closed vocabulary cannot exercise (every corpus word is shorter than
  * 9 chars, so positional piece identity never disambiguates anything).
  *
  * Score determinism: s = floor(1e9·pcnt / (cl·cr)) as BIGINT. All three
  * inputs are exact integers cast to double; the two IEEE multiplies and
  * one divide round identically on Spark and DuckDB, so the floored
  * fixed-point score is bit-equal cross-engine — the engine's standard
  * treatment for a score that feeds an ORDER BY (ties broken by raw pair
  * count DESC, then pair text ASC — a total order).
  *
  * Scale posture (100 TB): identical to BPE's — the word histogram is
  * one hash shuffle over the corpus and every round after that runs on
  * the vocabulary-sized word table alone (pair + symbol counts are
  * bounded by (symbols)², the symbol-count side is broadcast); the
  * per-round driver state is a single argmax row. Encode state is the
  * distinct-word table (vocabulary-sized, millions of rows at 100 TB,
  * not trillions) segmented map-side by a codegen'd fold over the
  * broadcast-literal vocabulary, then one broadcast join against the
  * corpus word stream and one hash aggregation on doc_id — exact-dedup's
  * shape. */
object WordPieceOps {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** Merge rounds; fixed so the oracle unrolls (the BPE discipline). */
  val Rounds = 8
  /** Fixed-point scale of the likelihood score. 1e9·pcnt stays exactly
    * representable in a double up to pcnt ≈ 9e6; past that the two
    * engines still agree (identical IEEE rounding), it just stops being
    * exact integer arithmetic. */
  val ScoreScale = 1e9

  /** Trained model: (merge rows (round, l, r, merged, pcnt, score);
    * encode vocabulary (corpus alphabet ∪ merged symbols, sorted);
    * distinct-word table with greedy token counts, checkpointed).
    * Memoized per (session, corpus state) — llm_wordpiece_train grades
    * the first, llm_wordpiece_encode joins the third; without the memo
    * each grading/bench pass would pay the 8-round training (8 argmax
    * collects + 9 eager checkpoints) twice. */
  def wordpieceCore(s: SparkSession, d: String):
      (Seq[(Int, String, String, String, Long, Long)], Seq[String], DataFrame) =
    graft.tools.Derived(s, d, "wordpiece_train")(trainUncached(s, d))

  /** Trainer-invocation counter — the spec hook proving the persisted-
    * tokenizer serve path (llm_wordpiece_persisted) never retrains, the
    * bpeTrainRuns / unigramTrainRuns discipline on the third family. */
  private[graft] val wordpieceTrainRuns = new java.util.concurrent.atomic.AtomicLong

  private def trainUncached(s: SparkSession, d: String):
      (Seq[(Int, String, String, String, Long, Long)], Seq[String], DataFrame) = {
    val sep = TokenizerMerge.Sep
    wordpieceTrainRuns.incrementAndGet()
    // Same trainer word floor as BPE (length >= 2: a 1-char word has no
    // pair to merge); the ENCODE table below is total over length >= 1.
    var seg = TokenizerMerge.initialSeg(
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("cnt")))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long)]
    var round = 1
    var exhausted = false
    while (round <= Rounds && !exhausted) {
      val syms = TokenizerMerge.symbolCounts(seg)
      val best = TokenizerMerge.pairCandidates(seg)
        .withColumn("l", split(col("pair"), sep).getItem(0))
        .withColumn("r", split(col("pair"), sep).getItem(1))
        // symbol counts are vocabulary-sized: broadcast both lookups
        .join(broadcast(syms.select(col("sym").as("l"), col("c").as("cl"))), "l")
        .join(broadcast(syms.select(col("sym").as("r"), col("c").as("cr"))), "r")
        .withColumn("score",
          floor(col("pcnt").cast("double") * lit(ScoreScale) /
            (col("cl").cast("double") * col("cr").cast("double"))).cast("long"))
        .orderBy(col("score").desc, col("pcnt").desc, col("pair"))
        .limit(1).collect() // single-row argmax: the per-iteration scalar
      if (best.isEmpty) exhausted = true
      else {
        val row = best(0)
        val (l, r) = (row.getAs[String]("l"), row.getAs[String]("r"))
        merges += ((round, l, r, l + r,
          row.getAs[Long]("pcnt"), row.getAs[Long]("score")))
        seg = seg
          .withColumn("seg", TokenizerMerge.applyMerge(col("seg"), l, r))
          .localCheckpoint(true)
        round += 1
      }
    }
    // Encode vocabulary: the corpus alphabet (single chars of ALL
    // length >= 1 words — coverage guarantee, no UNK on the training
    // domain) plus the merged symbols. Bounded model-state collect:
    // <= |alphabet| + Rounds rows.
    val alphabet = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
      .distinct().collect().map(_.getString(0))
    val vocab = (alphabet ++ merges.map(_._4)).distinct.sorted.toSeq
    // Distinct-word token counts under the greedy encode — the
    // vocabulary-sized table the corpus-wide encode broadcast-joins.
    val wordTok = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .distinct()
      .select(col("w"), greedyNtok(col("w"), vocab).as("ntok"))
      .localCheckpoint(true)
    (merges.toSeq, vocab, wordTok)
  }

  /** Greedy longest-match-first token count of `w` under a literal
    * vocabulary — WordPiece's encoder as ONE codegen'd fold: the cursor
    * state (pos, n) folds over sequence(1, length(w)) (each step
    * consumes >= 1 char, so length(w) steps always suffice; exhausted
    * steps pass the state through untouched). At each position the
    * longest vocab piece fitting the remaining suffix wins; an
    * out-of-vocabulary char (impossible on the training corpus, possible
    * on foreign input) advances 1 and counts 1 token — the UNK
    * convention, total by construction. */
  private[graft] def greedyNtok(w: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "wordpiece: empty vocabulary")
    val maxLen = vocab.map(_.length).max
    val vArr = array(vocab.map(lit): _*)
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), lit(0L).as("n")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val n = acc.getField("n")
        // longest match first: the fold wraps shorter lengths as the
        // else-branch, so the emitted CASE tests maxLen down to 2 and
        // falls through to the single-char/UNK advance of 1
        val adv = (2 to maxLen).foldLeft(lit(1)) { (shorter, l) =>
          when(pos + lit(l - 1) <= length(w) &&
            array_contains(vArr, w.substr(pos, lit(l))), lit(l))
            .otherwise(shorter)
        }
        when(pos > length(w), acc)
          .otherwise(struct((pos + adv).as("pos"), (n + lit(1L)).as("n")))
      },
      acc => acc.getField("n"))
  }

  /** Graded: the merge table of an 8-round WordPiece training run —
    * round, the merged pair, its corpus count, and its fixed-point
    * likelihood score. */
  def llmWordpieceTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    wordpieceCore(s, d)._1
      .toDF("round", "left", "right", "merged", "cnt", "score")
      .orderBy("round")
  }

  /** Graded: corpus token economics under the trained WordPiece encoder
    * — the same output contract as llm_bpe_encode / llm_unigram_encode,
    * so all three families' fertility columns compare directly. Inner
    * join: the word table is total over length >= 1 corpus words by
    * construction. */
  def llmWordpieceEncode(s: SparkSession, d: String): DataFrame =
    encodeEconomics(s, d, wordpieceCore(s, d)._3)

  /** The encode tail shared by the trained-path key and the persisted
    * serve (the family-wide contract shape). */
  private def encodeEconomics(s: SparkSession, d: String, wordTok: DataFrame): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(wordTok), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("ntok").as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("fertility",
        floor(col("n_chars").cast("double") / col("n_tokens") * 10000 + 0.5) / 10000.0)
      .orderBy("doc_id")

  /** Persist the trained encode vocabulary (alphabet ∪ merged symbols,
    * ≤ |alphabet| + 8 rows) into a `graft-vt` versioned table
    * ([[graft.tables.CorpusStamp.persist]]) — the same
    * tokenizer-artifact posture as llm_bpe_persisted /
    * llm_unigram_persisted, completing all three trained families. */
  private[graft] def wordpieceIndexRoot(s: SparkSession, d: String): String = {
    import s.implicits._
    graft.tables.CorpusStamp.persist(s, graft.TempDirs.cached("vtwp", d)(_ => ()) + "/t",
      d, "documents")(wordpieceCore(s, d)._2.toDF("piece"))
  }

  /** The vocabulary read back from the persisted tokenizer — a bounded
    * lookup, never training. */
  private[graft] def wordpieceVocabFromIndex(s: SparkSession, d: String): Seq[String] =
    s.read.format("graft-vt").option("path", wordpieceIndexRoot(s, d)).load()
      .orderBy("piece").select("piece").collect().map(_.getString(0)).toSeq

  /** llm_wordpiece_encode SERVED FROM THE PERSISTED VOCABULARY: the
    * greedy longest-match encoder needs only the vocab, so the serve is
    * one bounded lookup plus ONE map-side codegen'd fold over the
    * distinct-word table — zero merge rounds, zero argmax collects
    * (asserted via [[wordpieceTrainRuns]] in VtDataSourceSpec). Same
    * answer, same oracle as llm_wordpiece_encode. */
  def llmWordpiecePersisted(s: SparkSession, d: String): DataFrame = {
    val seg = graft.tools.Derived(s, d, "wordpiece_served_seg") {
      val vocab = wordpieceVocabFromIndex(s, d)
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .distinct()
        .select(col("w"), greedyNtok(col("w"), vocab).as("ntok"))
        .localCheckpoint(true)
    }
    encodeEconomics(s, d, seg)
  }

  val queries: Map[String, Q] = Map(
    "llm_wordpiece_train" -> (llmWordpieceTrain _),
    "llm_wordpiece_encode" -> (llmWordpieceEncode _),
    "llm_wordpiece_persisted" -> (llmWordpiecePersisted _),
  )

  // ------------------------------------------------------------------
  // DuckDB oracles. The trainer unrolls into 8 CTE blocks (the BPE
  // discipline); each round adds a symbol-count CTE for the likelihood
  // denominator. The merge application reuses BPE's doubled-separator
  // replace trick verbatim (RE2 has no lookarounds). The greedy encode
  // is a recursive CTE whose cursor advances by the longest vocab piece
  // matching at pos — the vocabulary rides each recursion row as a LIST
  // (the unigram-tower pattern; subqueries are not allowed inside
  // recursive CTEs). Verified value-identical to the Spark path at
  // sf0.01 AND sf0.1.
  // ------------------------------------------------------------------

  private val P = TokenizerMerge.Sep

  private def roundCtes(k: Int): String =
    s"syms$k AS (SELECT sym, CAST(sum(cnt) AS BIGINT) AS c FROM " +
      s"(SELECT unnest(string_split(seg, '$P')) AS sym, cnt FROM seg$k) GROUP BY 1), " +
      s"pairs$k AS (SELECT syms[i] || '$P' || syms[i+1] AS pair, sum(cnt) AS pcnt " +
      s"FROM (SELECT string_split(seg, '$P') AS syms, cnt, " +
      s"unnest(generate_series(1, len(string_split(seg, '$P')) - 1)) AS i " +
      s"FROM seg$k WHERE len(string_split(seg, '$P')) >= 2) GROUP BY 1), " +
      s"best$k AS (SELECT ${k + 1} AS round, l, r, pcnt, " +
      s"CAST(floor(CAST(pcnt AS DOUBLE) * 1e9 / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))) AS BIGINT) AS score " +
      s"FROM (SELECT pair, string_split(pair, '$P')[1] AS l, string_split(pair, '$P')[2] AS r, pcnt FROM pairs$k) p " +
      s"JOIN syms$k a ON a.sym = p.l JOIN syms$k b ON b.sym = p.r " +
      s"ORDER BY score DESC, pcnt DESC, pair LIMIT 1), " +
      // AS MATERIALIZED: each seg level is referenced THREE times (syms,
      // pairs, next seg) — left to DuckDB's default inlining the tower
      // re-plans 3^8 document scans and dies on fd exhaustion; pinning
      // materialization makes each level compute exactly once (the BPE
      // tower gets away with inlining at 2 references, so its oracle is
      // unchanged)
      s"seg${k + 1} AS MATERIALIZED (SELECT replace(substr(m, 2, length(m) - 2), '$P$P', '$P') AS seg, cnt " +
      s"FROM (SELECT replace('$P' || replace(seg, '$P', '$P$P') || '$P', " +
      s"'$P' || b.l || '$P$P' || b.r || '$P', '$P' || b.l || b.r || '$P') AS m, cnt " +
      s"FROM seg$k, best$k b))"

  /** Shared tower: trainer word histogram, seg0, and the 8 unrolled
    * rounds. (?s) mirrors the Spark side's DOTALL: every char — newlines
    * included — gets a trailing separator, which the substr unwrap
    * assumes. */
  private def towerCtes: String =
    s"WITH RECURSIVE seg0 AS MATERIALIZED (SELECT substr(regexp_replace(w, '(?s)(.)', '\\1$P', 'g'), 1, " +
      "2 * length(w) - 1) AS seg, cnt FROM (SELECT w, count(*) AS cnt FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      "WHERE length(w) >= 2 GROUP BY 1)), " +
      (0 until Rounds).map(roundCtes).mkString(", ")

  private def trainOracle: String = {
    val union = (0 until Rounds).map(k =>
      s"""SELECT round, l AS "left", r AS "right", l || r AS merged, pcnt AS cnt, score FROM best$k""")
      .mkString(" UNION ALL ")
    towerCtes +
      s""" SELECT CAST(round AS INTEGER) AS round, "left", "right", merged, """ +
      s"CAST(cnt AS BIGINT) AS cnt, score FROM ($union) ORDER BY round"
  }

  private def encodeOracle: String =
    towerCtes + s""",
allw AS (SELECT DISTINCT w FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1),
alpha AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS piece
  FROM (SELECT w, unnest(generate_series(1, length(w))) AS i FROM allw)),
vocabwp AS (SELECT piece FROM alpha UNION
  SELECT l || r AS piece FROM (${(0 until Rounds).map(k => s"SELECT l, r FROM best$k").mkString(" UNION ALL ")})),
vlist AS MATERIALIZED (SELECT list(piece) AS vs FROM vocabwp),
wpe AS (
  SELECT w, 1 AS pos, CAST(0 AS BIGINT) AS n FROM allw
  UNION ALL
  SELECT w, pos + cand.adv, n + 1
  FROM wpe, vlist,
  LATERAL (SELECT coalesce(list_max(list_transform(list_filter(vs, p ->
      length(p) <= length(w) - pos + 1 AND p = substr(w, pos, length(p))), p -> length(p))), 1) AS adv) cand
  WHERE pos <= length(w)
),
wordtok AS (SELECT w, n AS ntok FROM wpe WHERE pos > length(w)),
dw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(ntok) AS BIGINT) AS n_tokens,
  CAST(sum(length(w)) AS BIGINT) AS n_chars,
  floor(CAST(sum(length(w)) AS DOUBLE) / sum(ntok) * 10000 + 0.5) / 10000.0 AS fertility
FROM dw JOIN wordtok USING (w) GROUP BY doc_id ORDER BY doc_id"""

  val oracles: Map[String, String] = Map(
    "llm_wordpiece_train" -> trainOracle,
    "llm_wordpiece_encode" -> encodeOracle,
    // same oracle as the trained-path encode: the persisted serve must
    // reproduce it exactly (zero-retrain asserted in VtDataSourceSpec)
    "llm_wordpiece_persisted" -> encodeOracle,
  )
}

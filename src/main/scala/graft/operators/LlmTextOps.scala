package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.tools.Derived
import graft.functions.VectorFunctions

/** Text-analysis + near-dup operators beyond SURVEY §2.K — the rest of a
  * large-scale training-data pipeline: language ID, quality scoring, token
  * counting, document fingerprinting, n-gram Jaccard near-dup, SimHash,
  * and the LSH-bucketed ANN scale path.
  *
  * Everything except the two hash UDF ops (SimHash, ANN buckets) is pure
  * codegen'd built-ins and carries a DuckDB oracle. All per-document ops
  * are row-local projections — no shuffle, arbitrarily wide at 100 TB.
  */
object LlmTextOps {
  type Q = (SparkSession, String) => DataFrame
  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  private val langs: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das"),
    "es" -> Seq("el", "los", "y", "que"),
    "zh" -> Seq("de", "shi", "zai", "he"))

  /** Language-ID heuristic: count pinned marker words per language, argmax
    * with fixed priority order on ties. (The fixture corpus shares one
    * vocabulary across langs, so predictions skew 'en' — the op grades the
    * deterministic scoring machinery, not model quality.) */
  def llmLangId(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = langs.foldLeft(t(s, d, "documents").withColumn("ws", toks)) {
      case (df, (lang, markers)) =>
        df.withColumn(s"s_$lang",
          size(filter(col("ws"), tk => tk.isin(markers.map(lit): _*))))
    }
    val scores = langs.map { case (l, _) => col(s"s_$l") }
    val pred = langs.zip(scores).foldRight(lit("und"): Column) {
      case (((lang, _), sc), rest) =>
        when(scores.map(o => sc >= o).reduce(_ && _), lang).otherwise(rest)
    }
    scored.select(col("doc_id") +: langs.map { case (l, _) => col(s"s_$l") } :+
        pred.as("pred_lang") :+ col("lang"): _*)
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — the evaluation every lang-ID gate
    * needs before its output routes a corpus: predicted vs labeled
    * language counts with per-actual-language shares, over the SAME
    * scored/argmax frame the graded llm_lang_id key computes (shared
    * core in both engines, so the eval can never drift from the model
    * it evaluates). On this fixture the matrix makes the documented
    * 'en'-skew honest and quantified rather than a prose caveat.
    * Scale: one (lang, pred) hash aggregation — a ≤ |langs|² grid. */
  def llmLangConfusion(s: SparkSession, d: String): DataFrame = {
    // per-language totals as a window over the tiny cell grid — not a
    // second aggregation of the scoring frame (which would re-run the
    // 5-language marker pass over every document) joined back
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    llmLangId(s, d).select(col("lang"), col("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .withColumn("n_lang", sum("n").over(w))
      .select(col("lang"), col("pred_lang"), col("n"),
        (floor(col("n").cast("double") / col("n_lang").cast("double") * 1000000.0 + 0.5)
          / 1000000.0).as("share"))
      .orderBy("lang", "pred_lang")
  }

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (⌈len/4⌉ pieces per word, via higher-order aggregate — codegen'd,
    * no UDF). */
  def llmTokenCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("ws")).as("ws_cnt"),
        aggregate(col("ws"), lit(0L),
          (acc, x) => acc + ceil(length(x) / lit(4.0))).as("bpe_cnt"))
      .orderBy("doc_id")

  /** Domain-mixture sampling to a per-source character budget — the data-
    * mixing step of a training-corpus build. Each source gets an equal
    * share of 90% of the corpus (rate = min(1, 0.9·avg-source-chars /
    * this-source-chars)), and membership is a DETERMINISTIC per-doc coin:
    * a Knuth multiplicative hash of doc_id mapped to [0,1) and compared
    * to the source's rate. No RNG, so reruns/retries at any scale pick
    * the same documents, and the whole op is one tiny per-source
    * aggregate broadcast back over a pure projection-filter scan — the
    * fact table shuffles zero times. Rate arithmetic stays in exact
    * integer sums until the final double divisions (same order on both
    * engines), so the threshold compare is engine-portable. */
  def llmDomainMix(s: SparkSession, d: String): DataFrame = {
    val perSrc = t(s, d, "documents").groupBy("source")
      .agg(sum("n_chars").as("src_chars"))
    val rates = perSrc
      .crossJoin(broadcast(perSrc.agg(
        sum("src_chars").as("total"), count(lit(1)).as("n_src"))))
      .select(col("source"),
        least(lit(1.0), col("total") * 0.9 / col("n_src") / col("src_chars")).as("rate"))
    t(s, d, "documents").select("doc_id", "source")
      .join(broadcast(rates), "source")
      .filter(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) / 4294967296.0 < col("rate"))
      .select(col("doc_id"), col("source"), round(col("rate"), 6).as("rate"))
      .orderBy("doc_id")
  }

  /** BPE merge-candidate counting — round one of byte-pair-encoding
    * vocabulary training: count adjacent character pairs WITHIN words
    * across the whole corpus and rank the top merge candidates. The
    * pair generation is a row-local higher-order projection (sequence →
    * transform → explode, all codegen'd, no UDF), and the count is a
    * two-phase aggregate whose key space is bounded by charset² — the
    * map-side combine collapses each task to at most a few thousand
    * rows regardless of corpus size, so at 100 TB the reduce side is
    * constant-sized and the whole op is scan-bound. Top-k lands as
    * TakeOrderedAndProject (per-partition heap, driver merges 20 rows).
    * Words shorter than 2 chars are filtered BEFORE pair expansion:
    * Spark's sequence(1, 0) would count DOWNWARD where DuckDB's
    * range(1, 1) is empty, so the guard also pins the engines to the
    * same pair set. */
  def llmBpeMerges(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** Merge rounds of the BPE trainer, and of its two DuckDB oracles,
    * which unroll the same loop. */
  val BpeRounds = 8

  /** Multi-round BPE vocabulary TRAINING — the iterative completion of
    * [[llmBpeMerges]] (which grades round one): repeat
    * (count adjacent symbol pairs → merge the argmax) for [[BpeRounds]]
    * rounds, exactly the loop that builds a real tokenizer vocabulary.
    *
    * Scale shape: the corpus collapses ONCE to its word-frequency table
    * (one shuffle; vocabulary-sized — millions of rows at 100 TB, not
    * trillions), and every round after that runs on that table alone:
    * a row-local pair expansion + a two-phase weighted count whose key
    * space is bounded by (vocab symbols)², then a single-row argmax read
    * back to the driver — the same scalar-per-iteration driver pattern
    * as the connected-components and PageRank loops. Applying the merge
    * is one codegen'd regexp pass over the word table; `localCheckpoint`
    * truncates the growing replace lineage each round.
    *
    * Segmentation state is the word's symbols joined by U+001F (absent
    * from the corpus); the merge pattern anchors both symbol boundaries
    * with zero-width guards `(?<![^sep])...(?![^sep])` so a pair
    * like (a,b) can never match the tail of a LONGER symbol ("ta"·"b"),
    * and — because the guards consume no separator — back-to-back
    * occurrences "a·b·a·b" merge in one left-to-right pass, matching
    * BPE's greedy application order.
    *
    * Returns (merge table: one row per round, ordered; final word
    * segmentation) — callers grade the first, specs audit the second. */
  def bpeTrainCore(s: SparkSession, d: String): (DataFrame, DataFrame) =
    // memoized: llm_bpe_train grades the merge table and llm_bpe_encode
    // the segmentation — without it each grading/bench pass paid the
    // full iterative training (8 argmax collects + 9 eager checkpoints)
    // TWICE
    Derived(s, d, "bpe_train")(bpeTrainUncached(s, d))

  /** Trainer-invocation counter — the spec hook proving the persisted-
    * tokenizer serve path (llm_bpe_persisted) never retrains, the
    * PortableQuantizer.trainRuns discipline applied to tokenizers. */
  private[graft] val bpeTrainRuns = new java.util.concurrent.atomic.AtomicLong

  private def bpeTrainUncached(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    bpeTrainRuns.incrementAndGet()
    // merge mechanics (seg init / pair explode / bounded regex merge)
    // live in TokenizerMerge, shared with the WordPiece trainer -- only
    // the argmax below (raw pair frequency) is BPE's own
    val sep = TokenizerMerge.Sep
    var seg = TokenizerMerge.initialSeg(
      t(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("cnt")))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= BpeRounds && !exhausted) {
      val best = TokenizerMerge.pairCandidates(seg)
        .orderBy(col("pcnt").desc, col("pair"))
        .limit(1).collect() // single-row argmax: the per-iteration scalar
      if (best.isEmpty) exhausted = true
      else {
        val parts = best(0).getString(0).split(sep)
        val (l, r) = (parts(0), parts(1))
        merges += ((round, l, r, l + r, best(0).getLong(1)))
        seg = seg
          .withColumn("seg", TokenizerMerge.applyMerge(col("seg"), l, r))
          .localCheckpoint(true)
        round += 1
      }
    }
    import s.implicits._
    val mergeDf = merges.toSeq
      .toDF("round", "left", "right", "merged", "cnt")
      .orderBy("round")
    (mergeDf, seg)
  }

  /** Graded entry: the merge table of an 8-round training run. Fully
    * oracle-graded since round 7 via [[bpeTrainOracle]] (the loop
    * unrolls; fixed rounds). NoOracleKeysSpec additionally asserts
    * round-1 agreement with llm_bpe_merges, monotone-decreasing merge
    * counts, boundary-anchoring, and corpus compression. */
  def llmBpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainCore(s, d)._1

  /** DuckDB twin of the 8-round BPE trainer (round-7 promotion of the
    * last iterative no-oracle text key). The driver-side loop UNROLLS
    * into 8 CTE blocks, the same fixed-rounds discipline as the pagerank
    * oracle. The merge step needs leftmost non-overlapping BOUNDED
    * replacement; RE2 has no lookarounds, so the oracle uses the
    * doubled-separator trick instead: double every separator, wrap the
    * string in separators, then plain `replace` of `l␟␟r` — each
    * occurrence keeps one boundary separator on each side for its
    * neighbor, so adjacent merge sites don't shadow each other — then
    * unwrap and halve. Verified byte-identical to the Spark
    * regex-lookaround merge at sf0.01 AND sf0.1. */
  private def bpeOracleCtes: String = {
    val p = "\u001f"
    def mergeCtes(k: Int): String =
      s"pairs$k AS (SELECT syms[i] || '$p' || syms[i+1] AS pair, sum(cnt) AS pcnt " +
        s"FROM (SELECT string_split(seg, '$p') AS syms, cnt, " +
        s"unnest(generate_series(1, len(string_split(seg, '$p')) - 1)) AS i " +
        s"FROM seg$k WHERE len(string_split(seg, '$p')) >= 2) GROUP BY 1), " +
        s"best$k AS (SELECT ${k + 1} AS round, string_split(pair, '$p')[1] AS l, " +
        s"string_split(pair, '$p')[2] AS r, pcnt FROM pairs$k ORDER BY pcnt DESC, pair LIMIT 1), " +
        s"seg${k + 1} AS (SELECT replace(substr(m, 2, length(m) - 2), '$p$p', '$p') AS seg, cnt " +
        s"FROM (SELECT replace('$p' || replace(seg, '$p', '$p$p') || '$p', " +
        s"'$p' || b.l || '$p$p' || b.r || '$p', '$p' || b.l || b.r || '$p') AS m, cnt " +
        s"FROM seg$k, best$k b))"
    val ctes = (0 until BpeRounds).map(mergeCtes).mkString(", ")
    // (?s) mirrors the Spark side's DOTALL: every char — newlines
    // included — gets a trailing separator, which the substr unwrap
    // assumes
    s"WITH seg0 AS (SELECT substr(regexp_replace(w, '(?s)(.)', '\\1$p', 'g'), 1, " +
      "2 * length(w) - 1) AS seg, cnt FROM (SELECT w, count(*) AS cnt FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
      s"WHERE length(w) >= 2 GROUP BY 1)), $ctes"
  }

  private def bpeTrainOracle: String = {
    val union = (0 until BpeRounds).map(k =>
      s"""SELECT round, l AS "left", r AS "right", l || r AS merged, pcnt AS cnt FROM best$k""")
      .mkString(" UNION ALL ")
    bpeOracleCtes +
      s""" SELECT CAST(round AS INTEGER) AS round, "left", "right", merged, """ +
      s"CAST(cnt AS BIGINT) AS cnt FROM ($union) ORDER BY round"
  }

  /** Tokenizer APPLICATION — the op a training pipeline runs over the
    * whole corpus once the tokenizer is trained: encode every document
    * with the learned merges and report its token economics (token count,
    * chars per token). Training already left each distinct word's final
    * segmentation in the word table ([[bpeTrainCore]]._2), so encoding is
    * a broadcast join of the corpus word stream against that
    * vocabulary-sized map — no per-document merge loop; the 100 TB shape
    * is exact-dedup's: one map-side projection + one hash aggregation on
    * doc_id. Words under the trainer's 2-char floor are single tokens.
    * Fertility (chars/token) is the standard tokenizer-quality metric. */
  def llmBpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeEconomics(s, d, bpeTrainCore(s, d)._2)

  /** The encode tail shared by the trained-path key and the
    * persisted-tokenizer serve: given ANY (seg) word-segmentation table,
    * broadcast-join the corpus word stream against it and aggregate the
    * per-document token economics. */
  private def bpeEncodeEconomics(s: SparkSession, d: String, seg: DataFrame): DataFrame = {
    val sep = "\u001f"
    val wordTok = seg.select(
      translate(col("seg"), sep, "").as("w"),
      size(split(col("seg"), sep)).cast("long").as("ntok"))
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .join(broadcast(wordTok), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("ntok"), lit(1L))).as("n_tokens"),
        sum(length(col("w")).cast("long")).as("n_chars"))
      .withColumn("fertility",
        floor(col("n_chars").cast("double") / col("n_tokens") * 10000 + 0.5) / 10000.0)
      .orderBy("doc_id")
  }

  /** Persist the trained BPE merge list into a `graft-vt` versioned
    * table ([[graft.tables.CorpusStamp.persist]]: build-if-absent on the
    * committed v0 manifest, retrain on a stale corpus) -- a trained
    * TOKENIZER is a pipeline artifact exactly like an ANN index:
    * committed once, versioned like data, reopened by every later
    * serving job with zero training jobs. The merge list is 8 rows. */
  private[graft] def bpeIndexRoot(s: SparkSession, d: String): String =
    graft.tables.CorpusStamp.persist(s, graft.TempDirs.cached("vtbpe", d)(_ => ()) + "/t",
      d, "documents")(bpeTrainCore(s, d)._1)

  /** The ordered merge list read back from the persisted tokenizer -- a
    * bounded index LOOKUP (8 rows through the graft-vt reader), never
    * training. */
  private[graft] def bpeMergesFromIndex(s: SparkSession, d: String): Seq[(String, String)] =
    s.read.format("graft-vt").option("path", bpeIndexRoot(s, d)).load()
      .orderBy("round").select("left", "right").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** llm_bpe_encode SERVED FROM THE PERSISTED TOKENIZER: the merge list
    * comes back from the graft-vt table and segmentation is re-derived
    * by APPLYING those merges in order to the corpus's distinct words --
    * 8 row-local bounded-replace projections over a vocabulary-grain
    * frame, zero pair-candidate aggregations, zero argmax collects
    * (asserted via [[bpeTrainRuns]] in VtDataSourceSpec). Same answer,
    * same oracle as llm_bpe_encode; the difference is the operational
    * posture: a restarted 100 TB encode job pays one 8-row lookup, not
    * a corpus-scale training rerun -- the annIvfPersisted discipline
    * applied to the tokenizer family. */
  def llmBpePersisted(s: SparkSession, d: String): DataFrame = {
    // the served segmentation is a derived table like annIvfPersisted's
    // assigned frame: memoized + checkpointed per (session, corpus
    // state), so repeated serves price the derivation once
    val seg = Derived(s, d, "bpe_served_seg") {
      val merges = bpeMergesFromIndex(s, d)
      var sg = TokenizerMerge.initialSeg(
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("cnt")))
      merges.foreach { case (l, r) =>
        sg = sg.withColumn("seg", TokenizerMerge.applyMerge(col("seg"), l, r))
      }
      sg.localCheckpoint(true)
    }
    bpeEncodeEconomics(s, d, seg)
  }

  /** DuckDB twin of the encode: the same unrolled CTE tower up to seg8
    * (each word recovered from its segmentation by deleting separators),
    * then the identical left join + per-doc aggregation. */
  private def bpeEncodeOracle: String = {
    val p = "\u001f"
    bpeOracleCtes +
      s", wordtok AS (SELECT replace(seg, '$p', '') AS w, " +
      s"CAST(len(string_split(seg, '$p')) AS BIGINT) AS ntok FROM seg$BpeRounds), " +
      "dw AS (SELECT doc_id, w FROM (SELECT doc_id, " +
      "unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(coalesce(ntok, 1)) AS BIGINT) AS n_tokens, " +
      "CAST(sum(length(w)) AS BIGINT) AS n_chars, " +
      "floor(CAST(sum(length(w)) AS DOUBLE) / sum(coalesce(ntok, 1)) * 10000 + 0.5) / 10000.0 AS fertility " +
      "FROM dw LEFT JOIN wordtok USING (w) GROUP BY doc_id ORDER BY doc_id"
  }

  /** URL-canonicalization dedup — the first pass of every web-corpus
    * pipeline: the same page arrives under case-varied hosts, tracking
    * query params, fragments, and trailing slashes. Raw URLs are
    * CONSTRUCTED from doc_id arithmetic (the fixture has no url column)
    * with exactly those four noise classes planted, then canonicalized by
    * pure codegen'd string ops (strip fragment → strip query → lowercase
    * → drop `www.` → drop trailing slash) and deduped in ONE hash shuffle
    * on the canonical key. Survivor rule is deterministic (longest
    * document, doc_id ascending on ties) so retries at any scale elect
    * the same representative; at 100 TB this is the same shape as exact
    * dedup — a map-side projection plus one exchange, no index needed. */
  def llmDedupUrl(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = t(s, d, "documents").select(
      col("doc_id"), col("n_chars"),
      concat(
        lit("https://"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("WWW.Mirror."))
          .otherwise(lit("www.mirror.")),
        lit("example.com/articles/"),
        pmod(col("doc_id"), lit(197)).cast("string"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit("/")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit("?utm_source="), col("source"), lit("&utm_campaign=crawl")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("#top")).otherwise(lit("")))
        .as("url"))
    val canon = raw.withColumn("canonical_url",
      regexp_replace(
        regexp_replace(
          lower(regexp_replace(regexp_replace(col("url"), "#.*$", ""), "\\?.*$", "")),
          "^https://www\\.", "https://"),
        "/$", ""))
    val byCanon = Window.partitionBy("canonical_url")
    canon
      .withColumn("rn", row_number().over(
        byCanon.orderBy(col("n_chars").desc, col("doc_id"))))
      .withColumn("n_dups", count(lit(1)).over(byCanon))
      .filter(col("rn") === 1)
      .select(col("canonical_url"), col("doc_id"), col("n_dups"))
      .orderBy("canonical_url")
  }

  /** Quality scoring: length band + average word length, composed into a
    * [0,1] score with exact-portable arithmetic. */
  def llmQualityScore(s: SparkSession, d: String): DataFrame = {
    val wordCnt = size(split(col("text"), " "))
    val lenScore = least(col("n_chars") / lit(500.0), lit(1.0))
    val avgWlen = (col("n_chars") - (wordCnt - lit(1))) / wordCnt.cast("double")
    t(s, d, "documents")
      .select(col("doc_id"), wordCnt.as("word_cnt"),
        round(lit(0.6) * lenScore + lit(0.4) * least(avgWlen / lit(10.0), lit(1.0)), 6).as("score"))
      .orderBy("doc_id")
  }

  /** Word n-gram shingles over a pre-split `ws` column. Documents with
    * fewer than n words yield an empty array — without the guard,
    * sequence(1, size-n+1) would count DOWN (Spark defaults to step -1 when
    * start > stop) and slice(ws, 0, n) throws; DuckDB's generate_series
    * returns empty for the same bounds, so the guard is also what keeps
    * batch and oracle semantics aligned on short documents. */
  private[operators] def shinglesSql(n: Int): String =
    s"if(size(ws) >= $n, transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', slice(ws, i, $n))), array())"

  private def shingles(n: Int): Column = expr(shinglesSql(n))

  /** Shingles as md5-prefix int64 ids (60 bits) — the join-key form; the
    * DuckDB oracle computes the identical hash, so collisions (P ≈ 2⁻⁶⁰
    * per pair) affect both engines identically. Round 6: the SQL
    * `transform(..., s -> conv(substring(md5(...))))` composition became
    * the native [[org.apache.spark.sql.graftnative.HashedShingles]]
    * expression — bit-identical ids (property-tested vs the composition),
    * but the window loop runs compiled over UTF-8 bytes instead of an
    * interpreted lambda with four intermediate allocations per window. */
  private def hashedShingles(n: Int): Column =
    org.apache.spark.sql.graftnative.GraftNative.hashedShingles(col("ws"), n)

  /** Cross-document duplicated-SPAN profile — the positional complement
    * of doc-level dedup (the "dedup at the span level" of Lee et al.
    * 2022, Deduplicating Training Data Makes Language Models Better):
    * every 8-word span, keyed by its md5-prefix int64 id WITH its
    * position, is flagged when the identical span text occurs in ≥2
    * distinct documents; the output is each affected document's profile
    * (how many of its positions sit inside cross-doc duplicated text,
    * how many distinct such spans).
    *
    * Scale shape: the exploded frame is 1:~len(doc) rows but never
    * carries text — only (sid int64, doc_id, pos); the ≥2-distinct-docs
    * screen is ONE hash aggregation on sid (partial count-distinct via
    * the two-level agg), and the flagged set joins back on the 8-byte
    * sid. At 100 TB this is the standard span-dedup sweep: no all-pairs
    * comparison ever exists, work is linear in corpus token count plus
    * the (tiny) duplicated-span join. */
  def llmSpanDup(s: SparkSession, d: String): DataFrame =
    spanDupProfile(t(s, d, "documents")).orderBy("doc_id")

  /** Core span-dup profile over any (doc_id, text) frame — exposed so
    * planted-span tests exercise THIS pipeline. */
  def spanDupProfile(docs: DataFrame, width: Int = 8): DataFrame = {
    val spans = docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(hashedShingles(width)).as("sid"))
    val dupIds = spans.groupBy("sid")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2).select("sid")
    spans.join(dupIds, "sid")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_positions"),
        countDistinct("sid").as("n_dup_spans"))
  }

  /** Exact SUBSTRING-level dedup report — the boilerplate-stripping pass
    * LLM curation runs INSIDE otherwise-unique documents (the span-level
    * dedup of Lee et al. 2022, as a survivor-policy dedup rather than a
    * profile): every [[SubstringWindow]]-token window (stride 1) is keyed
    * by the md5 of its text; a window whose hash occurs ≥ 2 times
    * ANYWHERE in the corpus — another doc or elsewhere in the SAME doc,
    * unlike [[llmSpanDup]] which profiles only cross-document spans — is
    * duplicated, and its deterministic survivor span is the smallest
    * (doc_id, pos) occurrence. Output is each document's curation row:
    * window count, duplicated-window count, removable count (duplicated
    * minus survivor — what the strip pass would cut), duplicated-window
    * fraction. Docs shorter than the window have 0 windows, frac 0.0. */
  def llmDedupSubstring(s: SparkSession, d: String): DataFrame =
    profileFromSpans(t(s, d, "documents"), fixtureSubstringSpans(s, d))
      .orderBy("doc_id")

  /** The classified window table is a DERIVED TABLE of the substring
    * family, shared by the report and the strip — memoized + checkpointed
    * per (session, corpus) like the shingle index, so grading/benching
    * both keys prices the ~1-window-per-token hash pass once. */
  private def fixtureSubstringSpans(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "substring_spans")(
      substringSpans(t(s, d, "documents"), SubstringWindow).localCheckpoint(true))

  /** Fixture window width: 16 tokens (docs run 10–99 tokens; Lee et al.
    * use 50 on web-scale docs — the width is a parameter, the machinery
    * is identical). */
  val SubstringWindow = 16

  /** Core substring-dedup report over any (doc_id, text) frame.
    *
    * Scale shape: the window TEXT exists only map-side — it is joined and
    * hashed in the same projection that enumerates positions, so the
    * shuffle carries (h, doc_id, pos) and never a window string. The
    * window hash is the shuffle key: one PARTIAL-AGGREGATABLE groupBy(h)
    * for (n_occ, survivor), a join back on h, then groupBy(doc_id) —
    * linear in corpus token count, never all-pairs, same banded
    * discipline as MinHashOps. This is deliberately NOT spelled as
    * count/row_number windows over h: a real boilerplate window repeated
    * 10⁸ times at 100 TB makes one h partition hot, and a Window exec
    * cannot split it, while the aggregate absorbs the hot key map-side
    * and AQE skew-splits the join's fact side. md5 (vs an 8-byte
    * xxhash64) is the cross-engine-parity choice, the same trade
    * llm_dedup_exact makes; a production sweep would swap the hash. */
  def substringDedupProfile(docs: DataFrame, width: Int = SubstringWindow): DataFrame =
    profileFromSpans(docs, substringSpans(docs, width))

  /** Window enumeration shared by the whole substring family:
    * (doc_id, pos 1-based, h = the engine's standard 60-bit md5-prefix
    * id of the window text). The window TEXT exists only inside this
    * map-side projection — nothing downstream ever shuffles it.
    *
    * r16: the hash rides the native [[org.apache.spark.sql.graftnative.HashedShingles]]
    * kernel (one MessageDigest pass per window over the words' UTF-8
    * bytes) instead of the interpreted per-window
    * `transform(sequence…, i -> md5(array_join(slice…)))` lambda — the
    * ~1-hash-per-token pass was the two largest memo builds in the whole
    * registry (substring_spans + substring_inc_spans, ~10 s each at
    * sf0.1). The id is the md5 PREFIX as int64 instead of the full
    * 32-char hex string — the same trade (and the same DuckDB
    * `CAST('0x' || substr(md5(…),1,15) AS BIGINT)` mirror, so collisions
    * affect both engines identically: parity by construction) the
    * shingle index made in round 11; downstream joins/groupBys shuffle
    * 8-byte keys instead of ~32-byte strings. Docs shorter than the
    * window hash to an EMPTY array (kernel contract), so posexplode
    * drops them — the consumers recover zero-window docs by left-joining
    * `docs`, as before. */
  private def substringWindows(docs: DataFrame, width: Int): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftnative.GraftNative
          .hashedShingles(col("ws"), width)).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))

  /** Shared kernel of the substring family: every window classified as
    * (doc_id, pos, dup, removable) — dup = its hash occurs ≥ 2 times
    * corpus-wide, removable = dup and NOT the (min doc_id, min pos)
    * survivor occurrence. One window-grain frame, two consumers
    * ([[profileFromSpans]], [[stripFromSpans]]); the graded keys share
    * one memoized build of it per (session, corpus). */
  private[graft] def substringSpans(docs: DataFrame, width: Int): DataFrame = {
    val wins = substringWindows(docs, width)
    val byHash = wins.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("surv"))
    wins.join(byHash, Seq("h"))
      .select(col("doc_id"), col("pos"),
        (col("n_occ") >= 2).as("dup"),
        (col("n_occ") >= 2 &&
          !(col("surv.doc_id") === col("doc_id") && col("surv.pos") === col("pos")))
          .as("removable"))
  }

  private def profileFromSpans(docs: DataFrame, spans: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(spans.groupBy("doc_id")
        .agg(count(lit(1)).as("nw"),
          count(when(col("dup"), lit(1))).as("nd"),
          count(when(col("removable"), lit(1))).as("nr")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_windows"),
        coalesce(col("nd"), lit(0L)).as("n_dup_windows"),
        coalesce(col("nr"), lit(0L)).as("n_removable_windows"))
      .withColumn("dup_win_frac", when(col("n_windows") === 0, lit(0.0))
        .otherwise(round(col("n_dup_windows").cast("double") / col("n_windows"), 6)))

  /** The substring-dedup PRODUCT — [[llmDedupSubstring]] is the report,
    * this is the strip: every token position covered by at least one
    * REMOVABLE window (duplicated, not the survivor) is cut, and each
    * document comes back as (doc_id, n_tokens, n_cut_tokens,
    * text_stripped) — the de-boilerplated corpus a curation pipeline
    * actually trains on. The survivor occurrence keeps its text, so one
    * copy of every duplicated span survives corpus-wide (Lee et al.
    * 2022's span-dedup contract). Docs shorter than the window (and
    * docs with nothing cut) pass through unchanged. */
  def llmDedupSubstringStrip(s: SparkSession, d: String): DataFrame =
    stripFromSpans(t(s, d, "documents"), fixtureSubstringSpans(s, d),
      SubstringWindow).orderBy("doc_id")

  /** Core strip over any (doc_id, text) frame.
    *
    * Scale shape: the window/hash machinery is [[substringDedupProfile]]'s
    * (hash-keyed shuffle, never all-pairs); the cut set is the removable
    * windows exploded to covered positions (≤ width rows per removable
    * window, deduplicated) and subtracted from the token table by a
    * LEFT ANTI join on (doc_id, p) — doc-grain keys, linear, no skew
    * hazard. Reassembly is one doc-grain aggregation whose state is
    * bounded by the document length (the same bound any text column
    * already imposes); order is restored by array_sort on the carried
    * position, so the result is deterministic under any partitioning. */
  def substringDedupStrip(docs: DataFrame, width: Int = SubstringWindow): DataFrame =
    stripFromSpans(docs, substringSpans(docs, width), width)

  private def stripFromSpans(docs: DataFrame, spans: DataFrame, width: Int): DataFrame = {
    val cut = spans.where(col("removable"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (width - 1))).as("p"))
      .distinct()
    val toks = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
    val kept = toks.join(cut, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("tok")))),
          e => e.getField("tok")), " ").as("text_stripped"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_cut_tokens"),
        coalesce(col("text_stripped"), lit("")).as("text_stripped"))
  }

  /** INCREMENTAL substring dedup — the daily-snapshot shape of the
    * family ([[llmDedupIncremental]]'s split applied at window grain):
    * only the NEW batch (doc_id % 10 ≥ 8, the fixture's standing
    * existing/new split) is windowed and classified against (a) the
    * EXISTING corpus's distinct window hashes — a "known" window is
    * boilerplate already ingested, cut unconditionally by a strip — and
    * (b) the new batch itself — an unknown window duplicated within the
    * batch keeps its min-(doc_id, pos) survivor and cuts the rest.
    * Output per new doc: window count, known count, batch-removable
    * count, and the fraction a combined-corpus strip would cut.
    *
    * Scale shape: the existing corpus contributes ONE distinct-hash
    * table (hash-partitioned; this key derives it in-plan, and
    * [[llmDedupSubstringPersisted]] is the committed-artifact serve —
    * same answer from a graft-vt table reopened per batch with ZERO
    * scans of the existing data, the posture a 100 TB pipeline runs);
    * the new batch is windowed once, classified by two hash-keyed
    * equi-joins, aggregated to doc grain. Work is linear in the NEW
    * batch plus one build over the existing hashes — never a rescan of
    * old-vs-old. */
  def llmDedupSubstringIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    incrementalProfileFromSpans(docs.filter(col("doc_id") % 10 >= 8),
      fixtureIncrementalSpans(s, d)).orderBy("doc_id")
  }

  /** The incremental family's fixture split (llm_dedup_incremental's
    * standing doc_id % 10 boundary), span-classified ONCE per
    * (session, corpus) and shared by the profile and strip keys. */
  private def fixtureIncrementalSpans(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "substring_inc_spans") {
      val docs = t(s, d, "documents")
      incrementalSpans(docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8), SubstringWindow).localCheckpoint(true)
    }

  /** Shared kernel of the incremental pair: every FRESH window
    * classified as (doc_id, pos, known, batch_removable) — known = its
    * hash exists anywhere in the EXISTING corpus (cut unconditionally:
    * the corpus already holds a copy), batch_removable = unknown but
    * duplicated within the batch and not the batch's (min doc_id,
    * min pos) survivor. Two consumers: the per-doc profile and the
    * strip. The existing corpus contributes only ONE distinct-hash
    * build (the hot boiler hashes partial-aggregate map-side); nothing
    * here ever rescans old-vs-old. */
  private[graft] def incrementalSpans(existing: DataFrame, fresh: DataFrame,
                                      width: Int): DataFrame =
    spansAgainstKnown(
      substringWindows(existing, width).select(col("h").as("eh")).distinct(),
      fresh, width)

  /** Classify fresh windows against ANY one-column known-hash table
    * (`eh`) — derived in-plan by [[incrementalSpans]], read back from
    * the persisted graft-vt index by [[llmDedupSubstringPersisted]].
    * Both serve paths share this literal plan, so persisted-vs-derived
    * equality is a join-input swap, not a reimplementation. */
  private def spansAgainstKnown(exH: DataFrame, fresh: DataFrame,
                                width: Int): DataFrame = {
    val wins = substringWindows(fresh, width)
    val byHash = wins.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("surv"))
    wins
      .join(exH, col("h") === col("eh"), "left")
      .join(byHash, Seq("h"))
      .select(col("doc_id"), col("pos"),
        col("eh").isNotNull.as("known"),
        (col("eh").isNull && col("n_occ") >= 2 &&
          !(col("surv.doc_id") === col("doc_id") && col("surv.pos") === col("pos")))
          .as("batch_removable"))
  }

  /** Streaming-sink surface ([[graft.streaming.StreamingOps
    * .substringDedupSink]]): the incremental profile of a fresh batch
    * against an arbitrary known-hash table — the same classification
    * plan the graded keys run. */
  private[graft] def incrementalProfileAgainst(exH: DataFrame, fresh: DataFrame,
                                               width: Int = SubstringWindow): DataFrame =
    incrementalProfileFromSpans(fresh, spansAgainstKnown(exH, fresh, width))

  /** The batch's previously-UNKNOWN distinct window hashes — the append
    * that advances the known-hash table between micro-batches (anti-join
    * keeps the table globally distinct, so its size tracks distinct
    * corpus windows, not deliveries). */
  private[graft] def newHashesAgainst(exH: DataFrame, fresh: DataFrame,
                                      width: Int = SubstringWindow): DataFrame =
    substringWindows(fresh, width).select(col("h")).distinct()
      .join(exH, col("h") === col("eh"), "left_anti")

  /** Index-build counter — the spec hook proving the persisted serve
    * path never re-derives the known-hash table (the bpeTrainRuns /
    * unigramTrainRuns discipline applied to the dedup index). */
  private[graft] val substringIndexBuilds = new java.util.concurrent.atomic.AtomicLong

  /** Persist the EXISTING corpus's distinct window hashes into a
    * `graft-vt` versioned table ([[graft.tables.CorpusStamp.persist]],
    * the bpeIndexRoot discipline): at 100 TB the known-hash table is a
    * committed pipeline artifact built once per corpus snapshot, and
    * each daily batch job reopens it with zero scans of the existing
    * data. Corpus-fingerprint sealed: a
    * corpus mutated in place re-derives (and re-versions) exactly once,
    * an unchanged corpus serves with zero builds. */
  private[graft] def substringIndexRoot(s: SparkSession, d: String): String =
    graft.tables.CorpusStamp.persist(s, graft.TempDirs.cached("vtsubh", d)(_ => ()) + "/t",
        d, "documents") {
      substringIndexBuilds.incrementAndGet()
      substringWindows(t(s, d, "documents").filter(col("doc_id") % 10 < 8), SubstringWindow)
        .select(col("h")).distinct()
    }

  /** [[llmDedupSubstringIncremental]] SERVED FROM THE PERSISTED
    * known-hash index: the existing corpus is never scanned at serve
    * time — its distinct window hashes come back through the graft-vt
    * reader and join the fresh batch's windows in the same
    * [[spansAgainstKnown]] plan. Same answer, same oracle as the
    * derived-path key (asserted, with the zero-rebuild counter and the
    * stale-corpus retrain, in VtDataSourceSpec). */
  def llmDedupSubstringPersisted(s: SparkSession, d: String): DataFrame = {
    val exH = s.read.format("graft-vt")
      .option("path", substringIndexRoot(s, d)).load()
      .select(col("h").as("eh"))
    val fresh = t(s, d, "documents").filter(col("doc_id") % 10 >= 8)
    incrementalProfileFromSpans(fresh,
      spansAgainstKnown(exH, fresh, SubstringWindow)).orderBy("doc_id")
  }

  private def incrementalProfileFromSpans(fresh: DataFrame, spans: DataFrame): DataFrame =
    fresh.select(col("doc_id"))
      .join(spans.groupBy("doc_id")
        .agg(count(lit(1)).as("nw"),
          count(when(col("known"), lit(1))).as("nk"),
          count(when(col("batch_removable"), lit(1))).as("nr")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nw"), lit(0L)).as("n_windows"),
        coalesce(col("nk"), lit(0L)).as("n_known_windows"),
        coalesce(col("nr"), lit(0L)).as("n_batch_removable_windows"))
      .withColumn("cut_frac", when(col("n_windows") === 0, lit(0.0))
        .otherwise(round((col("n_known_windows") + col("n_batch_removable_windows"))
          .cast("double") / col("n_windows"), 6)))

  /** Core incremental pass over any (existing, fresh) pair of
    * (doc_id, text) frames — exposed so planted-truth specs exercise
    * THIS pipeline. */
  def substringIncremental(existing: DataFrame, fresh: DataFrame,
                           width: Int = SubstringWindow): DataFrame =
    incrementalProfileFromSpans(fresh, incrementalSpans(existing, fresh, width))

  /** The incremental STRIP — [[substringIncremental]] is the report,
    * this is the cleaned new batch a daily-ingest pipeline appends to
    * the training corpus: every fresh token position covered by a
    * known-to-the-corpus window OR a non-survivor batch duplicate is
    * cut. Within the batch one copy of each new duplicated span
    * survives (the min-(doc_id, pos) occurrence); spans the corpus
    * already holds keep NO copy here — their survivor lives in the
    * existing data. Same position-exact reassembly contract as
    * [[substringDedupStrip]]. */
  def substringIncrementalStrip(existing: DataFrame, fresh: DataFrame,
                                width: Int = SubstringWindow): DataFrame =
    stripFromSpans(fresh,
      incrementalSpans(existing, fresh, width)
        .select(col("doc_id"), col("pos"),
          (col("known") || col("batch_removable")).as("removable")), width)

  def llmDedupSubstringStripIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    stripFromSpans(docs.filter(col("doc_id") % 10 >= 8),
      fixtureIncrementalSpans(s, d)
        .select(col("doc_id"), col("pos"),
          (col("known") || col("batch_removable")).as("removable")),
      SubstringWindow).orderBy("doc_id")
  }

  /** Document fingerprint: min MD5 over 5-gram word shingles (MinHash with
    * one hash function) — fully row-local, portable to SQL, and stable
    * under small edits elsewhere in the document. */
  def llmFingerprint(s: SparkSession, d: String): DataFrame =
    // r15: sort the raw rows, fingerprint after — the range exchange's
    // sampling pass otherwise runs the per-shingle md5 tower a second
    // time (see llmRepetition). Same rows, same order, one tower pass.
    fingerprint(t(s, d, "documents").select("doc_id", "text").orderBy("doc_id"))

  /** Core fingerprint over any (doc_id, text) frame; docs shorter than 5
    * words have no 5-gram shingles and fingerprint NULL. */
  def fingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"),
        array_min(transform(shingles(5), sh => md5(sh.cast("binary")))).as("fp"))

  /** 3-gram Jaccard near-dup pairs (≥ 0.2): explode distinct shingles,
    * self-join on shingle, |∩| / (|A|+|B|−|∩|). Fixtures have no near-dups
    * so the fixture output is empty; recall on constructed dups is
    * unit-tested. 100 TB: this IS the scale shape — pairs are generated
    * only for docs sharing a shingle (inverted index), never all-pairs,
    * and the stop-shingle cap ([[StopShingleCap]]) is ACTIVE in this
    * graded plan: the DuckDB oracle applies the identical df ≤ cap filter
    * (QUALIFY over the same posting list), so the plan graded here is the
    * plan that runs at scale. */
  def llmNgramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairs(fixtureShingleIndex(s, d), 0.2, maxPosting = StopShingleCap)
      .orderBy("a_id", "b_id")

  /** Core n-gram Jaccard over any (doc_id, text) frame. Shingle dedup is
    * row-local (array_distinct before explode — no distinct() shuffle) and
    * each exploded row carries its doc's shingle count, so |A| and |B|
    * ride through the pair join as grouping keys instead of two extra
    * shuffle joins. One shuffle to co-locate shingles, one aggregation —
    * the minimal shape for an inverted-index similarity join. */
  /** The shingle POSTING LIST (doc_id, |shingles|, shingle-id) — the
    * reusable inverted index every Jaccard-family op builds on.
    * Shingles are carried as md5-prefix int64 ids, not strings: the
    * DuckDB oracle computes the IDENTICAL hash, so any collision affects
    * both engines identically (parity by construction) while the join
    * shuffles 8-byte keys instead of ~30-byte strings. The distinct() is
    * a no-op on the data (rows are already unique after array_distinct)
    * but acts as a materialization barrier between the interpreted
    * shingle expression and the self-join. */
  def shingleIndex(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shs", array_distinct(hashedShingles(3)))
      .select(col("doc_id"), size(col("shs")).as("n_sh"), explode(col("shs")).as("sh"))
      .distinct()

  /** Jaccard pairs over a prepared posting list. hint("merge") forbids
    * the planner's broadcast choice: the broadcast build side re-computes
    * the whole shingle subtree (self-join exprId re-aliasing defeats
    * ReuseExchange canonical equality).
    *
    * `maxPosting` is the STOP-SHINGLE cap the 100 TB posture requires: a
    * shingle appearing in m documents fans out m(m-1)/2 candidate pairs,
    * so one boilerplate shingle (license header, empty-page filler) can
    * dominate the join. Postings longer than the cap are dropped before
    * the self-join — the standard stop-word treatment: a shingle that
    * common carries no discriminating signal, and the intersection count
    * it would contribute is bounded by the (unchanged) per-doc n_sh in
    * the denominator, so capped Jaccard only ever UNDER-estimates.
    * The graded entries run WITH the cap ([[StopShingleCap]], mirrored
    * in the DuckDB oracles) — the graded plan is the 100 TB plan.
    * Passing Int.MaxValue skips the window entirely (raw path for
    * callers that pre-capped). The window count partitions by the same
    * `sh` key the join shuffles on, so the exchange is reused, not
    * doubled (asserted in ScaleOpsSpec). */
  def jaccardPairs(sh: DataFrame, threshold: Double,
                   maxPosting: Int = Int.MaxValue): DataFrame =
    pairInter(sh, maxPosting)
      .withColumn("jac", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")

  /** The (a_id, b_id, n_a, n_b, inter) co-occurrence table every
    * Jaccard-family op normalizes — r16: AGGREGATE-THEN-PAIR instead of
    * the posting-list SELF-JOIN. The old shape (capPostings window →
    * hint("merge") self-join on sh → pair-grain groupBy) evaluated the
    * posting subtree twice (self-join exprId re-aliasing defeats
    * ReuseExchange's canonical equality at plan time; AQE recovered the
    * exchange at runtime but both sides still paid the df-window pass)
    * and ran an SMJ whose only job was pairing rows already co-located
    * by sh. This shape collects each shingle's posting list ONCE (one
    * exchange on sh — the same bytes the join shuffled), applies the
    * stop-shingle cap as a size filter on the list (size(ds) is exactly
    * the window's per-sh count), sorts the list (collect_list order is
    * nondeterministic), and emits the i<j pairs array-side; ONE more
    * exchange counts (pair, inter) with map-side partial aggregation —
    * identical bytes to the old pair exchange. Pair sets are identical:
    * posting lists hold unique doc_ids (shingleIndex ends in distinct),
    * so i<j in doc_id-sorted order ≡ a.doc_id < b.doc_id, and each
    * shared shingle contributes exactly one pair occurrence.
    *
    * 100 TB memory note: the per-row pair array is bounded by the
    * stop-shingle cap (≤ cap·(cap−1)/2 structs ≈ 4 MB transient at the
    * graded cap of 500) — the same fan-out bound the cap already imposed
    * on the join's output; uncapped callers keep the old hazard profile
    * (a hot shingle dominates either shape). */
  private def pairInter(sh: DataFrame, maxPosting: Int): DataFrame = {
    val lists = sh.groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"))).as("ds0"))
      .filter(size(col("ds0")) >= 2 && size(col("ds0")) <= maxPosting)
      .select(sort_array(col("ds0")).as("ds"))
    val n = size(col("ds"))
    lists
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), n - i - lit(1)), y =>
          struct(x.getField("doc_id").as("a_id"), y.getField("doc_id").as("b_id"),
            x.getField("n_sh").as("n_a"), y.getField("n_sh").as("n_b")))))).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  /** Cross-split sibling of [[pairInter]] for the incremental /
    * decontamination ops: pairs are (existing × new) within each
    * shingle's posting list, never same-side. The stop-shingle cap is
    * applied to the CORPUS-WIDE list size (both splits — the boilerplate
    * shingle the cap exists for is hot on both sides), exactly the old
    * capPostings-before-split-filters semantics. */
  private def crossPairInter(sh: DataFrame, isNew: Column,
                             maxPosting: Int): DataFrame = {
    val lists = sh.groupBy("sh")
      .agg(collect_list(struct(col("doc_id"), col("n_sh"), isNew.as("nw"))).as("ds"))
      .filter(size(col("ds")) >= 2 && size(col("ds")) <= maxPosting)
    val ex = filter(col("ds"), e => !e.getField("nw"))
    val nw = filter(col("ds"), e => e.getField("nw"))
    lists
      .select(explode(flatten(transform(ex, x =>
        transform(nw, y =>
          struct(x.getField("doc_id").as("ex_id"), y.getField("doc_id").as("new_id"),
            x.getField("n_sh").as("n_a"), y.getField("n_sh").as("n_b")))))).as("p"))
      .groupBy(col("p.ex_id").as("ex_id"), col("p.new_id").as("new_id"),
        col("p.n_a").as("n_a"), col("p.n_b").as("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  def ngramJaccard(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(shingleIndex(docs), threshold)

  /** The graded stop-shingle cap: postings longer than this are dropped
    * before any Jaccard/containment self-join. 500 is the StressCheck-
    * verified value (capped join at 40× corpus finds exactly the planted
    * pairs — docs/SCALE.md); the DuckDB oracles mirror it with the same
    * df ≤ cap predicate over the same posting list. */
  val StopShingleCap = 500

  /** Drop postings whose document frequency exceeds `maxPosting` — the
    * stop-shingle guard shared by [[jaccardPairs]] and
    * [[containmentPairs]]. The df window partitions by the same `sh` key
    * the downstream self-join shuffles on, so the window's exchange IS
    * the join's exchange (asserted in ScaleOpsSpec): the cap costs one
    * window pass, not an extra shuffle. `Int.MaxValue` (the raw path)
    * skips the window entirely. */
  private def capPostings(sh: DataFrame, maxPosting: Int): DataFrame =
    if (maxPosting == Int.MaxValue) sh
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("sh")
      sh.withColumn("df", count(lit(1)).over(w))
        .filter(col("df") <= maxPosting)
        .drop("df")
    }

  /** CONTAINMENT pairs over a prepared posting list — the directional
    * complement of [[jaccardPairs]]: inter / min(|A|, |B|) instead of
    * inter / |A∪B|. Catches EMBEDDED copies that Jaccard structurally
    * misses: a benchmark question quoted whole inside a long web page has
    * containment ≈ 1 but Jaccard ≈ |question|/|page| ≈ 0 — exactly the
    * pair a training-data decontamination sweep must flag (the raw-count
    * screen [[llmContaminationExact]] is its unnormalized sibling). Same
    * inverted-index join and stop-shingle considerations as Jaccard; the
    * min-size denominator is already in the grouping key, so the extra
    * cost over jaccardPairs is one `least()`. `maxPosting` is the same
    * stop-shingle cap as [[jaccardPairs]] — containment needs it MORE:
    * the min() denominator means a short doc full of boilerplate
    * shingles scores high containment against everything sharing them,
    * so capped df both bounds the join fan-out and removes the
    * no-signal pairs. Capped containment under-estimates only when the
    * overlap itself is boilerplate. */
  def containmentPairs(sh: DataFrame, threshold: Double,
                       maxPosting: Int = Int.MaxValue): DataFrame =
    pairInter(sh, maxPosting)
      .withColumn("cont", round(col("inter") / least(col("n_a"), col("n_b")), 4))
      .filter(col("cont") >= threshold)
      .select("a_id", "b_id", "cont")

  /** Graded entry: containment ≥ 0.6 over the memoized corpus shingle
    * index (threshold chosen as a production embedded-copy cut; on the
    * fixture the planted dups sit at ≈ 1.0 regardless). The stop-shingle
    * cap is active and mirrored in the oracle — see [[llmNgramJaccard]]. */
  def llmContainment(s: SparkSession, d: String): DataFrame =
    containmentPairs(fixtureShingleIndex(s, d), 0.6, maxPosting = StopShingleCap)
      .orderBy("a_id", "b_id")

  /** Pipeline-stage memo: the corpus shingle index and the near-dup
    * cluster labels are DERIVED TABLES of the dedup pipeline — a real
    * deployment materializes each once and feeds every downstream
    * consumer (jaccard pairs at several thresholds, cluster extraction,
    * survivor filtering), exactly like `scan_partitioned`'s one-time
    * partitioned layout. Cached per (session, sfDir) via an eager
    * localCheckpoint so repeated graded queries — and bench reps — price
    * the index build once, not per consumer. Correctness is unaffected:
    * the checkpoint holds exactly the frame the expression tree defines
    * (preflighted at sf0.01 and sf0.1). */
  private[graft] def fixtureShingleIndex(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "shingles")(shingleIndex(t(s, d, "documents")).localCheckpoint(true))

  private def dedupLabels(s: SparkSession, d: String): DataFrame = {
    // hoisted out of the memo lambda to keep the index build's jobs
    // outside the label-build's key-lock hold (Derived builds may nest,
    // so the nesting would be legal — just longer under the lock)
    val sh = fixtureShingleIndex(s, d)
    Derived(s, d, "cc_labels")(
      connectedComponents(jaccardPairs(sh, 0.8, maxPosting = StopShingleCap)
        .select("a_id", "b_id")).localCheckpoint(true))
  }

  /** Distributed connected components by min-label propagation WITH
    * pointer jumping: each node starts labeled with its own id; every
    * iteration each node takes the min of its label and its neighbors'
    * labels (one join + one groupBy min), then relabels once through the
    * label of its label (one more join — "shortcutting"). Labels are
    * always node ids inside the component, so the jump is well-defined,
    * and each round at least halves the remaining label-chain depth:
    * convergence in O(log n) rounds instead of O(diameter) — maxIter 20
    * covers components of depth ~2²⁰, so the pathological boilerplate
    * chain that would have tripped the diameter-bound require() now
    * converges (planted 60-node chain unit-tested). Fixed point implies
    * every node's label ≤ all neighbors' labels, hence constant per
    * component, hence the component min. localCheckpoint truncates the
    * per-iteration lineage; the convergence check is a scalar count (the
    * same driver-side loop structure GraphX/MLlib iterative algorithms
    * use). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the (possibly expensive) edge plan ONCE before the
    // symmetrization union re-reads it from both branches
    val e = edges.localCheckpoint(true)
    val sym = e.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(e.select(col("b_id").as("src"), col("a_id").as("dst")))
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      // One join (neighbor labels via dst) + one aggregation per round.
      // The node's OWN label rides along as a tagged union branch, so the
      // same min-aggregation yields both the new label (min over self +
      // neighbors) and the old label (min over the single own=true row) —
      // no second join for the update, no third join for the convergence
      // count (it reads the checkpointed result).
      val prop = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("comp"), lit(false).as("own"))
      val mins = prop.union(labels.select(col("id"), col("comp"), lit(true).as("own")))
        .groupBy("id")
        .agg(min("comp").as("comp"), min(when(col("own"), col("comp"))).as("old_comp"))
      // Pointer jump: comp values are node ids, so labels(comp) exists
      // (left join only for safety mid-round: a node's comp may name a
      // node whose OWN row hasn't re-aggregated yet — coalesce keeps the
      // un-jumped label). least() because labels(comp) is the PREVIOUS
      // round's label for that node, which the propagation step may have
      // already beaten.
      val prev = labels.select(col("id").as("p_id"), col("comp").as("p_comp"))
      val next = mins
        .join(prev, mins("comp") === prev("p_id"), "left")
        .select(mins("id"),
          least(mins("comp"), coalesce(col("p_comp"), mins("comp"))).as("comp"),
          col("old_comp"))
        .localCheckpoint(true)
      changed = next.filter(col("comp") < col("old_comp")).count()
      labels = next.select("id", "comp")
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter iterations")
    labels
  }

  /** Duplicate CLUSTERS from the pairwise near-dup detector: pairwise
    * matches are not transitive (A~B, B~C but A!~C), so survivor selection
    * needs the connected component, not the pair list. cluster_id = min
    * doc_id of the component (the canonical survivor). */
  def llmDedupClusters(s: SparkSession, d: String): DataFrame =
    dedupLabels(s, d)
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy("doc_id")

  /** SoftDeDup-style sampling weights: instead of DROPPING near-dups,
    * every document keeps weight 1/|its duplicate cluster| (singletons
    * weigh 1.0) — the training sampler then sees each duplicated
    * content unit with total mass 1, preserving corpus diversity
    * without a hard survivor cut. Cluster sizes come from the SAME
    * components the graded llm_dedup_clusters key labels (shared
    * memoized pair table + CC), joined back to the corpus as a
    * broadcast-sized membership table; the weight is the one float —
    * a mirrored IEEE 1/n, 6 dp. */
  def llmDedupSoftweight(s: SparkSession, d: String): DataFrame = {
    val labels = dedupLabels(s, d)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("csz"))
    t(s, d, "documents").select("doc_id")
      .join(labels.join(sizes, "comp").select(col("id").as("doc_id"), col("csz")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("csz"), lit(1L)).as("cluster_size"))
      .withColumn("weight",
        floor(lit(1.0) / col("cluster_size").cast("double") * 1000000.0 + 0.5) / 1000000.0)
      .orderBy("doc_id")
  }

  /** SemDeDup-style SEMANTIC dedup clusters: embedding-cosine near-dup
    * pairs (the same thresholded, rounded pair set llm_dedup_embedding
    * grades) closed under transitivity via the distributed connected
    * components — cluster_id = min vec_id, the canonical survivor. The
    * pair stage is the block-nested-loop kernel (per-task memory bounded,
    * no driver collect); the labeling is the pointer-jumping CC
    * (O(log n) rounds). At 100 TB the pair stage swaps to the LSH/IVF
    * bucketed candidates with the same threshold — the CC consumes any
    * edge list. Fully oracle-graded (recursive-CTE closure in DuckDB). */
  def llmDedupSemantic(s: SparkSession, d: String): DataFrame =
    connectedComponents(embeddingPairs(s, d).select("a_id", "b_id"))
      .select(col("id").as("vec_id"), col("comp").as("cluster_id"))
      .orderBy("vec_id")

  /** The 0.45-threshold cosine pair table — ONE O(n²) block join shared
    * (memoized) by llm_dedup_embedding and llm_dedup_semantic; each
    * previously recomputed the identical dominant-cost frame. */
  private def embeddingPairs(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "emb_pairs")(graft.functions.VectorFunctions
      .cosinePairsDistributed(s, t(s, d, "embeddings"), 0.45).localCheckpoint(true))

  /** Alternative survivor policy: instead of min doc_id, keep the LONGEST
    * member of each duplicate cluster (ties → smaller doc_id) — the policy
    * most pipelines actually want, since boilerplate-trimmed mirrors are
    * shorter than their originals. One window over the (tiny) cluster
    * membership, not the corpus. */
  def llmDedupKeepLongest(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").select(col("doc_id"), length(col("text")).as("len"))
    val members = dedupLabels(s, d)
      .join(docs, col("id") === col("doc_id"))
    val w = Window.partitionBy("comp").orderBy(col("len").desc, col("doc_id"))
    members
      .withColumn("rn", row_number().over(w))
      .groupBy(col("comp").as("cluster_id"))
      .agg(
        min(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
        count(lit(1)).as("n_docs"),
        max(col("len")).as("max_len"))
      .orderBy("cluster_id")
  }

  /** The dedup PRODUCT: the corpus with every non-survivor cluster
    * member removed (survivor = component-min doc). A single left-anti
    * join against the metadata-sized non-survivor set — this is the frame
    * a training pipeline actually feeds downstream. */
  def llmDedupSurvivors(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val nonSurvivors = dedupLabels(s, d)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("dup_id"))
    docs.join(nonSurvivors, docs("doc_id") === nonSurvivors("dup_id"), "left_anti")
      .select(col("doc_id"), length(col("text")).as("text_len"))
      .orderBy("doc_id")
  }

  /** Training-data chunking: fixed 32-token windows with stride 24
    * (8-token overlap), the standard context-packing pre-step. Pure
    * row-local generator — arbitrarily wide at 100 TB, no shuffle. */
  def llmChunking(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("ws"),
        explode(expr("sequence(1, greatest(size(ws), 1), 24)")).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / 24).cast("int").as("chunk_idx"),
        expr("concat_ws(' ', slice(ws, start, 32))").as("chunk"),
        least(lit(32), size(col("ws")) - col("start") + 1).as("n_tokens"))
      .orderBy("doc_id", "chunk_idx")

  /** The custom-Generator twin of [[llmChunking]]: one
    * [[org.apache.spark.sql.graftnative.ChunkWindows]] UDTF eval per
    * document replaces the sequence+explode+slice composition (no
    * intermediate start-array, single Generate operator). Same output,
    * same oracle — the graded proof that the custom Catalyst Generator
    * surface produces exactly what the built-in composition does. */
  def udtfChunkWindows(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), graft.GraftFunctions.chunkWindows(col("ws"), 32, 24))
      .orderBy("doc_id", "chunk_idx")

  /** Text scrubbing: digit runs and pinned marker words redacted with
    * global regex replaces, plus a per-doc redaction count. The stopword
    * COUNT runs over the digit-replaced text (same input as the stopword
    * REPLACE), so n_red equals the number of substitutions actually made
    * even when a digit replacement creates a new word boundary. */
  def llmRedact(s: SparkSession, d: String): DataFrame = {
    val denum = regexp_replace(col("text"), "\\d+", "<NUM>")
    t(s, d, "documents")
      .select(col("doc_id"),
        regexp_replace(denum, "\\b(the|a|of)\\b", "<STOP>").as("redacted"),
        (size(regexp_extract_all(col("text"), lit("\\d+"), lit(0))) +
          size(regexp_extract_all(denum, lit("\\b(the|a|of)\\b"), lit(0)))).as("n_red"))
      .orderBy("doc_id")
  }

  /** Unigram language-model scoring: corpus token frequencies → per-doc
    * mean negative log-likelihood (high = unusual vocabulary — the
    * statistical quality filter complementing the rule-based
    * llm_quality_score). Two aggregations + one broadcast-joined lookup;
    * at 100 TB the vocab table shards by token and the scalar total
    * broadcasts. */
  def llmUnigramLogprob(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    toks.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("cnt") / col("total"))), 4).as("nll"),
        count(lit(1)).as("n_toks"))
      .orderBy("doc_id")
  }

  /** Bigram language-model scoring: corpus conditional frequencies
    * P(tok|prev) = c(prev,tok)/c(prev·) → per-doc mean negative
    * log-likelihood over its bigrams. Sharper than [[llmUnigramLogprob]]
    * at flagging word-salad documents whose unigram mix looks normal.
    * The bigram table shards on (prev, tok) — two aggregations + two
    * joins of the token stream, all keyed shuffles, never driver-side;
    * at 100 TB the long tail prunes (hapax bigrams carry no signal) or
    * the whole table drops into a count-min sketch broadcast. prev is
    * derived by array index (ws[pos-1]), not a window — no per-doc sort. */
  def llmBigramLogprob(s: SparkSession, d: String): DataFrame = {
    val pairs = t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), col("ws"), posexplode(col("ws")).as(Seq("pos", "tok")))
      .filter(col("pos") > 0)
      .select(col("doc_id"), expr("ws[pos-1]").as("prev"), col("tok"))
    val big = pairs.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val uni = pairs.groupBy("prev").agg(count(lit(1)).as("c1"))
    pairs.join(big, Seq("prev", "tok")).join(uni, Seq("prev"))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c2") / col("c1"))), 4).as("nll"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
  }

  /** Benchmark-contamination check: near-dup pairs that CROSS the
    * train/eval split (docs sharing ≥ 0.5 3-gram Jaccard with the held-out
    * set are contaminated training examples). The eval set is simulated as
    * every 50th doc; in production it is the benchmark corpus unioned in.
    * Same inverted-index shape as ngramJaccard — never all-pairs, and the
    * stop-shingle cap is ACTIVE here too (round-8: the cap had reached
    * only 2 of the posting-join consumers). */
  def llmContamination(s: SparkSession, d: String): DataFrame =
    jaccardPairs(fixtureShingleIndex(s, d), 0.5, maxPosting = StopShingleCap)
      .filter((col("a_id") % 50 === 0) =!= (col("b_id") % 50 === 0))
      .select(col("a_id"), col("b_id"), col("jac"))
      .orderBy("a_id", "b_id")

  /** EXACT-overlap decontamination — the raw-count complement of
    * [[llmContamination]]'s Jaccard form and the shape of production
    * n-gram decontamination (flag a training doc if it shares ≥ k exact
    * n-grams with any held-out doc, no normalization by doc length — a
    * long training page that embeds one whole benchmark question has a
    * tiny Jaccard but a damning overlap COUNT). Reuses the memoized
    * shingle index: eval slice (every 50th doc) joins the train slice on
    * shingle id, one aggregation — candidates only from shared shingles,
    * never eval × train all-pairs. */
  def llmContaminationExact(s: SparkSession, d: String): DataFrame = {
    // r16: cross-split aggregate-then-pair (crossPairInter) with the eval
    // slice as the "existing" side, so (eval_id, train_id) pairs come out
    // of each capped posting list array-side — the cap is corpus-wide
    // (both splits in the list before the size filter), same as the old
    // capPostings-before-split-join shape. inter counts exactly the
    // shared capped shingles the old per-(eval,train) count(1) did.
    val isEval = col("doc_id") % 50 === 0
    crossPairInter(fixtureShingleIndex(s, d), !isEval, StopShingleCap)
      .select(col("ex_id").as("eval_id"), col("new_id").as("train_id"),
        col("inter").as("n_shared"))
      .filter(col("n_shared") >= 3)
      .orderBy("eval_id", "train_id")
  }

  /** Incremental EMBEDDING near-dup — the third incremental op (exact
    * hashes: [[llmDedupIncremental]]; n-gram: [[llmDedupIncrementalNear]]):
    * today's new vectors (vec_id % 10 ≥ 8) against the existing corpus,
    * cross-split cosine ≥ 0.45 pairs via the directional cross-corpus BNL
    * ([[VectorFunctions.cosineCrossDistributed]]) — only existing × new
    * block pairs are ever generated, so the daily pass costs O(|new|·|corpus|)
    * sharded over K² tasks, not the full corpus self-join. */
  def llmDedupEmbeddingIncremental(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    VectorFunctions.cosineCrossDistributed(s,
        e.filter(col("vec_id") % 10 < 8), e.filter(col("vec_id") % 10 >= 8), 0.45)
      .select(col("a_id").as("ex_id"), col("b_id").as("new_id"), col("sim"))
      .orderBy("ex_id", "new_id")
  }

  /** Deterministic train/val split: md5-of-content bucket (stable across
    * runs, engines, and cluster layouts — the reproducible way to split a
    * corpus; a seeded random split changes with partitioning). */
  def llmSampleSplit(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("bucket",
        (conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10).cast("long") % 100).cast("int"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train").otherwise("val").as("split"))
      .orderBy("doc_id")

  /** 64-bit SimHash sketch column — the native
    * [[org.apache.spark.sql.graftnative.SimHash64]] expression (round 6;
    * previously a Scala UDF whose per-row ArrayData→Seq[String] conversion
    * was pure overhead in the sketch pass that maps EVERY document at
    * 100 TB). Bits unchanged: per-token md5, first 8 digest bytes
    * big-endian, sign-sum with a >0 threshold — asserted against the
    * plain-Scala sketch in LlmOpsSpec, and now mirrored by the
    * llm_dedup_simhash/_pairs DuckDB oracles. */
  def simhash64(toks: Column): Column =
    org.apache.spark.sql.graftnative.GraftNative.simhash64(toks)

  /** The SimHash sketch table — like [[shingleIndex]], a derived table of
    * the dedup pipeline shared by the bucket-dedup and banded-pair ops
    * (memoized per corpus on the fixture path). */
  def simhashSketches(docs: DataFrame): DataFrame =
    docs.withColumn("sh64", simhash64(split(lower(col("text")), "\\W+")))

  private def fixtureSimhash(s: SparkSession, d: String): DataFrame =
    // project to (doc_id, sh64) BEFORE the checkpoint: both consumers
    // read only those two columns, and the unprojected memo materialized
    // the full document text a second time in block storage — 16 bytes
    // per row vs corpus-sized at the stated scale
    Derived(s, d, "simhash")(simhashSketches(t(s, d, "documents"))
      .select(col("doc_id"), col("sh64")).localCheckpoint(true))

  /** SimHash sketch buckets — oracle-graded since round 6
    * ([[simhashBucketsOracle]] reconstructs the signed sh64 in DuckDB);
    * recall additionally unit-tested through [[simhashNearDup]]. */
  def llmDedupSimhash(s: SparkSession, d: String): DataFrame =
    fixtureSimhash(s, d)
      .groupBy("sh64")
      .agg(min("doc_id").as("survivor_id"), count(lit(1)).as("n_docs"))
      .orderBy("survivor_id")

  /** Full SimHash near-dup detection — the standard banded algorithm:
    * split each 64-bit sketch into 4 × 16-bit bands; any shared band makes
    * a candidate pair (a pair within Hamming distance 3 must agree on at
    * least one band — pigeonhole); verify candidates by exact Hamming
    * distance. At 100 TB the band join IS the shuffle key — candidate
    * generation never goes all-pairs. */
  def simhashNearDup(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashBandedPairs(simhashSketches(docs), maxHamming)

  /** THE 4-band/16-bit LSH banding over an `sh64` sketch column — one
    * definition shared by the batch banded join below and the streaming
    * state-store index ([[graft.streaming.StreamingOps.nearDupStream]]),
    * so a band-layout change cannot leave the two candidate generators
    * silently disagreeing. */
  private[graft] val simhashBandSql: String =
    "transform(sequence(0, 3), b -> named_struct('band', b, 'key', (sh64 >> (b * 16)) & 65535))"

  /** Banded-pair core over a prepared sketch table.
    *
    * r16: aggregate-then-pair (the [[pairInter]] shape applied to the
    * LSH bands): each (band, key) bucket's members collect into ONE
    * sorted list and the i<j candidate pairs + their exact Hamming
    * distances are emitted array-side — instead of the banded SELF-JOIN,
    * which evaluated the banding subtree twice and shuffled both sides.
    * One exchange on (band, key), one on the (a_id, b_id, hamming)
    * distinct — the same distinct the join shape needed (a pair can
    * share multiple bands). Pair sets are identical: doc_ids are unique
    * within a bucket (one row per doc per band), so i<j in sorted order
    * ≡ a_id < b_id. A degenerate hot bucket is quadratic in EITHER
    * shape — the banding (16-bit keys × 4 bands) is the fan-out
    * control. */
  def simhashBandedPairs(sketched: DataFrame, maxHamming: Int): DataFrame = {
    val banded = sketched.select(col("doc_id"), col("sh64"),
        explode(expr(simhashBandSql)).as("bk"))
      .select(col("doc_id"), col("sh64"), col("bk.band").as("band"), col("bk.key").as("key"))
    val lists = banded.groupBy("band", "key")
      .agg(collect_list(struct(col("doc_id"), col("sh64"))).as("ds0"))
      .filter(size(col("ds0")) >= 2)
      .select(sort_array(col("ds0")).as("ds"))
    val n = size(col("ds"))
    lists
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + lit(2), n - i - lit(1)), y =>
          struct(x.getField("doc_id").as("a_id"), y.getField("doc_id").as("b_id"),
            bit_count(x.getField("sh64").bitwiseXOR(y.getField("sh64"))).as("hamming")))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("p.hamming").as("hamming"))
      .distinct() // a pair can share multiple bands
      .filter(col("hamming") <= maxHamming)
  }

  /** ANN scale path: random-hyperplane LSH buckets, brute-force cosine
    * only within buckets, global approximate top-20. At 100 TB the bucket
    * join replaces the O(n²) candidate generation of llm_cosine_topk.
    * Fully oracle-graded since round 7: the bucket is exact int64 math
    * over md5-derived hyperplane weights and fixed-point components
    * ([[org.apache.spark.sql.graftnative.HyperplaneBucket]]), so the
    * DuckDB twin reconstructs identical buckets — candidate set and all. */
  /** Shared bucketed pairwise-cosine core: same-bucket pairs (a_id <
    * b_id), sim via the codegen DotProduct + per-vector precomputed norms
    * — bit-identical to the fused cosine kernel on equal-length vectors,
    * and the inner pair loop stays in whole-stage codegen (no UDF calls).
    * Input needs (bucket, vec_id, embedding) columns. */
  private def bucketedPairSims(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("nrm", graft.GraftFunctions.vectorNorm(col("embedding")))
    val a = e.select(col("bucket"), col("vec_id").as("a_id"), col("embedding").as("a_vec"), col("nrm").as("a_nrm"))
    val b = e.select(col("bucket").as("b_bucket"), col("vec_id").as("b_id"), col("embedding").as("b_vec"), col("nrm").as("b_nrm"))
    a.join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        VectorFunctions.cosineSimPrecomputed(col("a_vec"), col("b_vec"),
          col("a_nrm"), col("b_nrm")).as("sim"))
  }

  /** Band-OR amplified LSH top-k (round-10 recall fix): L=24 independent
    * 6-bit hyperplane tables ([[org.apache.spark.sql.graftnative.HyperplaneBands]]),
    * candidate pairs = same-bucket-in-ANY-band — the MinHash banding
    * pattern applied to the hyperplane family. The single 16-bit table's
    * measured recall of the exact top-20 was 0.05 (near-threshold pairs
    * at sim ≈ 0.5 almost never share one full 16-bit signature); the
    * banded form measures 0.85 at both sf0.01 and sf0.1 (`ann_pair_recall`).
    * Plan shape (the oracle's own): the band self-join carries ONLY
    * (band, bucket, vec_id) — 24 copies of an 8-byte id per vector, not
    * 24 copies of the vector — collapses multi-band collisions with a
    * DISTINCT on the bare id pairs, and only THEN joins the embeddings
    * back, so each surviving pair's cosine is computed exactly once
    * (~20 % of band collisions are multi-band duplicates at the
    * documented operating point). The (band, bucket) key IS the shuffle
    * key; never all-pairs. */
  def annLshTopk(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        posexplode(graft.GraftFunctions.hyperplaneBands(col("embedding")))
          .as(Seq("band", "bucket")))
    val pairs = e.as("a").join(e.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct() // a pair can collide in multiple bands
    val v = t(s, d, "embeddings")
      .withColumn("nrm", graft.GraftFunctions.vectorNorm(col("embedding")))
    pairs
      .join(v.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
        col("nrm").as("a_nrm")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"),
        col("nrm").as("b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
        VectorFunctions.cosineSimPrecomputed(col("a_vec"), col("b_vec"),
          col("a_nrm"), col("b_nrm")).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** ANN self-evaluation: recall of the banded hyperplane-LSH candidate
    * generation against the EXACT global top-20 cosine pairs (the graded
    * llm_cosine_topk truth) — a retrieval index is only as good as its
    * measured recall, and this key makes the engine grade its own.
    * recall = |truth pairs colliding in ≥1 of the 24 bands| / 20;
    * measured 0.85 at sf0.01 AND sf0.1 (was 0.05 on the single 16-bit
    * table). Both sides are already-graded deterministic frames; the one
    * float is a mirrored n/20 division, 6 dp. Scale: the truth is 20 rows
    * (broadcast), the band table one array row per vector — two broadcast
    * equi-joins and a zip_with over 24-element arrays, no pairwise work
    * beyond what the graded keys already bound. */
  def annPairRecall(s: SparkSession, d: String): DataFrame = {
    val truth = annTruth(s, d)
    val b = t(s, d, "embeddings").select(col("vec_id"),
      graft.GraftFunctions.hyperplaneBands(col("embedding")).as("bands"))
    // hit set via INNER joins to the band frame, then a LEFT join back
    // from truth (the annIvfRecallMp / llm_minhash_recall shape): the
    // previous truth⋈bands inner join made n_truth the JOINED row count,
    // so a truth vec_id absent from the index frame silently shrank the
    // denominator while the DuckDB oracle counts the truth CTE directly
    // (round-12 advice). Here n_truth is always the truth-frame count
    // and an unindexed truth vector counts as a MISS, as it should.
    val hits = truth.select("a_id", "b_id")
      .join(b.select(col("vec_id").as("a_id"), col("bands").as("ba")), "a_id")
      .join(b.select(col("vec_id").as("b_id"), col("bands").as("bb")), "b_id")
      .filter(exists(zip_with(col("ba"), col("bb"), (x, y) => x === y), h => h))
      .select("a_id", "b_id")
      .withColumn("hit", lit(1L))
    truth.select("a_id", "b_id")
      .join(hits, Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .transform(recallReport)
  }

  /** Embedding-cosine near-dup pairs (threshold form of the similarity
    * join): all pairs with rounded cosine ≥ 0.45, computed by the
    * distributed block-nested-loop join (no driver collect; per-task
    * memory bounded by two vector blocks). At 100 TB the exact join is
    * replaced by the LSH/IVF bucketed candidates below with the same
    * threshold filter per bucket. */
  def llmDedupEmbedding(s: SparkSession, d: String): DataFrame =
    embeddingPairs(s, d).orderBy("a_id", "b_id")

  /** The exact top-20 cosine-pair truth (the llm_cosine_topk frame) —
    * memoized because all three ANN recall keys grade against the SAME
    * 20 rows; the O(n²) truth pass is priced once per (session, corpus),
    * not once per index. */
  private def annTruth(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "ann_truth")(
      VectorFunctions.cosineTopKDistributed(s, t(s, d, "embeddings"), 20)
        .orderBy(col("sim").desc, col("a_id"), col("b_id")).limit(20).localCheckpoint(true))

  /** The shared recall report shape (n_truth, n_hit, recall 6 dp) — ONE
    * definition of the graded recall arithmetic across the three recall
    * keys, like the oracle side's shared ivfRecallOracleP. `agged` must
    * carry a MEASURED n_truth (count over the truth frame), never a
    * hardcoded constant: the fixture truth is 20 pairs, but a corpus
    * whose exact-truth pass returns fewer would silently mis-normalize
    * recall against a phantom denominator (round-12 sweep finding).
    * An EMPTY truth frame raise_errors instead of emitting NaN/null —
    * the measured denominator reopened the degenerate case the old
    * hardcoded 20 could never hit, and a silent NaN recall would defeat
    * the self-grading the keys exist for (fail-loudly discipline). */
  private def recallReport(agged: DataFrame): DataFrame =
    agged.select(col("n_truth"), col("n_hit"),
      when(col("n_truth") > 0,
        floor(col("n_hit").cast("double") / col("n_truth").cast("double") *
          1000000.0 + 0.5) / 1000000.0)
        .otherwise(raise_error(lit(
          "recall denominator is zero: empty exact-truth frame")))
        .as("recall"))

  /** The memoized IVF assignment (vec_id, embedding, bucket) — one
    * index build per (session, corpus), shared by the top-k and the
    * recall self-evaluation. The IVF ANN scale path (full DuckDB oracle):
    * coarse centroids from the portable integer-exact Lloyd's
    * ([[PortableQuantizer]], replayed by the oracle as unrolled CTEs),
    * trained on a BOUNDED sample (the FAISS posture); assignment is a
    * row-local literal-codebook argmin, so the build is ONE scan with no
    * training jobs, and pairwise similarity runs only within each list. */
  private def ivfAssigned(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "ivf") {
      val cb = PortableQuantizer.ivfCentroids(s, d)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          PortableQuantizer.ivfAssign(cb, col("embedding")).as("bucket"))
        .localCheckpoint(true)
    }

  /** The GRADED default IVF top-k — serves at the 3-probe operating
    * point (measured top-20-pair recall 0.90 at sf0.1,
    * `ann_ivf_recall_mp`) since round 11: a user calling the obvious key
    * gets the good index, not the 0.25-recall single-probe baseline.
    * The single-probe twin stays graded as [[annIvfTopkSp]] /
    * `ann_ivf_recall` — the honesty baseline that prices what the extra
    * probes buy. */
  def annIvfTopk(s: SparkSession, d: String): DataFrame =
    multiProbePairTopk(s, d, ivfAssignedMp(s, d))

  /** Single-probe IVF top-k — the honesty BASELINE operating point
    * (recall 0.25 at sf0.1, `ann_ivf_recall`), kept graded so the
    * recall-vs-probes trade stays a queryable fact; the serving default
    * is the 3-probe [[annIvfTopk]]. */
  def annIvfTopkSp(s: SparkSession, d: String): DataFrame =
    bucketedPairSims(ivfAssigned(s, d))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(20)

  /** IVF self-evaluation — the [[annPairRecall]] discipline applied to
    * the IVF index: recall of the exact top-20 cosine pairs among
    * co-listed (same inverted list) pairs. Together the recall keys make
    * EVERY graded ANN index grade itself, so the LSH-vs-IVF quality
    * comparison is a queryable fact, not a prose claim (measured at
    * sf0.1: banded LSH 0.85, single-probe IVF 0.25, 3-probe IVF 0.90).
    * Scale: the truth is 20 broadcast rows against the memoized
    * assignment — two broadcast equi-joins. */
  def annIvfRecall(s: SparkSession, d: String): DataFrame = {
    val truth = annTruth(s, d)
    val b = ivfAssigned(s, d).select(col("vec_id"), col("bucket"))
    // left-join-from-truth so n_truth is the truth-frame count even if a
    // truth vec_id is missing from the assignment (see annPairRecall)
    val hits = truth.select("a_id", "b_id")
      .join(b.select(col("vec_id").as("a_id"), col("bucket").as("ba")), "a_id")
      .join(b.select(col("vec_id").as("b_id"), col("bucket").as("bb")), "b_id")
      .filter(col("ba") === col("bb"))
      .select("a_id", "b_id")
      .withColumn("hit", lit(1L))
    truth.select("a_id", "b_id")
      .join(hits, Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .transform(recallReport)
  }

  /** The memoized 3-probe IVF assignment (vec_id, embedding, probe,
    * bucket) — each vector in its 3 nearest inverted lists, the FAISS
    * nprobe knob applied to pair-finding. */
  private[graft] def ivfAssignedMp(s: SparkSession, d: String): DataFrame =
    Derived(s, d, "ivf_mp") {
      val cb = PortableQuantizer.ivfCentroids(s, d)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          posexplode(PortableQuantizer.ivfAssignMulti(cb, col("embedding"), 3))
            .as(Seq("probe", "bucket")))
        .localCheckpoint(true)
    }

  /** Multi-probe IVF pair top-k kernel: candidates = DISTINCT pairs
    * sharing ANY of their assigned lists, then the
    * id-only-join/distinct/join-back tail the banded-LSH key uses. At
    * 3 probes this lifts the single-probe measured top-20-pair recall
    * 0.25 → 0.90 at sf0.1 (`ann_ivf_recall_mp`) for a ≤ 9× candidate
    * fan-out bound (3 lists a side) — the classic recall-vs-probes
    * trade, here a graded fact. ONE body shared by the graded default
    * [[annIvfTopk]] and the persisted-index serve [[annIvfPersisted]];
    * `assigned` needs (vec_id, bucket) rows, one per probe. */
  private def multiProbePairTopk(s: SparkSession, d: String,
      assigned: DataFrame): DataFrame = {
    val e = assigned.select(col("vec_id"), col("bucket"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .distinct()
    val v = t(s, d, "embeddings")
      .withColumn("nrm", graft.GraftFunctions.vectorNorm(col("embedding")))
    pairs
      .join(v.select(col("vec_id").as("a_id"), col("embedding").as("a_vec"),
        col("nrm").as("a_nrm")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_vec"),
        col("nrm").as("b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
        VectorFunctions.cosineSimPrecomputed(col("a_vec"), col("b_vec"),
          col("a_nrm"), col("b_nrm")).as("sim"))
      .orderBy(col("sim").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Index-SERVED per-query retrieval — the serving shape of the ANN
    * story (what a RAG lookup actually runs at 100 TB, where the
    * llm_knn_queries brute scan is impossible): each query (the
    * doc_id % 97 == 0 set shared with BM25/RRF) probes its 3 nearest
    * inverted lists, candidates are the lists' members, rank by exact
    * cosine within candidates, top-3 per query. Every join is a
    * bucket/id equi-join; candidate fan-out per query is the 3 probed
    * lists' sizes, never the corpus. The graded twin of the posture
    * sentence "at scale the dense candidates come from the index". */
  def annIvfQueryTopk(s: SparkSession, d: String): DataFrame =
    servedTopK(s, d, col("vec_id") % 97 === 0, 3).orderBy("q_id", "rank")

  /** Parameterized index-served retrieval kernel over the memoized
    * 3-probe assignment: any query predicate on vec_id, any k — the
    * graded key fixes the fixture predicate (the bm25TopK pattern), a
    * library user passes their own. Unordered; callers pin the sort. */
  def servedTopK(s: SparkSession, d: String,
      isQuery: Column, k: Int): DataFrame =
    servedTopKFrames(ivfAssignedMp(s, d), t(s, d, "embeddings"), isQuery, k)

  /** The frame-parameterized form of [[servedTopK]] — ONE body shared by
    * the graded fixture key and the 50 k-vector StressCheck row, so the
    * scale evidence can never drift from the kernel it claims to
    * exercise. `assigned` needs (vec_id, bucket) rows (one per probe),
    * `vectors` needs (vec_id, embedding). */
  def servedTopKFrames(assigned: DataFrame, vectors: DataFrame,
      isQuery: Column, k: Int): DataFrame =
    exactRerank(indexCandidates(assigned, isQuery), vectors, k)

  /** Stage one of index serving: (q_id, neighbor_id) candidates from the
    * probed inverted lists — a bucket equi-join, fan-out bounded by the
    * probed lists' sizes. Exposed so variants can transform the
    * candidate set (e.g. the metadata filter in [[annIvfFilteredTopk]])
    * before the shared exact-re-rank stage. */
  def indexCandidates(assigned: DataFrame, isQuery: Column): DataFrame = {
    val a = assigned.select(col("vec_id"), col("bucket"))
    val qa = a.filter(isQuery)
      .select(col("vec_id").as("q_id"), col("bucket"))
    qa.join(a.select(col("vec_id").as("neighbor_id"), col("bucket")), Seq("bucket"))
      .filter(col("q_id") =!= col("neighbor_id"))
      .select("q_id", "neighbor_id").distinct()
  }

  /** FILTERED index-served retrieval — the other half of real ANN
    * serving ("nearest neighbors WHERE lang = 'en'"): the index
    * candidates semi-join the metadata-allowed id set BEFORE the exact
    * re-rank, so the filter prunes candidates instead of post-truncating
    * ranked results (post-filtering top-k can return < k or starve a
    * query whose nearest neighbors all fail the predicate; pre-filtering
    * re-ranks only eligible candidates). Embeddings align doc_id ↔
    * vec_id (the llm_multimodal_join contract), so the allowed set is a
    * projection of the documents scan — at 100 TB an id-keyed bucketed
    * semi-join against the candidate list, never a corpus product. */
  def annIvfFilteredTopk(s: SparkSession, d: String): DataFrame = {
    val allowed = t(s, d, "documents")
      .filter(col("lang") === "en")
      .select(col("doc_id").as("neighbor_id"))
    exactRerank(
        indexCandidates(ivfAssignedMp(s, d), col("vec_id") % 97 === 0)
          .join(allowed, Seq("neighbor_id"), "left_semi"),
        t(s, d, "embeddings"), 3)
      .select("q_id", "rank", "neighbor_id", "sim")
      .orderBy("q_id", "rank")
  }

  /** The exact-cosine re-rank stage — the second half of EVERY two-stage
    * serving pipeline here: given bounded (q_id, neighbor_id) candidate
    * pairs from ANY cheap first stage (probed inverted lists for
    * [[servedTopKFrames]], the fused RRF ranking for
    * [[graft.operators.LlmCorpusOps.llmRerankTopk]]), score each pair
    * with the exact cosine and keep the top-k per query. Candidates
    * without a vector drop out (inner joins) — a lexical-only candidate
    * has nothing to re-rank with. Scale: two id equi-joins against the
    * vector table; the quadratic work is bounded by the candidate list
    * the first stage already bounded. Unordered; callers pin the sort. */
  def exactRerank(cand: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = vectors
      .withColumn("nrm", graft.GraftFunctions.vectorNorm(col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("neighbor_id"))
    cand.select("q_id", "neighbor_id")
      .join(v.select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        col("nrm").as("q_nrm")), "q_id")
      .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_vec"),
        col("nrm").as("n_nrm")), "neighbor_id")
      .select(col("q_id"), col("neighbor_id"),
        VectorFunctions.cosineSimPrecomputed(col("q_vec"), col("n_vec"),
          col("q_nrm"), col("n_nrm")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "neighbor_id", "sim")
  }

  /** [[annIvfRecall]] for the 3-probe assignment: hit = assignment SETS
    * intersect, computed on the SAME memoized exploded frame the
    * multiprobe/serving keys share (two bucket equi-joins + distinct —
    * the oracle's own shape; the index build stays priced once per
    * (session, corpus)). */
  def annIvfRecallMp(s: SparkSession, d: String): DataFrame = {
    val truth = annTruth(s, d)
    val e = ivfAssignedMp(s, d).select(col("vec_id"), col("bucket"))
    // hit set first (distinct absorbs multi-probe bucket multiplicity),
    // then a LEFT join from truth so n_truth is MEASURED in the same
    // aggregate (the llm_minhash_recall shape)
    val hits = truth.select("a_id", "b_id")
      .join(e.select(col("vec_id").as("a_id"), col("bucket")), "a_id")
      .join(e.select(col("vec_id").as("b_id"), col("bucket").as("bucket_b")), "b_id")
      .filter(col("bucket") === col("bucket_b"))
      .select("a_id", "b_id").distinct()
      .withColumn("hit", lit(1L))
    truth.select("a_id", "b_id")
      .join(hits, Seq("a_id", "b_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .transform(recallReport)
  }

  /** [[annIvfTopk]] served from the PERSISTED index: the IVF codebook is
    * read back through the `graft-vt` versioned table
    * (PortableQuantizer.indexRoot — trained once, committed like data,
    * time-travelable) instead of re-trained per session. Same answer
    * (the 3-probe operating point, like the graded default), same
    * oracle; the difference is the operational posture a 100 TB
    * pipeline needs — a restarted serving job pays one bounded index
    * lookup (K manifest-pruned rows), zero Lloyd's jobs, before the same
    * map-only multi-probe assign + bucketed pair join. Cross-session
    * no-retrain is asserted in VtDataSourceSpec via the trainRuns
    * counter. */
  def annIvfPersisted(s: SparkSession, d: String): DataFrame = {
    val assigned = Derived(s, d, "ivf_persisted") {
      val cb = PortableQuantizer.ivfFromIndex(s, d)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          posexplode(PortableQuantizer.ivfAssignMulti(cb, col("embedding"), 3))
            .as(Seq("probe", "bucket")))
        .localCheckpoint(true)
    }
    multiProbePairTopk(s, d, assigned)
  }

  /** Symmetric int8 embedding quantization — the standard 4× memory/IO
    * reduction for vector search at 100 TB (a 64-dim float corpus shrinks
    * from 256 B to 64 B + one scale per vector; bucketed-ANN candidate
    * scans read a quarter of the bytes and rerank the survivors at full
    * precision). Row-local, no shuffle, arbitrarily wide. Rounding is
    * floor(x/scale + 0.5) rather than round(): floor is exactly specified
    * on binary doubles in both engines, so the quantized codes are
    * cross-engine deterministic (round()'s half-tie handling is not a
    * contract DuckDB and the JVM share). max_err (≤ scale/2 by
    * construction) is the per-vector quantization-error certificate; max
    * — not mean — so no summation-order sensitivity reaches the oracle. */
  def embQuantizeInt8(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .withColumn("dbl", expr("transform(embedding, x -> cast(x as double))"))
      .withColumn("sc", expr("array_max(transform(dbl, x -> abs(x))) / 127.0d"))
      .select(col("vec_id"),
        round(col("sc"), 6).as("scale"),
        expr("cast(floor(dbl[0] / sc + 0.5d) as int)").as("q0"),
        expr("cast(array_max(transform(dbl, x -> abs(cast(floor(x / sc + 0.5d) as int)))) as int)").as("q_max"),
        expr("round(array_max(transform(dbl, x -> abs(x - floor(x / sc + 0.5d) * sc))), 6)").as("max_err"))
      .orderBy("vec_id")

  /** Intra-document repetition (a Gopher-style quality signal): the
    * fraction of duplicated word 5-grams within each document. Templated /
    * boilerplate-heavy pages score high and get filtered before training.
    * Fully row-local (no shuffle at all) — at 100 TB this is a map-only
    * pass over the corpus. */
  def llmRepetition(s: SparkSession, d: String): DataFrame =
    // r15: heavy projection ABOVE the output sort. A global orderBy is a
    // range exchange whose boundary SAMPLING pass executes the child once
    // before the real shuffle executes it again — with the shingle +
    // array_distinct tower below the sort, every document paid that tower
    // twice per run. Sorting the raw (doc_id, text) rows first and
    // projecting after computes the tower exactly once; output rows and
    // order are identical (the projection is row-wise over the sorted
    // stream).
    t(s, d, "documents")
      .select("doc_id", "text")
      .orderBy("doc_id")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("sh", shingles(5))
      .select(col("doc_id"),
        size(col("sh")).as("n_grams"),
        size(array_distinct(col("sh"))).as("n_distinct"),
        round(when(size(col("sh")) > 0,
          lit(1.0) - size(array_distinct(col("sh"))) / size(col("sh")).cast("double"))
          .otherwise(lit(0.0)), 6).as("dup_frac"))

  /** Word-entropy quality signal: Shannon entropy (base 2) of each
    * document's word distribution — low entropy flags repetitive /
    * boilerplate text, complementing [[llmRepetition]]'s n-gram view.
    * Computed as H = log2(n) − Σ c·log2(c) / n over per-word counts (the
    * same explicit formula in the DuckDB oracle, NOT its entropy()
    * aggregate, so both engines share one floating-point recipe; 4 dp
    * rounding absorbs summation-order noise). Two hash aggregations —
    * both shuffle on doc_id-dominated keys, linear at corpus scale. */
  def llmEntropy(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"), sum(col("c") * log2(col("c"))).as("clog"))
      .select(col("doc_id"),
        round(log2(col("n")) - col("clog") / col("n"), 4).as("entropy"))
      .orderBy("doc_id")

  /** Incremental NEAR-dup — the production daily-crawl shape: new-batch
    * documents (doc_id % 10 >= 8) checked for n-gram-Jaccard similarity
    * against the EXISTING corpus (doc_id % 10 < 8) through the memoized
    * inverted shingle index. Candidate pairs come only from shared
    * shingles (never existing × new all-pairs), and only the new slice
    * of the index is fresh work — the existing side's postings are the
    * already-materialized index a deployment keeps between snapshots. */
  def llmDedupIncrementalNear(s: SparkSession, d: String): DataFrame =
    incrementalNearPairs(fixtureShingleIndex(s, d), col("doc_id") % 10 >= 8, 0.2,
      maxPosting = StopShingleCap)
      .orderBy("ex_id", "new_id")

  /** Core incremental near-dup over any posting list: `isNew` splits the
    * index into the existing corpus and the fresh batch; candidates come
    * only from shared shingles ACROSS the split (same-side pairs are the
    * full-corpus op's job, not the incremental pass's). */
  def incrementalNearPairs(sh: DataFrame, isNew: Column, threshold: Double,
                           maxPosting: Int = Int.MaxValue): DataFrame =
    // r16: the cross-split aggregate-then-pair kernel — the cap is still
    // computed CORPUS-WIDE (the posting list collects both splits before
    // the size filter; the boilerplate shingle the cap exists for is hot
    // on both sides), pairs are existing × new array-side.
    crossPairInter(sh, isNew, maxPosting)
      .withColumn("jac", round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jac") >= threshold)
      .select("ex_id", "new_id", "jac")

  /** Incremental dedup — the daily-snapshot shape at 100 TB: dedup a NEW
    * batch (doc_id % 10 >= 8 stands in for today's crawl) first within
    * itself (keep the smallest doc_id per content hash), then anti-join
    * against the EXISTING corpus's hash set. The existing side never
    * rewrites; only new rows shuffle. */
  def llmDedupIncremental(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents").withColumn("h", md5(col("text")))
    val existing = docs.filter(col("doc_id") % 10 < 8).select(col("h").as("eh")).distinct()
    val w = Window.partitionBy("h").orderBy("doc_id")
    docs.filter(col("doc_id") % 10 >= 8)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(existing, col("h") === col("eh"), "left_anti")
      .select("doc_id", "h")
      .orderBy("doc_id")
  }

  /** Code-vs-prose heuristic — the standard pretraining-corpus router
    * (code to the code pipeline, prose to the text one) built from
    * character-class densities: syntax characters ({}();=) weighted 2×
    * plus digits, per million characters. Counts via mirrored
    * regexp_replace-and-length (no UDF, fully codegen'd); the score is
    * an exact integer ratio (floor), so the flag threshold (2% ≡
    * 20000/1e6) cannot sit on a float boundary. Map-only: projections
    * over the scan, no shuffle but the output ORDER BY — the shape
    * every per-document gauge in this family ships. */
  def llmCodeDetect(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^{}();=]", "")).cast("long").as("n_syntax"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"))
      .withColumn("code_score6",
        expr("((2 * n_syntax + n_digit) * 1000000) DIV greatest(n_chars, 1)"))
      .withColumn("is_code", col("code_score6") >= 20000L)
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(
    "llm_code_detect" -> (llmCodeDetect _),
    "llm_repetition" -> (llmRepetition _),
    "llm_entropy" -> (llmEntropy _),
    "llm_dedup_incremental" -> (llmDedupIncremental _),
    "llm_dedup_incremental_near" -> (llmDedupIncrementalNear _),
    "emb_quantize_int8" -> (embQuantizeInt8 _),
    "llm_dedup_embedding" -> (llmDedupEmbedding _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_ivf_persisted" -> (annIvfPersisted _),
    "llm_lang_id" -> (llmLangId _),
    "llm_lang_confusion" -> (llmLangConfusion _),
    "llm_token_count" -> (llmTokenCount _),
    "llm_domain_mix" -> (llmDomainMix _),
    "llm_dedup_url" -> (llmDedupUrl _),
    "llm_bpe_merges" -> (llmBpeMerges _),
    "llm_bpe_train" -> (llmBpeTrain _),
    "llm_bpe_encode" -> (llmBpeEncode _),
    "llm_bpe_persisted" -> (llmBpePersisted _),
    "llm_quality_score" -> (llmQualityScore _),
    "llm_fingerprint" -> (llmFingerprint _),
    "llm_span_dup" -> (llmSpanDup _),
    "llm_dedup_substring" -> (llmDedupSubstring _),
    "llm_dedup_substring_strip" -> (llmDedupSubstringStrip _),
    "llm_dedup_substring_incremental" -> (llmDedupSubstringIncremental _),
    "llm_dedup_substring_strip_incremental" -> (llmDedupSubstringStripIncremental _),
    "llm_dedup_substring_persisted" -> (llmDedupSubstringPersisted _),
    "llm_ngram_jaccard" -> (llmNgramJaccard _),
    "llm_containment" -> (llmContainment _),
    "llm_dedup_clusters" -> (llmDedupClusters _),
    "llm_dedup_softweight" -> (llmDedupSoftweight _),
    "llm_dedup_semantic" -> (llmDedupSemantic _),
    "llm_dedup_survivors" -> (llmDedupSurvivors _),
    "llm_dedup_keep_longest" -> (llmDedupKeepLongest _),
    "llm_chunking" -> (llmChunking _),
    "udtf_chunk_windows" -> (udtfChunkWindows _),
    "llm_redact" -> (llmRedact _),
    "llm_sample_split" -> (llmSampleSplit _),
    "llm_contamination" -> (llmContamination _),
    "llm_contamination_exact" -> (llmContaminationExact _),
    "llm_dedup_embedding_incremental" -> (llmDedupEmbeddingIncremental _),
    "llm_unigram_logprob" -> (llmUnigramLogprob _),
    "llm_bigram_logprob" -> (llmBigramLogprob _),
    "llm_dedup_simhash" -> (llmDedupSimhash _),
    // rides the memoized sketch table its bucket sibling builds — the
    // sketch pass is the family's linear term and is priced once per corpus
    "llm_dedup_simhash_pairs" -> ((s: SparkSession, d: String) =>
      simhashBandedPairs(fixtureSimhash(s, d), maxHamming = 8).orderBy("a_id", "b_id")),
    "ann_lsh_topk" -> (annLshTopk _),
    "ann_pair_recall" -> (annPairRecall _),
    "ann_ivf_recall" -> (annIvfRecall _),
    "ann_ivf_topk_sp" -> (annIvfTopkSp _),
    "ann_ivf_recall_mp" -> (annIvfRecallMp _),
    "ann_ivf_query_topk" -> (annIvfQueryTopk _),
    "ann_ivf_filtered_topk" -> (annIvfFilteredTopk _),
  )

  private val markerSql: Map[String, String] = langs.toMap.map { case (l, ms) =>
    l -> ms.map(m => s"'$m'").mkString(", ")
  }

  /** Pinned-constant DuckDB oracle for the banded-SimHash pairs — the same
    * portable-hash technique as [[MinHashOps.oracles]]: both engines hash
    * tokens with md5 and run identical integer arithmetic, so the sketch is
    * engine-independent. The 64-bit sketch is represented as a 64-char
    * '1'/'0' string (MSB first): bit b of a token's hash is nibble
    * `substr(md5_hex, 16 - b/4, 1) >> (b%4) & 1`, the 64 sign-sum
    * accumulators are 64 aggregate expressions in one grouped pass, band b
    * (sketch bits 16b..16b+15) is `substr(s, 49-16b, 16)`, and Hamming
    * distance is the count of differing string positions. */
  private val simhashPairsOracle: String = {
    val accs = (0 until 64).map { b =>
      s"sum(CASE WHEN (CAST('0x' || substr(hx, ${16 - b / 4}, 1) AS INTEGER) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS a$b"
    }.mkString(", ")
    val sketch = "concat(" +
      (0 until 64).map(i => s"CASE WHEN a${63 - i} > 0 THEN '1' ELSE '0' END").mkString(", ") + ")"
    val ham = "CAST(list_sum(list_transform(range(1,65), i -> " +
      "CASE WHEN substr(a_s, CAST(i AS INTEGER), 1) = substr(b_s, CAST(i AS INTEGER), 1) THEN 0 ELSE 1 END)) AS INTEGER)"
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\W+')) AS tok FROM documents), " +
      "th AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM toks), " +
      s"acc AS (SELECT doc_id, $accs FROM th GROUP BY doc_id), " +
      s"sk AS (SELECT doc_id, $sketch AS s FROM acc), " +
      "bands AS (SELECT doc_id, s, b, substr(s, 49 - 16*CAST(b AS INTEGER), 16) AS key " +
      "FROM sk CROSS JOIN (SELECT unnest(range(0,4)) AS b)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.s AS a_s, b.s AS b_s " +
      "FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id) " +
      s"SELECT a_id, b_id, hamming FROM (SELECT a_id, b_id, $ham AS hamming FROM cand) " +
      "WHERE hamming <= 8 ORDER BY a_id, b_id"
  }

  /** Oracle for the SimHash BUCKET dedup: same portable per-bit sketch as
    * [[simhashPairsOracle]], but the output carries the sketch as Spark's
    * signed 64-bit value — reconstructed in DuckDB via HUGEINT (sum of
    * set-bit powers, minus 2^64 when the sign bit lands). */
  private val simhashBucketsOracle: String = {
    val accs = (0 until 64).map { b =>
      s"sum(CASE WHEN (CAST('0x' || substr(hx, ${16 - b / 4}, 1) AS INTEGER) >> ${b % 4}) & 1 = 1 THEN 1 ELSE -1 END) AS a$b"
    }.mkString(", ")
    // powers as string literals: 1L << 63 would overflow signed Long
    val unsignedTotal = (0 until 64)
      .map(b => s"(CASE WHEN a$b > 0 THEN CAST('${BigInt(1) << b}' AS HUGEINT) ELSE 0 END)")
      .mkString(" + ")
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\W+')) AS tok FROM documents), " +
      "th AS (SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM toks), " +
      s"acc AS (SELECT doc_id, $accs FROM th GROUP BY doc_id), " +
      s"u AS (SELECT doc_id, $unsignedTotal AS uv FROM acc), " +
      "sk AS (SELECT doc_id, CAST(CASE WHEN uv >= CAST('9223372036854775808' AS HUGEINT) " +
      "THEN uv - CAST('18446744073709551616' AS HUGEINT) ELSE uv END AS BIGINT) AS sh64 FROM u) " +
      "SELECT sh64, min(doc_id) AS survivor_id, count(*) AS n_docs FROM sk " +
      "GROUP BY sh64 ORDER BY survivor_id"
  }

  /** Oracle for the banded hyperplane-LSH ANN path: reconstruct every
    * band bucket with the IDENTICAL integer math as the native
    * [[org.apache.spark.sql.graftnative.HyperplaneBands]] expression —
    * weight w(j,i) = (md5_60bit('j:i') % 2001) − 1000, component
    * fixed-point floor(v·10⁶ + 0.5) as BIGINT, band t's bit k set when
    * the int64 dot of hyperplane j = t·6 + k is ≥ 0 — then
    * same-band-same-bucket DISTINCT pairs, cosine, top-20. Integer
    * addition is associative, so SUM needs no ordering discipline,
    * unlike a float hyperplane. */
  /** The banded-LSH bucket assignment CTE chain (per-dim fixed-point
    * components → md5 hyperplane weights → sign bits → 24 6-bit band
    * buckets) — shared by the ann_lsh_topk and ann_pair_recall
    * oracles. Constants 144 = NumBands·BandBits and 6 = BandBits mirror
    * [[org.apache.spark.sql.graftnative.HyperplaneBands]]. */
  private val AnnBandCte: String =
    "WITH q AS (SELECT vec_id, i - 1 AS i, " +
      "CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS qv " +
      "FROM (SELECT vec_id, embedding, unnest(range(1, len(embedding) + 1)) AS i FROM embeddings)), " +
      // weights only for dims the data actually has (the Spark side's
      // [144][MaxDim=1024] table is a per-JVM one-off; recomputing 1024
      // md5s per hyperplane per grading run when the fixtures are
      // 64-dim would be 15/16 discarded work)
      "w AS (SELECT j, i, " +
      "(CAST(('0x' || substring(md5(j || ':' || i), 1, 15)) AS BIGINT) % 2001) - 1000 AS wt " +
      "FROM range(144) t1(j) CROSS JOIN (SELECT DISTINCT i FROM q) t2(i)), " +
      "dots AS (SELECT q.vec_id, w.j, sum(q.qv * w.wt) AS dot " +
      "FROM q JOIN w ON q.i = w.i GROUP BY 1, 2), " +
      "b AS (SELECT vec_id, CAST(j // 6 AS INTEGER) AS band, " +
      "CAST(sum(CASE WHEN dot >= 0 THEN 1 << CAST(j % 6 AS INTEGER) ELSE 0 END) AS INTEGER) AS bucket " +
      "FROM dots GROUP BY 1, 2)"

  private val annLshOracle: String =
    AnnBandCte +
      ", e AS (SELECT b.band, b.bucket, emb.vec_id FROM embeddings emb JOIN b USING (vec_id)), " +
      "p AS (SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id " +
      "FROM e a JOIN e c ON a.band = c.band AND a.bucket = c.bucket AND a.vec_id < c.vec_id) " +
      "SELECT p.a_id, p.b_id, " +
      "round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(ec.embedding AS DOUBLE[])), 4) AS sim " +
      "FROM p JOIN embeddings ea ON ea.vec_id = p.a_id JOIN embeddings ec ON ec.vec_id = p.b_id " +
      "ORDER BY sim DESC, a_id, b_id LIMIT 20"

  /** The near-dup cluster closure CTE chain (shingle → banded-capped
    * posting join → jaccard-thresholded pairs → recursive transitive
    * closure `reach`) over an arbitrary (doc_id, text) source relation —
    * ONE definition shared by the llm_dedup_clusters /
    * llm_dedup_softweight oracles (over `documents`) and the
    * llm_curation_e2e funnel oracle (over its gated+deduped CTE),
    * mirroring the shared Spark-side jaccardPairs + CC kernel. Returns
    * the chain WITHOUT the leading WITH RECURSIVE so callers can embed
    * it in their own towers. */
  private[operators] def dedupClusterChain(src: String): String =
    s"w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src), " +
      "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), " +
      "sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), " +
      "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
      "shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), " +
      "p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT a_id, b_id FROM p0 JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
      "WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.8), " +
      "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
      "reach AS (SELECT src AS id, src AS comp FROM edges " +
      "UNION SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id)"

  private val DedupClusterCte: String =
    "WITH RECURSIVE " + dedupClusterChain("documents")

  /** The llm_lang_id scored/argmax core (no ORDER BY) — shared with the
    * llm_lang_confusion oracle. */
  /** Shared by the derived-path incremental profile and its
    * persisted-index twin (one answer, two serve paths). */
  private val substringIncrementalOracle: String =
    "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
      "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i FROM w), " +
      "r AS (SELECT doc_id, i, CAST('0x' || substr(md5(array_to_string(ws[i:i+15], ' ')), 1, 15) AS BIGINT) AS h FROM x), " +
      "ex AS (SELECT DISTINCT h FROM r WHERE doc_id % 10 < 8), " +
      "nw AS (SELECT doc_id, i, h, (h IN (SELECT h FROM ex)) AS known, " +
      "count(*) OVER (PARTITION BY h) AS n_occ, " +
      "row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk " +
      "FROM r WHERE doc_id % 10 >= 8), " +
      "agg AS (SELECT doc_id, count(*) AS nw, " +
      "count(*) FILTER (known) AS nk, " +
      "count(*) FILTER (NOT known AND n_occ >= 2 AND rk > 1) AS nr " +
      "FROM nw GROUP BY doc_id) " +
      "SELECT d.doc_id, coalesce(nw, CAST(0 AS BIGINT)) AS n_windows, " +
      "coalesce(nk, CAST(0 AS BIGINT)) AS n_known_windows, " +
      "coalesce(nr, CAST(0 AS BIGINT)) AS n_batch_removable_windows, " +
      "coalesce(round((nk + nr) / CAST(nw AS DOUBLE), 6), 0.0) AS cut_frac " +
      "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d " +
      "LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"

  private val langIdCoreSql: String = {
    val scoreCols = langs.map { case (l, _) =>
      s"CAST(len(list_filter(string_split(text, ' '), t -> t IN (${markerSql(l)}))) AS INTEGER) AS s_$l"
    }.mkString(", ")
    val caseExpr = langs.map { case (l, _) =>
      val conds = langs.map { case (o, _) => s"s_$l >= s_$o" }.mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"SELECT doc_id, s_en, s_fr, s_de, s_es, s_zh, CASE $caseExpr ELSE 'und' END AS pred_lang, lang " +
      s"FROM (SELECT doc_id, lang, $scoreCols FROM documents)"
  }

  val oracles: Map[String, String] = Map(
    // mirrored char-class counts (regexp_replace + length), exact
    // integer score per million chars, integer threshold compare
    "llm_code_detect" ->
      ("SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, " +
        "CAST(length(regexp_replace(text, '[^{}();=]', '', 'g')) AS BIGINT) AS n_syntax, " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit, " +
        "((2 * CAST(length(regexp_replace(text, '[^{}();=]', '', 'g')) AS BIGINT) + " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)) * 1000000) // " +
        "greatest(CAST(length(text) AS BIGINT), 1) AS code_score6, " +
        "(((2 * CAST(length(regexp_replace(text, '[^{}();=]', '', 'g')) AS BIGINT) + " +
        "CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)) * 1000000) // " +
        "greatest(CAST(length(text) AS BIGINT), 1)) >= 20000 AS is_code " +
        "FROM documents ORDER BY doc_id"),
    "llm_dedup_simhash_pairs" -> simhashPairsOracle,
    "llm_dedup_simhash" -> simhashBucketsOracle,
    "ann_lsh_topk" -> annLshOracle,
    // the shared band CTE + the llm_cosine_topk truth pairs; a truth
    // pair is a hit when it collides in ANY band (DISTINCT collapses
    // multi-band collisions); recall is the one mirrored float (n/20, 6 dp)
    "ann_pair_recall" ->
      (AnnBandCte +
        ", truth AS (SELECT a.vec_id AS a_id, c.vec_id AS b_id " +
        "FROM embeddings a JOIN embeddings c ON a.vec_id < c.vec_id " +
        "ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 4) DESC, a_id, b_id LIMIT 20), " +
        "hit AS (SELECT DISTINCT t.a_id, t.b_id FROM truth t " +
        "JOIN b ba ON ba.vec_id = t.a_id JOIN b bb ON bb.vec_id = t.b_id AND bb.band = ba.band " +
        "WHERE ba.bucket = bb.bucket) " +
        // n_truth MEASURED from the truth CTE, mirroring the Spark side
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth, " +
        "CAST(count(*) AS BIGINT) AS n_hit, " +
        "floor(CAST(count(*) AS DOUBLE) / (SELECT CAST(count(*) AS DOUBLE) FROM truth) " +
        "* 1000000 + 0.5) / 1000000 AS recall FROM hit"),
    "ann_ivf_topk" -> PortableQuantizer.ivfMultiprobeOracle,
    "ann_ivf_topk_sp" -> PortableQuantizer.ivfOracle,
    "ann_ivf_recall" -> PortableQuantizer.ivfRecallOracle,
    "ann_ivf_recall_mp" -> PortableQuantizer.ivfRecallMpOracle,
    "ann_ivf_query_topk" -> PortableQuantizer.ivfQueryTopkOracle,
    "ann_ivf_filtered_topk" -> PortableQuantizer.ivfFilteredTopkOracle,
    // persisted-index serve: same centroids (write→read roundtrip of
    // exact BIGINTs), same assignment, same pairs — the oracle is
    // deliberately IDENTICAL; what the key grades is that the vt
    // write/read path changes nothing
    "ann_ivf_persisted" -> PortableQuantizer.ivfMultiprobeOracle,
    "emb_quantize_int8" ->
      ("WITH qd AS (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dbl, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc " +
        "FROM embeddings) " +
        "SELECT vec_id, round(sc, 6) AS scale, " +
        "CAST(floor(dbl[1] / sc + 0.5) AS INT) AS q0, " +
        "CAST(list_max(list_transform(dbl, x -> abs(CAST(floor(x / sc + 0.5) AS INT)))) AS INT) AS q_max, " +
        "round(list_max(list_transform(dbl, x -> abs(x - floor(x / sc + 0.5) * sc))), 6) AS max_err " +
        "FROM qd ORDER BY vec_id"),
    "llm_dedup_embedding" ->
      "SELECT a.vec_id AS a_id, b.vec_id AS b_id, round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.45 ORDER BY a_id, b_id",
    "llm_lang_id" -> (langIdCoreSql + " ORDER BY doc_id"),
    // the same scored/argmax core, folded to the (actual, predicted)
    // confusion grid with per-actual-language shares (mirrored 6 dp).
    // NULL discipline (r10, matching the dq_* keys): the totals join is
    // NULL-safe (IS NOT DISTINCT FROM — Spark's window keeps a NULL lang
    // group, an inner equi-join would drop it) and the sort pins NULLS
    // FIRST (Spark's ASC default; DuckDB's is NULLS LAST), so a fixture
    // with unlabeled documents stays hash-green
    "llm_lang_confusion" ->
      (s"WITH p AS ($langIdCoreSql), " +
        "cell AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1, 2), " +
        "tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang FROM p GROUP BY 1) " +
        "SELECT cell.lang, cell.pred_lang, cell.n, " +
        "floor(CAST(cell.n AS DOUBLE) / CAST(tot.n_lang AS DOUBLE) * 1000000 + 0.5) / 1000000 AS share " +
        "FROM cell JOIN tot ON cell.lang IS NOT DISTINCT FROM tot.lang " +
        "ORDER BY cell.lang NULLS FIRST, cell.pred_lang NULLS FIRST"),
    "llm_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_cnt, CAST(list_sum(list_transform(string_split(text, ' '), x -> ceil(length(x) / 4.0))) AS BIGINT) AS bpe_cnt FROM documents ORDER BY doc_id",
    "llm_bpe_merges" ->
      ("SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM (" +
        "SELECT unnest(flatten(list_transform(string_split(text, ' '), " +
        "w -> list_transform(range(1, length(w)), i -> substr(w, i, 2))))) AS pair " +
        "FROM documents) GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"),
    "llm_bpe_train" -> bpeTrainOracle,
    "llm_bpe_encode" -> bpeEncodeOracle,
    // same oracle as the trained-path encode: the persisted serve must
    // reproduce it exactly (zero-retrain asserted in VtDataSourceSpec)
    "llm_bpe_persisted" -> bpeEncodeOracle,
    "llm_dedup_url" ->
      ("WITH u AS (SELECT doc_id, n_chars, 'https://' || " +
        "(CASE WHEN doc_id % 3 = 0 THEN 'WWW.Mirror.' ELSE 'www.mirror.' END) || " +
        "'example.com/articles/' || (doc_id % 197) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) || " +
        "(CASE WHEN doc_id % 2 = 0 THEN '?utm_source=' || source || '&utm_campaign=crawl' ELSE '' END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END) AS url FROM documents), " +
        "c AS (SELECT doc_id, n_chars, " +
        "regexp_replace(regexp_replace(lower(regexp_replace(regexp_replace(url, '#.*$', ''), '\\?.*$', '')), '^https://www\\.', 'https://'), '/$', '') AS canonical_url FROM u), " +
        "r AS (SELECT canonical_url, doc_id, " +
        "row_number() OVER (PARTITION BY canonical_url ORDER BY n_chars DESC, doc_id) AS rn, " +
        "count(*) OVER (PARTITION BY canonical_url) AS n_dups FROM c) " +
        "SELECT canonical_url, doc_id, CAST(n_dups AS BIGINT) AS n_dups " +
        "FROM r WHERE rn = 1 ORDER BY canonical_url"),
    "llm_domain_mix" ->
      ("WITH tot AS (SELECT source, sum(n_chars) AS src_chars FROM documents GROUP BY 1), " +
        "rates AS (SELECT source, least(1.0, " +
        "(SELECT sum(src_chars) * 0.9 / count(*) FROM tot) / src_chars) AS rate FROM tot) " +
        "SELECT doc_id, d.source, round(rate, 6) AS rate " +
        "FROM documents d JOIN rates USING (source) " +
        "WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 < rate " +
        "ORDER BY doc_id"),
    // same 5-gram construction as llm_fingerprint; docs under 5 words have
    // zero shingles and dup_frac 0.0 on both engines.
    "llm_repetition" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(ws) >= 5 THEN list_transform(generate_series(1, len(ws) - 4), i -> array_to_string(ws[i:i+4], ' ')) ELSE [] END AS sh FROM w) " +
        "SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_grams, CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct, " +
        "round(CASE WHEN len(sh) > 0 THEN 1.0 - len(list_distinct(sh)) / CAST(len(sh) AS DOUBLE) ELSE 0.0 END, 6) AS dup_frac FROM g ORDER BY doc_id"),
    "llm_entropy" ->
      ("WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w), " +
        "t AS (SELECT doc_id, sum(c) AS n, sum(c * log2(CAST(c AS DOUBLE))) AS clog FROM c GROUP BY doc_id) " +
        "SELECT doc_id, round(log2(CAST(n AS DOUBLE)) - clog / n, 4) AS entropy FROM t ORDER BY doc_id"),
    "llm_dedup_incremental_near" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), " +
        "sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), " +
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
        "shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), " +
        "pairs AS (SELECT a.doc_id AS ex_id, b.doc_id AS new_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8 GROUP BY 1, 2) " +
        "SELECT ex_id, new_id, round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jac FROM pairs " +
        "JOIN sizes sa ON sa.doc_id = ex_id JOIN sizes sb ON sb.doc_id = new_id " +
        "WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.2 ORDER BY ex_id, new_id"),
    "llm_dedup_incremental" ->
      ("WITH d AS (SELECT doc_id, md5(text) AS h FROM documents), " +
        "newb AS (SELECT doc_id, h, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM d WHERE doc_id % 10 >= 8), " +
        "ex AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 < 8) " +
        "SELECT doc_id, h FROM newb WHERE rn = 1 AND h NOT IN (SELECT h FROM ex) ORDER BY doc_id"),
    "llm_quality_score" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INTEGER) AS word_cnt, round(0.6 * least(n_chars / 500.0, 1.0) + 0.4 * least(((n_chars - (len(string_split(text, ' ')) - 1)) / CAST(len(string_split(text, ' ')) AS DOUBLE)) / 10.0, 1.0), 6) AS score FROM documents ORDER BY doc_id",
    // the engine's 60-bit md5-prefix id of the joined window text,
    // exactly the Spark kernel's bits (r16 — parity by construction);
    // LEFT JOIN back to documents keeps the zero-window short docs that
    // unnest(generate_series(1, ≤0)) drops (Spark keeps them via
    // explode_outer); survivor = row_number 1 under (doc_id, pos)
    "llm_dedup_substring" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i FROM w), " +
        "r AS (SELECT doc_id, i, CAST('0x' || substr(md5(array_to_string(ws[i:i+15], ' ')), 1, 15) AS BIGINT) AS h FROM x), " +
        "f AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS n_occ, " +
        "row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk FROM r), " +
        "d AS (SELECT doc_id, count(*) AS n_windows, " +
        "count(*) FILTER (n_occ >= 2) AS n_dup_windows, " +
        "count(*) FILTER (n_occ >= 2 AND rk > 1) AS n_removable_windows FROM f GROUP BY doc_id) " +
        "SELECT doc_id, coalesce(n_windows, CAST(0 AS BIGINT)) AS n_windows, " +
        "coalesce(n_dup_windows, CAST(0 AS BIGINT)) AS n_dup_windows, " +
        "coalesce(n_removable_windows, CAST(0 AS BIGINT)) AS n_removable_windows, " +
        "coalesce(round(n_dup_windows / CAST(n_windows AS DOUBLE), 6), 0.0) AS dup_win_frac " +
        "FROM documents LEFT JOIN d USING (doc_id) ORDER BY doc_id"),
    // incremental: new-batch windows against existing distinct hashes
    // (known) and within-batch survivor policy (removable) — the
    // existing/new split is llm_dedup_incremental's doc_id % 10
    "llm_dedup_substring_incremental" -> substringIncrementalOracle,
    // the persisted serve must give the DERIVED path's answer — shared
    // oracle, same discipline as llm_unigram_persisted
    "llm_dedup_substring_persisted" -> substringIncrementalOracle,
    // the incremental strip: cut = positions covered by corpus-known
    // windows OR non-survivor batch duplicates; same reassembly
    // discipline as llm_dedup_substring_strip, restricted to the fresh
    // batch (doc_id % 10 >= 8)
    "llm_dedup_substring_strip_incremental" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i FROM w), " +
        "r AS (SELECT doc_id, i, CAST('0x' || substr(md5(array_to_string(ws[i:i+15], ' ')), 1, 15) AS BIGINT) AS h FROM x), " +
        "ex AS (SELECT DISTINCT h FROM r WHERE doc_id % 10 < 8), " +
        "nw AS (SELECT doc_id, i, (h IN (SELECT h FROM ex)) AS known, " +
        "count(*) OVER (PARTITION BY h) AS n_occ, " +
        "row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk " +
        "FROM r WHERE doc_id % 10 >= 8), " +
        "cut AS (SELECT DISTINCT doc_id, unnest(generate_series(i, i + 15)) AS p " +
        "FROM nw WHERE known OR (NOT known AND n_occ >= 2 AND rk > 1)), " +
        "tok AS (SELECT doc_id, unnest(ws) AS t, unnest(generate_series(1, len(ws))) AS p " +
        "FROM w WHERE doc_id % 10 >= 8), " +
        "kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok LEFT JOIN cut " +
        "ON tok.doc_id = cut.doc_id AND tok.p = cut.p WHERE cut.p IS NULL), " +
        "agg AS (SELECT doc_id, count(*) AS n_kept, " +
        "array_to_string(list(t ORDER BY p), ' ') AS text_stripped FROM kept GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(string_split(d.text, ' ')) AS BIGINT) - coalesce(n_kept, CAST(0 AS BIGINT)) AS n_cut_tokens, " +
        "coalesce(text_stripped, '') AS text_stripped " +
        "FROM (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8) d " +
        "LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"),
    // the strip product: cut = positions covered by removable windows
    // (DISTINCT over the exploded spans); kept tokens reassemble in
    // position order; zipped unnests give (token, position) pairs
    "llm_dedup_substring_strip" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 15)) AS i FROM w), " +
        "r AS (SELECT doc_id, i, CAST('0x' || substr(md5(array_to_string(ws[i:i+15], ' ')), 1, 15) AS BIGINT) AS h FROM x), " +
        "f AS (SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS n_occ, " +
        "row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk FROM r), " +
        "cut AS (SELECT DISTINCT doc_id, unnest(generate_series(i, i + 15)) AS p " +
        "FROM f WHERE n_occ >= 2 AND rk > 1), " +
        "tok AS (SELECT doc_id, unnest(ws) AS t, unnest(generate_series(1, len(ws))) AS p FROM w), " +
        "kept AS (SELECT tok.doc_id, tok.p, tok.t FROM tok LEFT JOIN cut " +
        "ON tok.doc_id = cut.doc_id AND tok.p = cut.p WHERE cut.p IS NULL), " +
        "agg AS (SELECT doc_id, count(*) AS n_kept, " +
        "array_to_string(list(t ORDER BY p), ' ') AS text_stripped FROM kept GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, " +
        "CAST(len(string_split(d.text, ' ')) AS BIGINT) - coalesce(n_kept, CAST(0 AS BIGINT)) AS n_cut_tokens, " +
        "coalesce(text_stripped, '') AS text_stripped " +
        "FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id"),
    // same md5-prefix span ids as the Spark side; spans repeated at
    // multiple positions of ONE doc count once per position in
    // n_dup_positions but once total in n_dup_spans
    "llm_span_dup" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w), " +
        "sp AS (SELECT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15) AS BIGINT) AS sid FROM x), " +
        "dup AS (SELECT sid FROM sp GROUP BY sid HAVING count(DISTINCT doc_id) >= 2) " +
        "SELECT doc_id, count(*) AS n_dup_positions, count(DISTINCT sid) AS n_dup_spans " +
        "FROM sp JOIN dup USING (sid) GROUP BY doc_id ORDER BY doc_id"),
    // LEFT JOIN back to documents so docs shorter than 5 words keep a
    // NULL-fingerprint row, matching Spark's array_min over an empty
    // shingle array (GROUP BY alone would drop them).
    "llm_fingerprint" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i FROM w), sh AS (SELECT doc_id, md5(array_to_string(ws[i:i+4], ' ')) AS h FROM x), f AS (SELECT doc_id, min(h) AS fp FROM sh GROUP BY doc_id) SELECT d.doc_id, f.fp FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id ORDER BY d.doc_id",
    "llm_chunking" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws), 1), 24)) AS start FROM w) " +
        "SELECT doc_id, CAST((start - 1) // 24 AS INTEGER) AS chunk_idx, array_to_string(ws[start:start+31], ' ') AS chunk, CAST(least(32, len(ws) - start + 1) AS INTEGER) AS n_tokens FROM x ORDER BY doc_id, chunk_idx"),
    // identical semantics to llm_chunking — the custom Generator is graded
    // against the same SQL the built-in composition is
    "udtf_chunk_windows" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, greatest(len(ws), 1), 24)) AS start FROM w) " +
        "SELECT doc_id, CAST((start - 1) // 24 AS INTEGER) AS chunk_idx, array_to_string(ws[start:start+31], ' ') AS chunk, CAST(least(32, len(ws) - start + 1) AS INTEGER) AS n_tokens FROM x ORDER BY doc_id, chunk_idx"),
    "llm_redact" ->
      "SELECT doc_id, regexp_replace(regexp_replace(text, '\\d+', '<NUM>', 'g'), '\\b(the|a|of)\\b', '<STOP>', 'g') AS redacted, CAST(len(regexp_extract_all(text, '\\d+')) + len(regexp_extract_all(regexp_replace(text, '\\d+', '<NUM>', 'g'), '\\b(the|a|of)\\b')) AS INTEGER) AS n_red FROM documents ORDER BY doc_id",
    "llm_sample_split" ->
      "SELECT doc_id, CAST(CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 AS INTEGER) AS bucket, CASE WHEN CAST('0x' || substr(md5(text), 1, 8) AS BIGINT) % 100 < 90 THEN 'train' ELSE 'val' END AS split FROM documents ORDER BY doc_id",
    "llm_unigram_logprob" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
        "vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok), " +
        "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab) " +
        "SELECT doc_id, round(avg(-ln(cnt / total)), 4) AS nll, count(*) AS n_toks FROM toks JOIN vocab USING (tok) CROSS JOIN tot GROUP BY doc_id ORDER BY doc_id"),
    "llm_bigram_logprob" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(2, len(ws))) AS i FROM w), " +
        "pairs AS (SELECT doc_id, ws[i-1] AS prev, ws[i] AS tok FROM x), " +
        "big AS (SELECT prev, tok, count(*) AS c2 FROM pairs GROUP BY 1, 2), " +
        "uni AS (SELECT prev, count(*) AS c1 FROM pairs GROUP BY 1) " +
        "SELECT doc_id, round(avg(-ln(c2 / c1)), 4) AS nll, count(*) AS n_bigrams " +
        "FROM pairs JOIN big USING (prev, tok) JOIN uni USING (prev) " +
        "GROUP BY doc_id ORDER BY doc_id"),
    "llm_contamination_exact" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), " +
        "sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), " +
        "shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), " +
        "pairs AS (SELECT a.doc_id AS eval_id, b.doc_id AS train_id, count(*) AS n_shared FROM shc a JOIN shc b ON a.sh = b.sh " +
        "AND a.doc_id % 50 = 0 AND b.doc_id % 50 <> 0 GROUP BY 1, 2) " +
        "SELECT eval_id, train_id, n_shared FROM pairs WHERE n_shared >= 3 ORDER BY eval_id, train_id"),
    "llm_dedup_embedding_incremental" ->
      ("SELECT a.vec_id AS ex_id, b.vec_id AS new_id, " +
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) AS sim " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id % 10 < 8 AND b.vec_id % 10 >= 8 " +
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.45 " +
        "ORDER BY ex_id, new_id"),
    "llm_contamination" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT a_id, b_id, round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jac FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.5 AND ((a_id % 50 = 0) <> (b_id % 50 = 0)) ORDER BY a_id, b_id",
    // transitive closure by recursive CTE: reach(id, comp) accumulates
    // every id reachable from each node; min over the reachable set is
    // the component minimum — identical to min-label propagation.
    // (the CTE chain itself is DedupClusterCte, shared with softweight)
    "llm_dedup_clusters" ->
      (DedupClusterCte +
        " SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id"),
    // the same closure, folded to cluster sizes and joined back to the
    // whole corpus: singletons COALESCE to size 1 / weight 1.0
    "llm_dedup_softweight" ->
      (DedupClusterCte +
        ", cl AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY id), " +
        "sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM cl GROUP BY 1) " +
        "SELECT d.doc_id, CAST(COALESCE(sz.n, 1) AS BIGINT) AS cluster_size, " +
        "floor(1.0 / COALESCE(sz.n, 1) * 1000000 + 0.5) / 1000000 AS weight " +
        "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id " +
        "LEFT JOIN sz ON sz.cluster_id = cl.cluster_id ORDER BY d.doc_id"),
    // same pair predicate as llm_dedup_embedding, same closure as
    // llm_dedup_clusters — the composed oracle for the semantic twin
    "llm_dedup_semantic" ->
      ("WITH RECURSIVE pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) >= 0.45), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "reach AS (SELECT src AS id, src AS comp FROM edges " +
        "UNION SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id) " +
        "SELECT id AS vec_id, min(comp) AS cluster_id FROM reach GROUP BY id ORDER BY vec_id"),
    "llm_dedup_survivors" ->
      ("WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), " +
        "sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), " +
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
        "shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), " +
        "p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT a_id, b_id FROM p0 JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
        "WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.8), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "reach AS (SELECT src AS id, src AS comp FROM edges " +
        "UNION SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id), " +
        "comps AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id) " +
        "SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM comps WHERE id <> cluster_id) ORDER BY doc_id"),
    "llm_dedup_keep_longest" ->
      ("WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), " +
        "sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), " +
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), " +
        "shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), " +
        "p0 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT a_id, b_id FROM p0 JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id " +
        "WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.8), " +
        "edges AS (SELECT a_id AS src, b_id AS dst FROM pairs UNION ALL SELECT b_id, a_id FROM pairs), " +
        "reach AS (SELECT src AS id, src AS comp FROM edges " +
        "UNION SELECT e.src AS id, r.comp FROM edges e JOIN reach r ON e.dst = r.id), " +
        "comps AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id), " +
        "m AS (SELECT c.cluster_id, d.doc_id, CAST(length(d.text) AS INTEGER) AS len FROM comps c JOIN documents d ON d.doc_id = c.id), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY len DESC, doc_id) AS rn FROM m) " +
        "SELECT cluster_id, min(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id, count(*) AS n_docs, max(len) AS max_len " +
        "FROM r GROUP BY cluster_id ORDER BY cluster_id"),
    // Stop-shingle cap (df <= 500) mirrored from the Spark plan: sizes
    // (n_sh) come from the UNCAPPED posting list (Spark carries n_sh
    // per-row before the cap filter); only the pair join reads the
    // capped list — identical semantics both engines.
    "llm_ngram_jaccard" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT a_id, b_id, round(inter / (sa.n_sh + sb.n_sh - inter), 4) AS jac FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 4) >= 0.2 ORDER BY a_id, b_id",
    "llm_containment" ->
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), x AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM w), sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(array_to_string(ws[i:i+2], ' ')), 1, 15) AS BIGINT) AS sh FROM x), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), shc AS (SELECT doc_id, sh FROM sh QUALIFY count(*) OVER (PARTITION BY sh) <= 500), pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) SELECT a_id, b_id, round(inter / least(sa.n_sh, sb.n_sh), 4) AS cont FROM pairs JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id WHERE round(inter / least(sa.n_sh, sb.n_sh), 4) >= 0.6 ORDER BY a_id, b_id",
  )
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming twins of the batch event-time operators
  * (SURVEY.md §2.I5/I6 + the streaming halves of I1/I3/I4). Each takes a
  * (possibly streaming) events frame so MemoryStream unit tests drive the
  * exact production code path.
  *
  * 100 TB notes: state lives on executors in the state store (RocksDB in
  * production deployments); watermarks bound state size — tumbling windows
  * evict once watermark passes window end, session windows once the gap
  * closes, dedup keys once older than the watermark. The driver only
  * coordinates watermark advancement between micro-batches.
  */
object StreamingOps {

  /** I5 (tumbling twin of I1): hourly counts per event type, 10-minute
    * watermark — rows later than the watermark are dropped; in append mode
    * a window emits only once the watermark passes its end. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("cnt"))

  /** Streaming twin of I3: native session windows with a 30-minute gap. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming twin of I4: exact dedup on event_id with BOUNDED state.
    * Plain `dropDuplicates("event_id")` never evicts when the event-time
    * column is not among the dedup keys — state grows with stream history
    * (verified: numRowsRemoved stayed 0 across batches). The
    * within-watermark variant expires each key once the watermark passes
    * its first-seen time + delay: the guarantee weakens from "dedup over
    * all history" to "dedup within the watermark window", which is the
    * only version that survives an unbounded stream. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each purchase joins signups of the same
    * user from the preceding hour. Watermarks on BOTH sides plus the time
    * bound let Spark evict join state — a buffered signup is dropped once
    * the watermark passes its ts + 1 hour, so state stays proportional to
    * the interval, not the stream history. The batch twin is
    * RelationalOps.joinThetaRange / joinAsof. */
  def purchaseAttribution(purchases: DataFrame, signups: DataFrame,
                          watermark: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", watermark)
      .select(col("event_id").as("signup_id"), col("user_id").as("s_uid"), col("ts").as("s_ts"))
    p.join(s, col("user_id") === col("s_uid") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "signup_id", "user_id", "p_ts", "s_ts")
  }

  /** Stream-stream LEFT OUTER interval join — [[purchaseAttribution]]'s
    * miss-keeps-row twin (the streaming half of joinAsofOuter's
    * contract): a purchase with NO signup in its preceding hour still
    * emits, with a null signup side, once the watermark passes the point
    * where a matching signup could still arrive (s_ts ≤ p_ts, so the
    * row is held exactly until the watermark clears p_ts). Same state
    * eviction as the inner form — the outer semantics cost watermark
    * LATENCY, not state size. */
  def purchaseAttributionOuter(purchases: DataFrame, signups: DataFrame,
                               watermark: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val s = signups.withWatermark("ts", watermark)
      .select(col("event_id").as("signup_id"), col("user_id").as("s_uid"), col("ts").as("s_ts"))
    p.join(s, col("user_id") === col("s_uid") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select("purchase_id", "signup_id", "user_id", "p_ts", "s_ts")
  }

  /** Streaming corpus quality gate — the ingest-time form of the batch
    * K6 gate: a crawler feed is filtered AS IT ARRIVES, before anything
    * lands in the lake, emitting the same (doc_id, lang, n_chars,
    * word_cnt) projection the graded llm_quality_filter key emits.
    * Deliberately zero new logic: the SAME Column predicate the batch
    * key grades (LlmOps.qualityGate; stateless projections/filters are
    * streaming-safe verbatim), so the batch oracle grades the streaming
    * semantics too — the engine-unification argument, demonstrated.
    * Stateless ⇒ no watermark, no state store; scales as the source. */
  def qualityGateStream(docs: DataFrame): DataFrame =
    docs.filter(graft.operators.LlmOps.qualityGate)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("word_cnt"))

  /** Streaming nearest-hub geo enrich: tags each incoming point with
    * its nearest hub + distance using the SAME stateless argmin Column
    * the graded geo_nearest_hub batch key plans
    * ([[graft.operators.GeoOps.nearestHubStruct]] — the hub set is a
    * bounded dimension collected once at stream setup, the PQ-codebook
    * treatment), so the batch DuckDB oracle grades the streaming
    * semantics too. Stateless projection ⇒ no watermark, no state
    * store, no join in the micro-batch plan; scales as the source.
    * Input shape: (k, lat, lon). */
  def geoHubEnrichStream(points: DataFrame,
      hubs: Seq[(Int, Double, Double)]): DataFrame = {
    val best = graft.operators.GeoOps.nearestHubStruct(
      hubs, col("lat"), col("lon"))
    points.select(col("k"), best.getField("hk").as("hub_key"),
      best.getField("d").as("dist_km"))
  }

  /** Streaming radius enrich via a STREAM-STATIC equi-join — the join
    * shape Structured Streaming runs STATELESS (the static side is
    * re-planned per micro-batch; no watermark, no state store, no
    * join-state eviction problem at all): each incoming facility point
    * explodes over its 3×3 cell neighborhood and equi-joins the static
    * cell-indexed target table on the integer cell key, exact haversine
    * as the residual — the LITERAL shared kernel
    * ([[graft.operators.GeoOps.radiusPairsFrom]]) the graded
    * geo_radius_join/geo_knn keys plan, applied to a streaming left
    * side unchanged, so the batch oracle grades the streaming
    * semantics. At 100 TB the static side is the cell-clustered
    * persisted layout (geo_bbox_persisted's table) and each micro-batch
    * pays only the matched cells. Input shape: (k, lat, lon, latc,
    * lonc) — [[graft.operators.GeoOps.points]]' frame. */
  def geoRadiusStream(facPoints: DataFrame, staticTargets: DataFrame,
      radiusKm: Double = 50.0): DataFrame =
    graft.operators.GeoOps.radiusPairsFrom(facPoints, staticTargets, radiusKm)

  /** [[geoRadiusStream]]'s EXACTLY-ONCE table form — the annEnrichSink
    * pattern applied to the geo family: each micro-batch of facility
    * points runs the SAME blocked radius kernel against the static
    * cell-indexed target table and appends its (sk, ck, d) pairs to a
    * [[graft.tables.VersionedTable]] via an idempotent txn-stamped
    * commit, so an at-least-once replay of a micro-batch (crash between
    * sink commit and checkpoint) lands exactly once. The kernel is
    * stateless per facility, so the union of per-batch outputs IS the
    * batch key's answer for the streamed facilities (spec-asserted). */
  def geoRadiusSink(staticTargets: DataFrame, t: graft.tables.VersionedTable,
                    queryId: String, radiusKm: Double = 50.0): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val pairs = graft.operators.GeoOps.radiusPairsFrom(batch, staticTargets, radiusKm)
      t.appendIdempotent(pairs, s"$queryId:$batchId"); ()
    }

  /** Streaming INCREMENTAL SUBSTRING DEDUP — the daily-ingest shape of
    * the substring family run continuously: each micro-batch of fresh
    * (doc_id, text) documents is classified against the known-hash
    * table (the `llm_dedup_substring_persisted` artifact) through the
    * SAME span-classification plan as the graded batch keys, its
    * per-doc profile appended to `outT`, and THEN the batch's
    * previously-unknown window hashes appended to `hashT` — so batch
    * N+1's boilerplate detection sees every span batch N introduced.
    *
    * Ordering is load-bearing: profile-first means an at-least-once
    * REPLAY of a micro-batch (crash between the two commits, or between
    * commit and checkpoint) re-reads the same pre-batch hash state —
    * a batch can never classify against its own hashes. Both appends
    * carry per-batch txn stamps, so each lands exactly once; the
    * replayed profile append no-ops on its held txn and the hash append
    * completes idempotently (spec-asserted on contents AND versions).
    *
    * Scale shape: identical to the batch twin — the hash table is read
    * (not rebuilt) per batch, the batch is windowed once, two
    * hash-keyed equi-joins, one anti-join for the new hashes. Work per
    * trigger is linear in the batch; the table grows by distinct new
    * windows only. */
  def substringDedupSink(hashT: graft.tables.VersionedTable,
                         outT: graft.tables.VersionedTable,
                         queryId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      import graft.operators.LlmTextOps
      val exH = hashT.read().select(col("h").as("eh"))
      // the read snapshot must be STABLE across the two uses below (the
      // profile and the anti-join) — both plan against the same version,
      // VersionedTable reads being manifest-pinned at plan time
      outT.appendIdempotent(
        LlmTextOps.incrementalProfileAgainst(exH, batch), s"$queryId:out:$batchId")
      hashT.appendIdempotent(
        LlmTextOps.newHashesAgainst(exH, batch), s"$queryId:hash:$batchId")
      ()
    }

  /** Streaming data-quality gauge: per tumbling hour, row volume plus
    * violation counts for the SAME two event rules the graded batch
    * audits check (domain membership of event_type, value > 0 — the
    * shared Columns in [[graft.operators.DataQualityOps]], so the batch
    * DuckDB oracles grade these semantics). This is the audit a 100 TB
    * feed runs CONTINUOUSLY — a quality regression surfaces within one
    * window of landing, not at the next batch audit. Windowed sums with
    * a watermark: state is one row per open window, append-mode final. */
  def dqAuditStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(graft.operators.DataQualityOps.eventTypeAccepted, 0L)
          .otherwise(1L)).as("n_bad_type"),
        sum(when(graft.operators.DataQualityOps.eventValuePositive, 0L)
          .otherwise(1L)).as("n_bad_value"))
      .select(col("w.start").as("hour_start"), col("n_rows"),
        col("n_bad_type"), col("n_bad_value"))

  /** Exactly-once lakehouse sink: a foreachBatch function committing each
    * micro-batch to a [[graft.tables.VersionedTable]] via idempotent
    * txn-stamped appends. Structured Streaming replays a failed batch
    * with the SAME batchId (at-least-once delivery); the table skips a
    * txn it already holds, so the table contents are exactly-once. Use
    * with `.writeStream.foreachBatch(versionedTableSink(t, "query-name"))`. */
  def versionedTableSink(t: graft.tables.VersionedTable,
                         queryId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => { t.appendIdempotent(batch, s"$queryId:$batchId"); () }

  /** Streaming CDC upsert sink: each micro-batch MERGEs into a
    * [[graft.tables.VersionedTable]] on `key`. Within a batch only the
    * LATEST row per key survives (highest `seqCol`, remaining columns as
    * a deterministic tie-break) — the standard CDC compaction, and also
    * what makes the merge well-defined (two same-key rows in one MERGE
    * would race). Replay safety is CONTENT-idempotence: re-applying the
    * same compacted upserts yields byte-identical table contents (a
    * replayed batch adds a version whose snapshot equals the previous
    * one), unlike append sinks which need the txn-stamp to avoid
    * duplicate ROWS. */
  def cdcMergeSink(t: graft.tables.VersionedTable, key: String,
                   seqCol: String): (DataFrame, Long) => Unit =
    (batch, _) => {
      // tie-break only on ORDERABLE columns: a MapType payload column in
      // the window's orderBy fails analysis and would kill the query on
      // its first micro-batch; unorderable columns contribute nothing to
      // the deterministic order (seqCol remains the primary key of it)
      val others = batch.columns.toSeq.filter(c => c != key && c != seqCol)
        .filter(c => org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(batch.schema(c).dataType))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
        .orderBy((col(seqCol).desc +: others.map(c => col(c).desc)): _*)
      // rank column name probed for collision-freedom (the
      // VersionedTable.merge marker idiom): a hardcoded "_rn" would
      // silently overwrite — then DROP — a real batch column of that name
      val rn = Iterator.from(0).map(i => s"_rn$i")
        .find(m => !batch.columns.contains(m)).get
      val latest = batch.withColumn(rn, row_number().over(w))
        .filter(col(rn) === 1).drop(rn)
      t.merge(latest, key); ()
    }

  /** Streaming ANN serving: each micro-batch of (query_id, embedding)
    * rows is scored against the MEMOIZED PQ index of the static corpus
    * through the graded batch search
    * ([[graft.operators.PortableQuantizer.pqSearch]] — the `emb_pq_adc`
    * kernel: integer ADC shortlist → exact re-rank), and the top-k rows
    * (query_id, rank, neighbor_id, l2q_d2) append to a
    * [[graft.tables.VersionedTable]] via idempotent txn-stamped commits.
    * `l2q_d2` is the exact int64 squared L2 of the 1e-6-quantized
    * vectors. One kernel for both paths means streaming and batch
    * answers cannot drift (spec-asserted against `emb_pq_adc` rows), and
    * a replayed micro-batch (at-least-once delivery) lands exactly once.
    * Query ids are the caller's: no corpus vector is skipped for sharing
    * one, so a query's answer does not depend on its id.
    * Query rows with a NULL, NULL-holding or wrong-length embedding are
    * dropped by the search, not committed. The codebook memo is built on
    * the first batch and served from the derived-artifact store
    * afterwards — the index is NOT retrained per batch. */
  def annEnrichSink(sfDir: String, t: graft.tables.VersionedTable,
                    queryId: String, k: Int = 10): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val res = graft.operators.PortableQuantizer.pqSearch(
        batch.sparkSession, sfDir, batch, k, skip = lit(false))
      t.appendIdempotent(res, s"$queryId:$batchId"); ()
    }

  /** Streaming HYBRID retrieval: each micro-batch of query ids gets the
    * full two-stack fused ranking — lexical BM25 over the static corpus
    * + dense candidates served from the 3-probe IVF index, reciprocal-
    * rank fusion — through the SAME kernel the graded batch key runs
    * ([[graft.operators.LlmCorpusOps.hybridRrfIndexedOn]]), so the
    * per-micro-batch fused rankings are bit-identical to
    * `llm_hybrid_rrf_indexed` rows for the same queries (RRF is
    * per-query independent; spec-asserted). Results append to a
    * [[graft.tables.VersionedTable]] via idempotent txn-stamped commits:
    * a replayed micro-batch (at-least-once delivery) lands exactly once.
    *
    * The batch frame must carry a `q_id` column (long). Collecting the
    * batch's DISTINCT ids to the driver is bounded by construction — a
    * micro-batch of SERVING REQUESTS is trigger-sized (ids are 8 bytes
    * each), never corpus data; the corpus-scale work (postings join,
    * inverted-list probe) stays fully distributed inside the shared
    * kernel, and the memoized TF table / IVF index are built once and
    * served from the LRU cache across batches, not rebuilt per batch. */
  def hybridRrfSink(sfDir: String, t: graft.tables.VersionedTable,
                    queryId: String): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val ids = batchQueryIds(batch)
      if (ids.nonEmpty) {
        val res = batchFusion(batch.sparkSession, sfDir, ids)
        t.appendIdempotent(res, s"$queryId:$batchId")
      }
      ()
    }

  /** The COMPLETE two-stage serving pipeline per micro-batch: hybrid RRF
    * fusion ([[hybridRrfSink]]'s stage) followed by the exact-cosine
    * re-rank of the fused candidates — the streaming twin of the graded
    * `llm_rerank_topk`, through the same two shared kernels
    * (`hybridRrfIndexedOn` + `exactRerank`), so the streamed reranked
    * rows are bit-identical to the batch key's for the same queries
    * (both stages are per-query independent; spec-asserted). Same
    * idempotent txn-stamped exactly-once appends. */
  def hybridRerankSink(sfDir: String, t: graft.tables.VersionedTable,
                       queryId: String, k: Int = 3): (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val ids = batchQueryIds(batch)
      if (ids.nonEmpty) {
        val s = batch.sparkSession
        val res = graft.operators.LlmTextOps.exactRerank(
            batchFusion(s, sfDir, ids)
              .select(col("q_id"), col("doc_id").as("neighbor_id")),
            graft.Tables.load(s, sfDir, "embeddings"), k)
          .select(col("q_id"), col("rank"),
            col("neighbor_id").as("doc_id"), col("sim"))
        t.appendIdempotent(res, s"$queryId:$batchId")
      }
      ()
    }

  /** The bounded driver-side id pull both serving sinks share — a
    * micro-batch of requests, never corpus data. Null or non-castable
    * q_id values are DROPPED here: one malformed request must not NPE
    * the foreachBatch sink and kill the whole streaming query (the
    * non-ANSI cast turns "abc" into null, which getLong would throw on). */
  private def batchQueryIds(batch: DataFrame): Seq[Long] =
    batch.select(col("q_id").cast("long").as("q_id"))
      .filter(col("q_id").isNotNull).distinct()
      .collect().map(_.getLong(0)).toSeq

  private def batchFusion(s: org.apache.spark.sql.SparkSession,
                          sfDir: String, ids: Seq[Long]): DataFrame =
    graft.operators.LlmCorpusOps.hybridRrfIndexedOn(s, sfDir,
      col("doc_id").isInCollection(ids), col("vec_id").isInCollection(ids))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class UserCount(user_id: Long, count: Long)

  final case class Doc(doc_id: Long, text: String)
  final case class NearDupHit(a_id: Long, b_id: Long, hamming: Int)

  final case class DailyCents(user_id: Long, day: java.sql.Date, cents: Long)
  final case class EwmaPoint(user_id: Long, day: java.sql.Date, ewma_cents: Double)

  /** Streaming near-dup — the streaming half of the incremental-dedup
    * story (batch twin: LlmTextOps.llmDedupIncrementalNear): each
    * micro-batch's documents are checked against the ACCUMULATED corpus
    * through banded-SimHash state.
    *
    * Same algorithm shape as the batch banded join: sketch row-locally
    * (simhash64), explode each 64-bit sketch into 4 × 16-bit band keys,
    * then group BY BAND KEY so the state store holds each band bucket's
    * (doc_id, sketch) members — the state layout IS the LSH index
    * (RocksDB-backed at scale), and pairwise comparison happens only
    * within a bucket, never all-pairs across the stream's history. A new
    * doc is compared against the bucket's accumulated members (and
    * earlier same-batch arrivals), emitting pairs within `maxHamming`;
    * pairs sharing several bands emit once per band, so consumers dedup
    * exactly as the batch op's .distinct() does (asserted in the spec).
    *
    * State growth is linear in corpus size — the honest cost of exact
    * recall against ALL history. Production bounds it the same way the
    * batch incremental op bounds its index: TTL/timeout eviction of stale
    * buckets, or snapshot-compaction of state into the batch index. */
  def nearDupStream(docs: Dataset[Doc], maxHamming: Int = 3): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .withColumn("sh64",
        graft.operators.LlmTextOps.simhash64(split(lower(col("text")), "\\W+")))
      .select(col("doc_id"), col("sh64"),
        // the shared banding definition — batch and streaming candidate
        // generation cannot drift apart
        explode(expr(graft.operators.LlmTextOps.simhashBandSql)).as("bk"))
      .select(col("doc_id").as("docId"), col("sh64").as("sketch"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .as[(Long, Long, Int, Long)]
    banded
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: (Int, Long), rows: Iterator[(Long, Long, Int, Long)],
         state: GroupState[List[(Long, Long)]]) =>
          val existing = state.getOption.getOrElse(Nil)
          val fresh = rows.map(r => (r._1, r._2)).toList
          // compare each arrival against accumulated members AND earlier
          // same-batch arrivals, so intra-batch dups are not missed
          val (hits, all) = fresh.foldLeft((List.empty[NearDupHit], existing)) {
            case ((acc, seen), (id, sk)) =>
              // at-least-once upstreams REDELIVER: a doc_id already in the
              // bucket is a replay — inserting it again would re-emit its
              // hits on every later arrival and grow state with retries
              // rather than corpus size
              if (seen.exists(_._1 == id)) (acc, seen)
              else {
                val found = seen.collect {
                  case (oid, osk) if oid != id &&
                    java.lang.Long.bitCount(sk ^ osk) <= maxHamming =>
                    NearDupHit(math.min(id, oid), math.max(id, oid),
                      java.lang.Long.bitCount(sk ^ osk))
                }
                (acc ++ found, (id, sk) :: seen)
              }
          }
          state.update(all)
          hits.iterator
      }
  }

  /** Streaming twin of EventOps.tsEwma: the α = 1/2 EWMA recurrence as
    * per-user streaming state — the form the batch key's Scaladoc
    * promises for unbounded history, where the window formulation's 2^k
    * weights overflow but the recurrence costs O(1) state per key.
    * Emits one point per (user, day); bit-identical to the batch closed
    * form on integer cents (the EventOpsSpec proof), asserted by the
    * MemoryStream spec across micro-batch boundaries. Rows within one
    * micro-batch sort by day; ACROSS batches the feed must be day-
    * ordered per user (the date-keyed sharding every daily ingest has —
    * same contract as the asof enrichment stream) — and the contract is
    * ENFORCED: state carries the last folded day, and a regressing batch
    * fails loudly instead of silently corrupting the recurrence. */
  def ewmaStream(daily: Dataset[DailyCents]): Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[DailyCents], state: GroupState[(Double, Long)]) =>
          val rows = batch.toArray.sortBy(_.day.getTime)
          var s = state.getOption
          val out = rows.map { r =>
            val day = r.day.toLocalDate.toEpochDay
            val next = s match {
              case None => (r.cents.toDouble, day)
              case Some((prev, lastDay)) =>
                // ENFORCE the cross-batch day-order contract: a late /
                // backfill row folded as-if-current would silently
                // corrupt the recurrence — fail loudly instead
                if (day <= lastDay) throw new IllegalStateException(
                  s"ewmaStream: user $uid received day ${r.day} at or " +
                    s"before the last folded epoch-day $lastDay — the feed " +
                    "must be day-ordered per user across micro-batches")
                (0.5 * r.cents.toDouble + 0.5 * prev, day)
            }
            s = Some(next)
            EwmaPoint(uid, r.day, next._1)
          }
          s.foreach(state.update)
          out.iterator
      }
  }

  /** I6: custom stateful operator — per-user running event counter via
    * mapGroupsWithState. State schema: one Long per user (documented for
    * scale: state is per-key-tiny, partitioned by user across executors). */
  def runningCounts(events: Dataset[Event]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + batch.size
          state.update(next)
          UserCount(uid, next)
      }
  }

  /** I6c: the Spark 4 arbitrary-state API (transformWithState) twin of
    * [[runningCounts]] — typed ValueState in a StatefulProcessor instead
    * of the single-blob GroupState. The new API's wins at scale: multiple
    * independently-evolvable state variables per key, native TTL, and
    * timers decoupled from input — all on the RocksDB store provider
    * (which the API requires). */
  class RunningCountProcessor(
      ttl: org.apache.spark.sql.streaming.TTLConfig =
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserCount] {
    @transient private var countState: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      countState = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, ttl)
    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val next = (if (countState.exists()) countState.get() else 0L) + rows.size
      countState.update(next)
      Iterator.single(UserCount(key, next))
    }
  }

  /** `ttl`: native per-state-variable expiry — the mechanism that BOUNDS
    * state at 100 TB (an idle key's entry disappears after the TTL
    * instead of accumulating forever; the near-dup stream's scaladoc
    * names this as its production state bound). TTL requires
    * processing-time mode; expiry is asserted in StreamingOpsSpec. */
  def runningCountsTws(events: Dataset[Event],
                       ttl: org.apache.spark.sql.streaming.TTLConfig =
                         org.apache.spark.sql.streaming.TTLConfig.NONE): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    val timeMode =
      if (ttl == org.apache.spark.sql.streaming.TTLConfig.NONE)
        org.apache.spark.sql.streaming.TimeMode.None()
      else org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor(ttl), timeMode,
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class AsOfMatch(purchase_id: Long, user_id: Long, signup_id: Option[Long])
  final case class LatestSignup(signup_id: Long, tsMs: Long)

  /** Streaming as-of enrichment — the unbounded twin of the batch
    * AsOfJoinExec merge: state per user is exactly the merge's O(1)
    * "best so far" (the latest signup seen), and each arriving purchase
    * is enriched against it. Within a micro-batch, events are processed
    * in (ts, event_id) order so intra-batch ordering matches the batch
    * operator; ACROSS batches this is processing-time as-of — a signup
    * that arrives later than a purchase it precedes in event time will
    * not retro-enrich (exact event-time as-of over unordered streams
    * needs watermark-delayed buffering, which purchaseAttribution's
    * interval join provides for bounded lookback). State never grows:
    * one (id, ts) pair per user, replaced in place. */
  def asofEnrichStream(events: Dataset[Event]): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "signup" || e.event_type == "purchase")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LatestSignup]) =>
          val out = Seq.newBuilder[AsOfMatch]
          var latest = state.getOption
          // signups sort BEFORE purchases at equal ts: the batch operator
          // (AsOfJoinExec) matches the greatest signup ts <= purchase ts
          // INCLUDING ties, so a same-timestamp signup must be visible to
          // the purchase regardless of event_id order
          batch.toSeq.sortBy(e =>
            (e.ts.getTime, if (e.event_type == "signup") 0 else 1, e.event_id)).foreach { e =>
            if (e.event_type == "signup") {
              val better = latest.forall(l => e.ts.getTime > l.tsMs ||
                (e.ts.getTime == l.tsMs && e.event_id > l.signup_id))
              if (better) latest = Some(LatestSignup(e.event_id, e.ts.getTime))
            } else {
              val m = latest.filter(_.tsMs <= e.ts.getTime).map(_.signup_id)
              out += AsOfMatch(e.event_id, uid, m)
            }
          }
          latest.foreach(state.update)
          out.result().iterator
      }
  }

  final case class RegHit(ts: java.sql.Timestamp, reg: Int, rank: Int)
  final case class HllWindowCount(wstartMs: Long, est_nd: Long)

  /** Streaming approximate-distinct per tumbling hour — the portable-HLL
    * register fold as CUSTOM STATE: each window's state is its 512
    * max-rank registers (a fixed ~2 KB per open window, independent of
    * cardinality — THE reason sketches are the 100 TB distinct-count
    * pattern), updated per micro-batch from the SAME md5 register
    * projection the graded agg_approx_hll key computes
    * ([[graft.operators.RelationalOps.withHllRegRank]]) and estimated on
    * window close by the same two-IEEE-op formula
    * ([[graft.operators.RelationalOps.hllEstimateScalar]]) — so the
    * batch DuckDB oracle grades the streaming estimate bit-for-bit.
    * Emission only when the watermark passes the window end (event-time
    * timeout), exactly-once per window. */
  def hllDistinctStream(events: DataFrame, value: String = "user_id",
                        watermark: String = "10 minutes"): Dataset[HllWindowCount] = {
    import events.sparkSession.implicits._
    val windowMs = 3600000L
    graft.operators.RelationalOps.withHllRegRank(
        events.withWatermark("ts", watermark)
          .select(col("ts"), col(value).as("__v")), col("__v"))
      // the WATERMARKED ts column itself rides into the typed Dataset
      // (a projected window.start loses the watermark tag and
      // EventTimeTimeout refuses the plan); the epoch-aligned hour is
      // computed in the grouping key
      .select(col("ts"),
        col("reg").cast("int").as("reg"), col("rank").cast("int").as("rank"))
      .as[RegHit]
      .groupByKey(h => h.ts.getTime - math.floorMod(h.ts.getTime, windowMs))
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (wstartMs: Long, batch: Iterator[RegHit], state: GroupState[Array[Int]]) =>
          if (state.hasTimedOut) {
            // state.get, not a fallback: a timeout only ever fires after
            // state.update + setTimeoutTimestamp, so absent state here is
            // an invariant violation that should fail loudly
            val est = graft.operators.RelationalOps.hllEstimateScalar(state.get)
            state.remove()
            Iterator.single(HllWindowCount(wstartMs, est))
          } else {
            val regs = state.getOption.getOrElse(Array.fill(512)(-1))
            batch.foreach(h => if (h.rank > regs(h.reg)) regs(h.reg) = h.rank)
            state.update(regs)
            // fire once the watermark passes the window end
            state.setTimeoutTimestamp(wstartMs + windowMs)
            Iterator.empty
          }
      }
  }

  final case class SessionAgg(user_id: Long, n_events: Long, startMs: Long, endMs: Long)
  final case class SessionState(n: Long, startMs: Long, endMs: Long)

  /** I6b: flatMapGroupsWithState with an event-time timeout — hand-rolled
    * session aggregation: state accumulates per-user events and is emitted
    * ONLY when the watermark passes the session gap (timeout fires with an
    * empty batch). The custom-state analogue of session_window; state is
    * bounded by the watermark exactly as the built-in is. */
  def sessionizeWithState(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Seq[SessionState]]) =>
          // State is the user's PENDING sessions (plural): a backfill
          // batch with two bursts past the gap is two sessions, but none
          // may emit before the WATERMARK passes its end + gap — an
          // allowed-late event in a later batch can still land between
          // two pending sessions and BRIDGE them (session_window
          // semantics; an earlier draft emitted completed-in-batch
          // sessions immediately and a late bridging event then split
          // what should have been one session).
          val wm = state.getCurrentWatermarkMs()
          var pending = state.getOption.getOrElse(Seq.empty).toList
          batch.map(_.ts.getTime).toSeq.sorted.foreach { t =>
            // t may extend one pending session or bridge two adjacent
            // ones — merge every session within gap of it
            val (touch, keep) = pending.partition(ss =>
              t >= ss.startMs - gapMs && t <= ss.endMs + gapMs)
            val merged =
              if (touch.isEmpty) SessionState(1, t, t)
              else SessionState(touch.map(_.n).sum + 1,
                math.min(touch.map(_.startMs).min, t),
                math.max(touch.map(_.endMs).max, t))
            pending = (merged :: keep).sortBy(_.startMs)
          }
          // a session is SEALED once no valid (non-late) event can extend
          // it: watermark >= end + gap. Handles both the data path and
          // the empty-batch timeout firing uniformly.
          val (closed, open) = pending.partition(ss => ss.endMs + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            state.setTimeoutTimestamp(open.map(_.endMs + gapMs).min)
          }
          closed.sortBy(_.startMs)
            .map(ss => SessionAgg(uid, ss.n, ss.startMs, ss.endMs)).iterator
      }
  }
}

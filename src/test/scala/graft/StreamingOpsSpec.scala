package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** MemoryStream tests for the Structured Streaming surface (SURVEY.md
  * §2.I5/I6): watermark late-data drops, session windows, stateful dedup,
  * and the mapGroupsWithState custom operator. */
class StreamingOpsSpec extends SparkTestBase {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(h: Int, m: Int = 0): Timestamp = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
  private def ev(id: Long, t: Timestamp, uid: Long = 1L, typ: String = "view"): Event =
    Event(id, t, uid, typ, 1.0)

  private def drain(q: StreamingQuery): Unit = { q.processAllAvailable() }

  test("I5: tumbling agg with watermark drops late rows, emits on watermark pass") {
    val input = MemoryStream[Event]
    val q = StreamingOps.tumblingCounts(input.toDF())
      .writeStream.format("memory").queryName("tumb").outputMode("append").start()
    try {
      input.addData(ev(1, ts(10, 5)), ev(2, ts(10, 20)))
      drain(q)
      // advance watermark past 11:00 -> [10:00,11:00) finalizes with 2 rows
      input.addData(ev(3, ts(12, 0)))
      drain(q)
      // LATE: 10:40 is far behind the 11:50 watermark -> dropped
      input.addData(ev(4, ts(10, 40)))
      drain(q)
      // close the 12:00 window too
      input.addData(ev(5, ts(13, 30)))
      drain(q)
      val rows = spark.sql("SELECT hour_start, cnt FROM tumb").collect()
        .map(r => r.getAs[Timestamp]("hour_start") -> r.getAs[Long]("cnt")).toMap
      assert(rows(ts(10)) == 2L, s"late row must not count: $rows")
      assert(rows(ts(12)) == 1L)
    } finally q.stop()
  }

  test("streaming session_window merges events within the gap") {
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 10)), ev(3, ts(1, 50)))
      drain(q)
      input.addData(ev(9, ts(9, 0))) // push watermark far ahead to emit all
      drain(q)
      val rows = spark.sql("SELECT n_events FROM sess WHERE user_id = 1 ORDER BY session_start")
        .collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(2L, 1L), s"expected sessions (2,1), got $rows")
    } finally q.stop()
  }

  test("streaming dedup suppresses a duplicate id arriving in a later batch") {
    val input = MemoryStream[Event]
    val q = StreamingOps.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 1)))
      drain(q)
      input.addData(ev(1, ts(1, 2)), ev(3, ts(1, 3))) // id 1 again
      drain(q)
      val ids = spark.sql("SELECT event_id FROM dedup").collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("I6b: flatMapGroupsWithState emits a session only after its timeout") {
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionizeWithState(input.toDS())
      .writeStream.format("memory").queryName("fmgs").outputMode("append").start()
    try {
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 10)))
      drain(q)
      // watermark still at 1:00-ish: nothing emitted yet
      assert(spark.sql("SELECT * FROM fmgs").count() == 0)
      // jump event time far forward -> watermark passes end+gap -> emit
      input.addData(ev(9, ts(9, 0), uid = 2))
      drain(q)
      input.addData(ev(10, ts(9, 30), uid = 2)) // extra batch to advance watermark processing
      drain(q)
      val rows = spark.sql("SELECT user_id, n_events FROM fmgs").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows.get(1L).contains(2L), s"expected closed session for user 1, got ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream interval join matches signups within the window only") {
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val q = StreamingOps.purchaseAttribution(purchases.toDF(), signups.toDF())
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      signups.addData(ev(100, ts(1, 0), uid = 1, typ = "signup"),
        ev(101, ts(5, 0), uid = 2, typ = "signup"))
      purchases.addData(
        ev(200, ts(1, 30), uid = 1, typ = "purchase"), // 30 min after signup -> match
        ev(201, ts(3, 0), uid = 1, typ = "purchase"),  // 2 h after -> no match
        ev(202, ts(5, 30), uid = 2, typ = "purchase")) // other user, in window -> match
      drain(q)
      // advance both watermarks so all joinable pairs are emitted
      purchases.addData(ev(299, ts(12, 0), uid = 9))
      signups.addData(ev(399, ts(12, 0), uid = 9, typ = "signup"))
      drain(q)
      val pairs = spark.sql("SELECT purchase_id, signup_id FROM attr").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(pairs.contains(200L -> 100L) && pairs.contains(202L -> 101L),
        s"expected in-window matches, got $pairs")
      assert(!pairs.exists(_._1 == 201L), s"out-of-window purchase matched: $pairs")
    } finally q.stop()
  }

  test("dedup watermark EVICTS old keys and DROPS late rows (StateOperatorProgress)") {
    val input = MemoryStream[Event]
    val q = StreamingOps.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_evict").outputMode("append").start()
    try {
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 1)))
      drain(q)
      // jump event time 8 hours -> watermark passes 1:xx; old dedup keys
      // are older than the watermark and must be REMOVED from the store
      input.addData(ev(10, ts(9, 0)))
      drain(q)
      input.addData(ev(11, ts(9, 1))) // extra batch so eviction lands in a progress
      drain(q)
      // a row far behind the watermark must be dropped, not deduped/stored
      input.addData(ev(12, ts(1, 2)))
      drain(q)
      val progs = q.recentProgress.flatMap(_.stateOperators)
      assert(progs.exists(_.numRowsRemoved > 0),
        s"watermark never evicted dedup state: ${progs.map(_.numRowsRemoved).mkString(",")}")
      assert(progs.exists(_.numRowsDroppedByWatermark > 0),
        s"late row not dropped by watermark: ${progs.map(_.numRowsDroppedByWatermark).mkString(",")}")
      // the store must hold only keys newer than the watermark, not history
      val finalTotal = q.lastProgress.stateOperators.head.numRowsTotal
      assert(finalTotal <= 2, s"dedup state not bounded by watermark: $finalTotal rows")
      // and the late row must not appear in output
      val ids = spark.sql("SELECT event_id FROM dedup_evict").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(12L), s"late row leaked into output: $ids")
    } finally q.stop()
  }

  test("stream-stream join state is bounded: watermark advance removes buffered rows") {
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val q = StreamingOps.purchaseAttribution(purchases.toDF(), signups.toDF())
      .writeStream.format("memory").queryName("attr_evict").outputMode("append").start()
    try {
      signups.addData(ev(100, ts(1, 0), uid = 1, typ = "signup"))
      purchases.addData(ev(200, ts(1, 30), uid = 1, typ = "purchase"))
      drain(q)
      // both watermarks jump ~11 hours: the buffered signup's join window
      // (ts + 1 h) is far behind -> its state row must be removed
      purchases.addData(ev(299, ts(12, 0), uid = 9))
      signups.addData(ev(399, ts(12, 0), uid = 9, typ = "signup"))
      drain(q)
      purchases.addData(ev(300, ts(12, 30), uid = 9))
      signups.addData(ev(400, ts(12, 30), uid = 9, typ = "signup"))
      drain(q)
      val progs = q.recentProgress.flatMap(_.stateOperators)
      assert(progs.exists(_.numRowsRemoved > 0),
        s"join state never evicted: ${progs.map(_.numRowsRemoved).mkString(",")}")
      // remaining state holds only rows inside the current interval bound
      val finalTotal = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(finalTotal <= 4, s"join state grew beyond the interval bound: $finalTotal")
    } finally q.stop()
  }

  test("AvailableNow trigger drains pending data and self-terminates") {
    val input = MemoryStream[Event]
    input.addData(ev(1, ts(1)), ev(2, ts(1, 1)), ev(3, ts(1, 2)))
    val q = input.toDF().groupBy("user_id").count()
      .writeStream.format("memory").queryName("drain").outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
      assert(!q.isActive)
      val n = spark.sql("SELECT sum(count) FROM drain").head().getLong(0)
      assert(n == 3L, s"drained $n of 3 rows")
    } finally if (q.isActive) q.stop()
  }

  test("foreachBatch sink receives every micro-batch") {
    val input = MemoryStream[Event]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.add(batch.count()); ()
      }
      .start()
    try {
      input.addData(ev(1, ts(1)), ev(2, ts(1, 1)))
      drain(q)
      input.addData(ev(3, ts(1, 2)))
      drain(q)
      val counts = seen.toArray(Array.empty[java.lang.Long]).map(_.toLong).toSeq
      assert(counts.sum == 3, s"got $counts")
    } finally q.stop()
  }

  test("stateful query resumes from its checkpoint after a stop/restart") {
    val input = MemoryStream[Event]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def start() = StreamingOps.runningCounts(input.toDS())
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingOps.UserCount], _: Long) =>
        batch.collect().foreach(u => seen.add(u.user_id -> u.count)); ()
      }
      .start()
    val q1 = start()
    try {
      input.addData(ev(1, ts(1), uid = 7), ev(2, ts(1, 1), uid = 7))
      drain(q1)
    } finally q1.stop()
    assert(seen.contains(7L -> 2L), s"pre-restart state missing: $seen")
    // restart from the same checkpoint: the per-user count must CONTINUE
    // from the recovered state store, not restart at 1
    val q2 = start()
    try {
      input.addData(ev(3, ts(1, 2), uid = 7))
      drain(q2)
      assert(seen.contains(7L -> 3L), s"state lost across restart: $seen")
    } finally q2.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched purchases after watermark close") {
    val pur = MemoryStream[Event]
    val sig = MemoryStream[Event]
    val q = StreamingOps.purchaseAttributionOuter(pur.toDF(), sig.toDF())
      .writeStream.format("memory").queryName("attr_outer").outputMode("append").start()
    try {
      sig.addData(ev(100, ts(9, 30), uid = 1, typ = "signup"))
      pur.addData(ev(1, ts(10, 0), uid = 1, typ = "purchase"),
        ev(2, ts(10, 0), uid = 2, typ = "purchase")) // uid 2: no signup ever
      drain(q)
      // advance BOTH watermarks far past 10:00 so the unmatched left row
      // can be declared match-less (two batches: watermark commits lag one)
      pur.addData(ev(8, ts(20, 0), uid = 9))
      sig.addData(ev(98, ts(20, 0), uid = 9, typ = "signup"))
      drain(q)
      pur.addData(ev(9, ts(21, 0), uid = 9))
      sig.addData(ev(99, ts(21, 0), uid = 9, typ = "signup"))
      drain(q)
      val rows = spark.sql("SELECT purchase_id, signup_id FROM attr_outer").collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(rows.get(1L).contains(Some(100L)), s"matched pair wrong: $rows")
      assert(rows.get(2L).contains(None), s"unmatched purchase must emit with null signup: $rows")
    } finally q.stop()
  }

  private def nearDupScenario(queryName: String): Unit = {
    import graft.streaming.StreamingOps.Doc
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base.split(" ").updated(9, "zzz").mkString(" ")
    val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")
    val input = MemoryStream[Doc]
    val q = StreamingOps.nearDupStream(input.toDS(), maxHamming = 8)
      .writeStream.format("memory").queryName(queryName).outputMode("append").start()
    try {
      input.addData(Doc(1, base), Doc(2, unrelated))
      drain(q)
      // the near-dup arrives in a LATER batch — only the accumulated
      // band-bucket state can pair it with doc 1
      input.addData(Doc(50, nearDup))
      drain(q)
      // a pair sharing several bands emits once per band: DISTINCT is the
      // consumer contract, same as the batch banded join's .distinct()
      val pairs = spark.sql(s"SELECT DISTINCT a_id, b_id, hamming FROM $queryName").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(pairs.exists(p => p._1 == 1L && p._2 == 50L && p._3 <= 8), s"got $pairs")
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), s"unrelated doc paired: $pairs")
      // an EXACT duplicate in a third batch pairs at hamming 0
      input.addData(Doc(60, base))
      drain(q)
      val p60 = spark.sql(s"SELECT DISTINCT a_id, hamming FROM $queryName WHERE b_id = 60").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(p60.contains((1L, 0)), s"identical cross-batch dup missed: $p60")
      // an at-least-once REPLAY of doc 1 must not re-emit its pairs nor
      // duplicate it inside the bucket state
      val before = spark.sql(s"SELECT count(*) FROM $queryName").collect()(0).getLong(0)
      input.addData(Doc(1, base))
      drain(q)
      assert(spark.sql(s"SELECT count(*) FROM $queryName").collect()(0).getLong(0) == before,
        "replayed doc re-emitted hits")
    } finally q.stop()
  }

  test("streaming near-dup: cross-batch near-duplicates surface via accumulated sketch state") {
    nearDupScenario("neardup")
  }

  test("streaming near-dup: same scenario on the RocksDB state store (the 100 TB state posture)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try nearDupScenario("neardup_rocks")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stateful op runs on the RocksDB state store provider") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = StreamingOps.runningCounts(input.toDS())
        .writeStream.format("memory").queryName("rocks").outputMode("update").start()
      try {
        input.addData(ev(1, ts(1), uid = 3), ev(2, ts(1, 1), uid = 3))
        drain(q)
        input.addData(ev(3, ts(1, 2), uid = 3))
        drain(q)
        val latest = spark.sql("SELECT max(count) FROM rocks WHERE user_id = 3").head().getLong(0)
        assert(latest == 3L, s"RocksDB-backed state lost updates: $latest")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("I6d: ValueState TTL expires an idle key's state — the 100 TB state bound") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = StreamingOps.runningCountsTws(input.toDS(),
          org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(500)))
        .writeStream.format("memory").queryName("tws_ttl").outputMode("update").start()
      try {
        // ProcessingTime time-mode schedules micro-batches CONTINUOUSLY
        // (TTL cleanup runs per batch), so processAllAvailable never
        // idles — poll the sink for the expected row count instead
        def waitRows(n: Int): Unit = {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (spark.sql("SELECT count FROM tws_ttl WHERE user_id = 7").count() < n &&
                 System.nanoTime() < deadline) Thread.sleep(200)
        }
        input.addData(ev(1, ts(1), uid = 7))
        waitRows(1) // count = 1, TTL clock starts
        Thread.sleep(2000) // comfortably past the 500 ms TTL
        input.addData(ev(2, ts(1, 1), uid = 7))
        waitRows(2)
        val counts = spark.sql("SELECT count FROM tws_ttl WHERE user_id = 7").collect()
          .map(_.getLong(0)).toSeq.sorted
        // expired state reads as absent: the second event restarts at 1
        // instead of accumulating to 2
        assert(counts == Seq(1L, 1L), s"TTL did not expire idle state: $counts")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("I6c: transformWithState (Spark 4 arbitrary state) matches the GroupState twin") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // the transformWithState operator requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = StreamingOps.runningCountsTws(input.toDS())
        .writeStream.format("memory").queryName("tws").outputMode("update").start()
      try {
        input.addData(ev(1, ts(1), uid = 1), ev(2, ts(1, 1), uid = 1), ev(3, ts(1, 2), uid = 2))
        drain(q)
        input.addData(ev(4, ts(1, 3), uid = 1))
        drain(q)
        val latest = spark.sql("SELECT user_id, max(count) FROM tws GROUP BY user_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(latest == Map(1L -> 3L, 2L -> 1L), s"got $latest")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming as-of enrichment: O(1) per-user state matches purchases to the latest prior signup") {
    val input = MemoryStream[Event]
    val q = StreamingOps.asofEnrichStream(input.toDS())
      .writeStream.format("memory").queryName("asof_s").outputMode("append").start()
    try {
      // batch 1: signup s1, purchase p10 after it (match), purchase p11
      // for a user with no signup (None), intra-batch out-of-order feed
      input.addData(
        ev(10, ts(2, 0), uid = 1, typ = "purchase"),
        ev(1, ts(1, 0), uid = 1, typ = "signup"),
        ev(11, ts(2, 0), uid = 2, typ = "purchase"))
      drain(q)
      // batch 2: newer signup replaces state; next purchase matches IT,
      // and a purchase timestamped before the stored signup gets None
      input.addData(ev(2, ts(3, 0), uid = 1, typ = "signup"))
      drain(q)
      input.addData(
        ev(12, ts(4, 0), uid = 1, typ = "purchase"),
        ev(13, ts(2, 30), uid = 1, typ = "purchase"))
      drain(q)
      val rows = spark.sql("SELECT purchase_id, signup_id FROM asof_s").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(rows == Map(10L -> Some(1L), 11L -> None, 12L -> Some(2L), 13L -> None),
        s"got $rows")
    } finally q.stop()
  }

  test("I6: mapGroupsWithState keeps a running per-user counter across batches") {
    val input = MemoryStream[Event]
    val q = StreamingOps.runningCounts(input.toDS())
      .writeStream.format("memory").queryName("counts").outputMode("update").start()
    try {
      input.addData(ev(1, ts(1), uid = 1), ev(2, ts(1, 1), uid = 1), ev(3, ts(1, 2), uid = 2))
      drain(q)
      input.addData(ev(4, ts(1, 3), uid = 1))
      drain(q)
      val latest = spark.sql("SELECT user_id, max(count) FROM counts GROUP BY user_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L), s"got $latest")
    } finally q.stop()
  }

  test("streaming CDC merge sink upserts per micro-batch; replay is content-idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft_cdcvt").toString + "/t"
    val t = graft.tables.VersionedTable.create(spark, root,
      Seq((1L, "seed", 0L)).toDF("id", "v", "seq"))
    val sink = StreamingOps.cdcMergeSink(t, "id", "seq")
    val input = MemoryStream[(Long, String, Long)]
    val q = input.toDF().toDF("id", "v", "seq")
      .writeStream.foreachBatch(sink).start()
    try {
      input.addData((1L, "a", 1L), (2L, "b", 1L))
      q.processAllAvailable()
      // update key 1, insert key 3 with an intra-batch duplicate: the
      // higher-seq row must win the batch compaction
      input.addData((1L, "aa", 2L), (3L, "c", 1L), (3L, "cc", 2L))
      q.processAllAvailable()
      def snap() = t.read().as[(Long, String, Long)].collect().sortBy(_._1).toSeq
      val expected = Seq((1L, "aa", 2L), (2L, "b", 1L), (3L, "cc", 2L))
      assert(snap() == expected, s"got ${snap()}")
      // post-crash replay of the last micro-batch: contents unchanged
      sink(Seq((1L, "aa", 2L), (3L, "c", 1L), (3L, "cc", 2L)).toDF("id", "v", "seq"), 1L)
      assert(snap() == expected, "replayed CDC batch changed table contents")
    } finally q.stop()
  }

  private def annTable(name: String): graft.tables.VersionedTable = {
    val root = java.nio.file.Files.createTempDirectory(name).toString + "/t"
    graft.tables.VersionedTable.create(spark, root,
      Seq.empty[(Long, Int, Long, Long)].toDF("query_id", "rank", "neighbor_id", "l2q_d2"))
  }

  private def annRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Long)] =
    df.select("query_id", "rank", "neighbor_id", "l2q_d2")
      .as[(Long, Int, Long, Long)].collect().sortBy(x => (x._1, x._2)).toSeq

  /** `emb_pq_adc` skips each query's own vector; the sink serves
    * caller-chosen ids and skips nothing. So a query streamed under its
    * corpus vec_id q gets q itself at distance 0 first, then the graded
    * key's rows one rank down. */
  private def withSelf(rows: Seq[(Long, Int, Long, Long)]): Seq[(Long, Int, Long, Long)] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
      (q, 1, q, 0L) +: rs.sortBy(_._2).dropRight(1).map(r => r.copy(_2 = r._2 + 1))
    }

  test("streaming ANN enrichment serves the PQ index per micro-batch, exactly once") {
    import org.apache.spark.sql.functions.col
    // the emb_pq_adc query set (vec_id 0-4), streamed in two micro-batches
    val queries = Tables.load(spark, SF, "embeddings").filter(col("vec_id") <= 4)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toSeq
    assert(queries.map(_._1) == (0L to 4L))
    val t = annTable("graft_annvt")
    val sink = StreamingOps.annEnrichSink(SF, t, "annq")
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("query_id", "embedding")
      .writeStream.foreachBatch(sink).start()
    try {
      input.addData(queries.take(2): _*)
      q.processAllAvailable()
      input.addData(queries.drop(2): _*)
      q.processAllAvailable()
      val got = annRows(t.read())
      // one search kernel: the streamed rows ARE the graded key's rows,
      // plus each query's own vector
      val expected = withSelf(annRows(SparkEntry.queries("emb_pq_adc")(spark, SF)))
      assert(got.size == 50 && got == expected, s"got $got\nexpected $expected")
      // post-crash replay of the last micro-batch: same (query, batchId)
      // txn → the idempotent append is a no-op
      sink(queries.drop(2).toDF("query_id", "embedding"), 1L)
      assert(t.read().count() == got.size, "replayed ANN batch duplicated rows")
    } finally q.stop()
  }

  test("streaming ANN sink drops malformed query vectors instead of committing NULL-distance rows") {
    import org.apache.spark.sql.functions.col
    val valid = Tables.load(spark, SF, "embeddings").filter(col("vec_id") === 3)
      .select("embedding").as[Array[Float]].collect().head
    val boxed: Seq[java.lang.Float] = valid.toSeq.map(Float.box)
    val t = annTable("graft_annbad")
    val sink = StreamingOps.annEnrichSink(SF, t, "annbad")
    val input = MemoryStream[(Long, Seq[java.lang.Float])]
    val q = input.toDF().toDF("query_id", "embedding")
      .writeStream.foreachBatch(sink).start()
    try {
      // one micro-batch: a valid query, a 63-element query, a query
      // with a NULL element and a NULL embedding
      input.addData((3L, boxed), (1L, boxed.take(63)),
        (2L, boxed.updated(5, null)), (4L, null))
      q.processAllAvailable()
      val got = annRows(t.read())
      val expected = withSelf(annRows(SparkEntry.queries("emb_pq_adc")(spark, SF)
        .filter(col("query_id") === 3)))
      assert(expected.size == 10 && got == expected, s"got $got")
    } finally q.stop()
  }

  test("streaming ANN sink: a query id that is also a corpus vec_id loses no neighbour") {
    import org.apache.spark.sql.functions.{col, max}
    val emb = Tables.load(spark, SF, "embeddings")
    val v3 = emb.filter(col("vec_id") === 3).select("embedding").as[Array[Float]].collect().head
    val unused = emb.agg(max("vec_id")).head.getLong(0) + 1
    val t = annTable("graft_annid")
    val sink = StreamingOps.annEnrichSink(SF, t, "annid")
    val input = MemoryStream[(Long, Array[Float])]
    val q = input.toDF().toDF("query_id", "embedding")
      .writeStream.foreachBatch(sink).start()
    try {
      // the same vector under its own corpus id and under an unused id
      input.addData((3L, v3), (unused, v3))
      q.processAllAvailable()
      val got = annRows(t.read())
      val byId = got.groupBy(_._1).map { case (id, rs) => id -> rs.map(r => (r._2, r._3, r._4)) }
      assert(byId(3L).size == 10 && byId(3L) == byId(unused), s"got $got")
      assert(byId(3L).head == ((1, 3L, 0L)), "a corpus vector is its own nearest neighbour")
    } finally q.stop()
  }

  test("streaming hybrid RRF fusion: per-micro-batch rows bit-identical to the batch key, exactly once") {
    import org.apache.spark.sql.functions.col
    // the graded batch key's query universe (doc_id % 97 == 0; the
    // fixture's embeddings are an id-aligned subset of documents, so
    // this covers both stacks' query sets)
    val qids = Tables.load(spark, SF, "documents")
      .filter(col("doc_id") % 97 === 0).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(qids.size >= 2, s"need >= 2 fixture queries, got ${qids.size}")
    val root = java.nio.file.Files.createTempDirectory("graft_rrfvt").toString + "/t"
    val t = graft.tables.VersionedTable.create(spark, root,
      Seq.empty[(Long, Int, Long, Option[Int], Option[Int], Double)]
        .toDF("q_id", "rank", "doc_id", "r_lex", "r_dense", "rrf"))
    val sink = StreamingOps.hybridRrfSink(SF, t, "rrfq")
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("q_id").writeStream.foreachBatch(sink).start()
    try {
      val (b1, b2) = qids.splitAt(qids.size / 2)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "rank", "doc_id", "r_lex", "r_dense", "rrf")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), r.getDouble(5)))
        .sortBy(x => (x._1, x._2)).toSeq
      // RRF is per-query independent, so the union of the two
      // micro-batches' fused rankings must BE the batch key's rows
      val got = rows(t.read())
      val expected = rows(
        graft.operators.LlmCorpusOps.llmHybridRrfIndexed(spark, SF))
      assert(got.nonEmpty && got == expected,
        s"streaming fusion drifted from llm_hybrid_rrf_indexed: got ${got.size} rows")
      // post-crash replay of the last micro-batch: same (query, batchId)
      // txn → the idempotent append is a no-op
      sink(b2.toDF("q_id"), 1L)
      assert(t.read().count() == got.size, "replayed fusion batch duplicated rows")
    } finally q.stop()
  }

  test("streaming two-stage re-rank: per-micro-batch rows bit-identical to llm_rerank_topk, exactly once") {
    import org.apache.spark.sql.functions.col
    val qids = Tables.load(spark, SF, "documents")
      .filter(col("doc_id") % 97 === 0).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val root = java.nio.file.Files.createTempDirectory("graft_rrkvt").toString + "/t"
    val t = graft.tables.VersionedTable.create(spark, root,
      Seq.empty[(Long, Int, Long, Double)].toDF("q_id", "rank", "doc_id", "sim"))
    val sink = StreamingOps.hybridRerankSink(SF, t, "rrkq")
    val input = MemoryStream[Long]
    val q = input.toDF().toDF("q_id").writeStream.foreachBatch(sink).start()
    try {
      val (b1, b2) = qids.splitAt(qids.size / 2)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "rank", "doc_id", "sim")
        .as[(Long, Int, Long, Double)].collect()
        .sortBy(x => (x._1, x._2)).toSeq
      val got = rows(t.read())
      val expected = rows(
        graft.operators.LlmCorpusOps.llmRerankTopk(spark, SF))
      assert(got.nonEmpty && got == expected,
        s"streaming re-rank drifted from llm_rerank_topk: got ${got.size} rows")
      sink(b2.toDF("q_id"), 1L)
      assert(t.read().count() == got.size, "replayed re-rank batch duplicated rows")
    } finally q.stop()
  }

  test("RocksDB state store: stateful dedup runs on RocksDBStateStoreProvider, same answers") {
    // The 100 TB posture for the streaming family: HDFS-backed in-memory
    // state dies at large keyspaces; RocksDB spills to local disk. This
    // asserts the provider this Spark build ships actually RUNS our
    // stateful ops and yields the same answers — not just that the conf
    // is settable.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      val q = StreamingOps.dedupStream(input.toDF())
        .writeStream.format("memory").queryName("rocksdedup")
        .outputMode("append").start()
      try {
        input.addData(ev(1, ts(1)), ev(1, ts(1)), ev(2, ts(1, 5)))
        drain(q)
        input.addData(ev(1, ts(1)), ev(3, ts(2)))
        drain(q)
        val ids = spark.sql("SELECT event_id FROM rocksdedup").collect()
          .map(_.getLong(0)).sorted.toSeq
        assert(ids == Seq(1L, 2L, 3L), s"dedup answers drifted on RocksDB: $ids")
        // prove the provider engaged: RocksDB-specific state metrics exist
        val metrics = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq)
          .flatMap(_.customMetrics.keySet().toArray(Array.empty[String]))
        assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
          s"no rocksdb state metrics — provider did not engage: $metrics")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("sessionizeWithState splits a backfill batch on gaps instead of merging bursts") {
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionizeWithState(input.toDS())
      .writeStream.format("memory").queryName("fmgs_split").outputMode("append").start()
    try {
      // ONE batch, two bursts 115 min apart (gap = 30 min): TWO pending
      // sessions. The batch itself advances the watermark to 2:50, which
      // SEALS the first burst (end+gap = 1:35) — so it may emit within
      // this drain's timeout pass — but the 3:00 burst (sealed at 3:30)
      // must NOT, and nothing may emit as one merged blob.
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 5)), ev(3, ts(3, 0)))
      drain(q)
      val mid = spark.sql("SELECT n_events, startMs, endMs FROM fmgs_split").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(mid.forall(_ == (2L, ts(1, 0).getTime, ts(1, 5).getTime)) && mid.size <= 1,
        s"only the sealed first burst may emit here: ${mid.mkString(",")}")
      // advance the watermark well past both sessions' end+gap
      input.addData(ev(9, ts(9, 0), uid = 2))
      drain(q)
      input.addData(ev(10, ts(9, 30), uid = 2))
      drain(q)
      val sessions = spark.sql(
          "SELECT n_events, startMs, endMs FROM fmgs_split WHERE user_id = 1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(sessions == Set(
        (2L, ts(1, 0).getTime, ts(1, 5).getTime),
        (1L, ts(3, 0).getTime, ts(3, 0).getTime)),
        s"expected the two bursts as separate sealed sessions: ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("sessionizeWithState: a late-but-valid event BRIDGES pending sessions") {
    val input = MemoryStream[Event]
    val q = StreamingOps.sessionizeWithState(input.toDS())
      .writeStream.format("memory").queryName("fmgs_bridge").outputMode("append").start()
    try {
      // batch 1: 1:00, 1:05, 1:40 (gap 30m) → two pending sessions;
      // watermark after the batch = 1:40 - 10m = 1:30
      input.addData(ev(1, ts(1, 0)), ev(2, ts(1, 5)), ev(3, ts(1, 40)))
      drain(q)
      // batch 2: 1:31 is NOT late (>= watermark) and sits within gap of
      // BOTH pending sessions — session_window semantics merge all three
      // into ONE session; an early draft emitted [1:00,1:05] already and
      // split what must be one session
      input.addData(ev(4, ts(1, 31)))
      drain(q)
      input.addData(ev(9, ts(9, 0), uid = 2)) // advance watermark
      drain(q)
      input.addData(ev(10, ts(9, 30), uid = 2))
      drain(q)
      val sessions = spark.sql(
          "SELECT n_events, startMs, endMs FROM fmgs_bridge WHERE user_id = 1").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(sessions == Seq((4L, ts(1, 0).getTime, ts(1, 40).getTime)),
        s"bridged input must seal as ONE session: ${sessions.mkString(",")}")
    } finally q.stop()
  }

  test("as-of enrichment matches a same-timestamp signup (batch-operator tie contract)") {
    val input = MemoryStream[Event]
    val q = StreamingOps.asofEnrichStream(input.toDS())
      .writeStream.format("memory").queryName("asof_tie").outputMode("append").start()
    try {
      // purchase has the SMALLER event_id: a (ts, event_id) sort processed
      // it before the signup and missed the tie the batch AsOfJoin includes
      input.addData(ev(3, ts(2, 0), typ = "purchase"), ev(5, ts(2, 0), typ = "signup"))
      drain(q)
      val m = spark.sql("SELECT purchase_id, signup_id FROM asof_tie").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(m == Map(3L -> Some(5L)), s"tie signup not matched: $m")
    } finally q.stop()
  }

  test("cdcMergeSink tolerates unorderable (map) payload columns") {
    val t = graft.tables.VersionedTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_cdcmap").resolve("t").toString,
      Seq((1L, 0L, Map("a" -> "old"))).toDF("id", "seq", "props"))
    val sink = StreamingOps.cdcMergeSink(t, "id", "seq")
    // two same-key rows; the map column would have thrown AnalysisException
    // from the tie-break window's orderBy before the fix
    sink(Seq((1L, 2L, Map("a" -> "new")), (1L, 1L, Map("a" -> "mid")))
      .toDF("id", "seq", "props"), 0L)
    val rows = t.read().select("id", "seq").as[(Long, Long)].collect()
    assert(rows.toSeq == Seq((1L, 2L)), s"latest CDC row must win: ${rows.mkString(",")}")
  }

  test("offline file-source e2e: staged dir → watermark dedup → exactly-once vt sink across restart") {
    // The closest offline stand-in for a Kafka pipeline this sandbox can
    // run: a directory-watching file source (files land ATOMICALLY via
    // rename, the production contract for file ingestion), watermarked
    // stateful dedup, and the idempotent versioned-table sink — run as
    // two separate AvailableNow queries over ONE checkpoint, i.e. a
    // process-exit-and-resume. The restart must (a) restore the dedup
    // state (a cross-run duplicate id stays suppressed) and (b) not
    // re-deliver the first run's batches to the table.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft_filestream").toString
    val inDir = Paths.get(base, "in"); Files.createDirectories(inDir)
    val t = graft.tables.VersionedTable.create(spark, base + "/t",
      Seq.empty[Event].toDS.toDF)
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit =
      StreamingOps.versionedTableSink(t, "file-e2e")

    def stage(name: String, rows: Seq[Event]): Unit = {
      val lines = rows.map(e =>
        s"""{"event_id":${e.event_id},"ts":"${e.ts.toString.replace(' ', 'T')}",""" +
          s""""user_id":${e.user_id},"event_type":"${e.event_type}","value":${e.value}}""")
      val tmp = Files.createTempFile(Paths.get(base), "stage-", ".json")
      Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      // write OUTSIDE the watched dir, then atomic rename in — a file
      // source must never observe a half-written file
      Files.move(tmp, inDir.resolve(name + ".json"), StandardCopyOption.ATOMIC_MOVE)
    }

    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    def runOnce(): Unit = {
      val in = spark.readStream.schema(schema).json(inDir.toString)
      val q = StreamingOps.dedupStream(in)
        .writeStream.option("checkpointLocation", base + "/ckpt")
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not drain")
    }

    stage("b0", Seq(ev(1, ts(10)), ev(2, ts(10, 1)), ev(1, ts(10)))) // in-file dup of 1
    runOnce() // run 1, then the query (and its driver-side state) is GONE
    assert(t.read().select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))

    stage("b1", Seq(ev(2, ts(10, 2)), ev(3, ts(10, 3)))) // id 2 duplicates RUN 1
    runOnce() // run 2 resumes from the checkpoint
    assert(t.read().select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
      "restart must restore dedup state (2 suppressed) and not re-deliver run 1")
    val versionsAfter = t.versions

    // crash-between-commit-and-checkpoint: Structured Streaming replays
    // the last micro-batch with the SAME batchId; the txn-stamped append
    // must be a no-op on both contents and version history
    sink(Seq(ev(3, ts(10, 3))).toDS.toDF, 1L)
    assert(t.read().count() == 3, "replayed micro-batch duplicated rows")
    assert(t.versions == versionsAfter, "replayed micro-batch committed a version")
  }

  test("streaming quality gate applies the batch K6 predicate verbatim") {
    import org.apache.spark.sql.functions.{col, size, split}
    import StreamingOpsSpec.QDoc
    val passText = Seq.fill(25)("word").mkString(" ") // 25 words
    val docs = Seq(
      QDoc(1L, "en", 200, passText),            // passes every clause
      QDoc(2L, "zh", 200, passText),            // fails lang
      QDoc(3L, "en", 50, passText),             // fails char band
      QDoc(4L, "en", 200, "too few words"),     // fails word floor
      QDoc(5L, "fr", 499, passText))            // passes
    val input = MemoryStream[QDoc]
    val q = StreamingOps.qualityGateStream(input.toDF())
      .writeStream.format("memory").queryName("qgate").outputMode("append").start()
    try {
      input.addData(docs: _*)
      drain(q)
      val got = spark.sql("SELECT doc_id, word_cnt FROM qgate").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // identical to the batch predicate over the same rows
      val want = spark.createDataset(docs).toDF()
        .filter(graft.operators.LlmOps.qualityGate)
        .select(col("doc_id"), size(split(col("text"), " ")).as("wc"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want)
      assert(got.keySet == Set(1L, 5L), s"gate drift: $got")
    } finally q.stop()
  }

  test("streaming geo hub enrich equals the batch argmin kernel bit-for-bit") {
    import org.apache.spark.sql.functions.col
    import StreamingOpsSpec.GPoint
    // the REAL fixture derivation, via the operators' own shared kernel
    val pts = graft.operators.GeoOps
      .points(Tables.load(spark, SF, "customer"), "c_custkey")
      .select("k", "lat", "lon")
      .collect().map(r => GPoint(r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val hubs = graft.operators.GeoOps.hubsOf(spark, SF)
    val input = MemoryStream[GPoint]
    val q = StreamingOps.geoHubEnrichStream(input.toDF(), hubs)
      .writeStream.format("memory").queryName("geohub").outputMode("append").start()
    try {
      // two batches to prove per-micro-batch statelessness
      val (b1, b2) = pts.splitAt(pts.length / 2)
      input.addData(b1: _*); drain(q)
      input.addData(b2: _*); drain(q)
      val got = spark.sql("SELECT k, hub_key, dist_km FROM geohub").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      // identical to the same stateless Column over the same rows in batch
      val best = graft.operators.GeoOps.nearestHubStruct(hubs, col("lat"), col("lon"))
      val want = spark.createDataset(pts).toDF()
        .select(col("k"), best.getField("hk"), best.getField("d"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      assert(got == want)
      assert(got.size == pts.length, "every streamed point assigned exactly once")
    } finally q.stop()
  }

  test("streaming geo radius join (stream-static) equals the batch kernel across batch splits") {
    import StreamingOpsSpec.GCellPoint
    // the REAL fixture derivations via the operators' own shared kernel:
    // suppliers stream in, customers are the static side
    val statics = graft.operators.GeoOps
      .points(Tables.load(spark, SF, "customer"), "c_custkey")
    val facRows = graft.operators.GeoOps
      .supplierPoints(Tables.load(spark, SF, "supplier"))
      .collect().map(r => GCellPoint(r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    val input = MemoryStream[GCellPoint]
    val q = StreamingOps.geoRadiusStream(input.toDF(), statics)
      .writeStream.format("memory").queryName("georad").outputMode("append").start()
    try {
      // two micro-batches: the stream-static join is stateless, so the
      // union of per-batch outputs must equal the one-shot batch kernel
      val (b1, b2) = facRows.splitAt(facRows.length / 2)
      input.addData(b1: _*); drain(q)
      input.addData(b2: _*); drain(q)
      val got = spark.sql("SELECT sk, ck FROM georad").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = graft.operators.GeoOps.radiusPairsFrom(
          graft.operators.GeoOps.supplierPoints(Tables.load(spark, SF, "supplier")),
          statics, 50.0)
        .select("sk", "ck").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty)
      assert(got == want)
    } finally q.stop()
  }

  test("streaming geo radius sink: checkpoint-restart exactly-once onto the versioned table") {
    import StreamingOpsSpec.GCellPoint
    import org.apache.spark.sql.streaming.Trigger
    // the annEnrichSink restart pattern applied to the geo twin: two
    // separate AvailableNow queries over ONE checkpoint (a process
    // exit-and-resume), facility points landing as files between runs;
    // the restart must not re-deliver run 1's pairs, the union must
    // equal the batch kernel, and a crash-replayed micro-batch must be
    // an idempotent no-op on contents AND version history.
    val statics = graft.operators.GeoOps
      .points(Tables.load(spark, SF, "customer"), "c_custkey")
    val facRows = graft.operators.GeoOps
      .supplierPoints(Tables.load(spark, SF, "supplier"))
      .collect().map(r => GCellPoint(r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    val base = java.nio.file.Files.createTempDirectory("graft_georadvt").toString
    val inDir = java.nio.file.Paths.get(base, "in")
    java.nio.file.Files.createDirectories(inDir)
    val t = graft.tables.VersionedTable.create(spark, base + "/t",
      Seq.empty[(Long, Long, Double)].toDF("sk", "ck", "d"))
    val sink = StreamingOps.geoRadiusSink(statics, t, "georad")
    def stage(name: String, rows: Seq[GCellPoint]): Unit = {
      val lines = rows.map(p =>
        s"""{"k":${p.k},"lat":${p.lat},"lon":${p.lon},"latc":${p.latc},"lonc":${p.lonc}}""")
      val tmp = java.nio.file.Files.createTempFile(java.nio.file.Paths.get(base), "st-", ".json")
      java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, inDir.resolve(name + ".json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    val schema = implicitly[org.apache.spark.sql.Encoder[GCellPoint]].schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(inDir.toString)
        .writeStream.option("checkpointLocation", base + "/ckpt")
        .foreachBatch(sink)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not drain")
    }
    val (b1, b2) = facRows.splitAt(facRows.length / 2)
    stage("b0", b1)
    runOnce() // run 1, then the query (and its source state) is GONE
    val afterRun1 = t.read().count()
    stage("b1", b2)
    runOnce() // run 2 resumes from the checkpoint
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("sk", "ck")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs(t.read())
    val want = pairs(graft.operators.GeoOps.radiusPairsFrom(
      graft.operators.GeoOps.supplierPoints(Tables.load(spark, SF, "supplier")),
      statics, 50.0))
    assert(want.nonEmpty && got == want,
      s"restart re-delivered or dropped pairs: got ${got.size} want ${want.size}")
    assert(t.read().count() > afterRun1, "run 2 appended nothing")
    // crash-between-commit-and-checkpoint: the replayed micro-batch
    // carries the SAME batchId (run 2 resumed at batchId 1) -> no-op
    val versionsBefore = t.versions
    sink(b2.toDF("k", "lat", "lon", "latc", "lonc"), 1L)
    assert(pairs(t.read()) == want, "replayed geo micro-batch duplicated pairs")
    assert(t.versions == versionsBefore, "replayed geo micro-batch committed a version")
  }

  test("streaming substring dedup: per-batch profiles equal the batch twins; replay no-ops on contents and versions") {
    import org.apache.spark.sql.functions.col
    import graft.operators.LlmTextOps
    val docs = Tables.load(spark, SF, "documents").select("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 10 < 8)
    val fresh = docs.filter(col("doc_id") % 10 >= 8)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(fresh.size >= 4)
    val (b1, b2) = fresh.splitAt(fresh.size / 2)
    val base = java.nio.file.Files.createTempDirectory("graft_subsink").toString
    // bootstrap: the known-hash table starts as the existing corpus's
    // distinct window hashes (an empty eh frame anti-joins away nothing)
    val hashT = graft.tables.VersionedTable.create(spark, base + "/h",
      LlmTextOps.newHashesAgainst(Seq.empty[Long].toDF("eh"), existing))
    val outT = graft.tables.VersionedTable.create(spark, base + "/o",
      Seq.empty[(Long, Long, Long, Long, Double)].toDF("doc_id", "n_windows",
        "n_known_windows", "n_batch_removable_windows", "cut_frac"))
    val sink = StreamingOps.substringDedupSink(hashT, outT, "subdd")
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream.foreachBatch(sink).start()
    try {
      input.addData(b1: _*); drain(q)
      input.addData(b2: _*); drain(q)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
      val got = rows(outT.read())
      // per-batch semantics ARE the graded batch twin's: batch 1 against
      // the existing corpus, batch 2 against existing ∪ batch 1 (the
      // hash append between triggers is what makes the union hold)
      val b1df = b1.toDF("doc_id", "text"); val b2df = b2.toDF("doc_id", "text")
      val want1 = rows(LlmTextOps.substringIncremental(existing, b1df))
      val want2 = rows(LlmTextOps.substringIncremental(existing.unionByName(b1df), b2df))
      assert(got == (want1 ++ want2) && got.size == fresh.size,
        s"streamed profiles drifted from the batch twins (got ${got.size})")
      // crash-replay of the last micro-batch: both txns held → no-op on
      // contents AND version history of BOTH tables
      val hv = hashT.versions; val ov = outT.versions
      sink(b2df, 1L)
      assert(rows(outT.read()) == got, "replayed batch changed profiles")
      assert(hashT.versions == hv && outT.versions == ov,
        "replayed batch committed a version")
    } finally q.stop()
  }

  test("streaming EWMA equals the batch closed form bit-for-bit across batch splits") {
    import graft.streaming.StreamingOps.DailyCents
    val batch = graft.operators.EventOps.tsEwma(spark, SF).collect()
      .map(r => (r.getLong(0), r.getDate(1), r.getLong(2), r.getDouble(3)))
    val daily = batch.map { case (u, day, v, _) => DailyCents(u, day, v) }
    // split mid-month: the recurrence must survive the micro-batch
    // boundary through per-user state
    val cut = java.sql.Date.valueOf("2024-01-15")
    val (early, late) = daily.partition(_.day.before(cut))
    assert(early.nonEmpty && late.nonEmpty)
    val input = MemoryStream[DailyCents]
    val q = StreamingOps.ewmaStream(input.toDS())
      .writeStream.format("memory").queryName("ewmastream").outputMode("append").start()
    try {
      input.addData(early.toSeq: _*); drain(q)
      input.addData(late.toSeq: _*); drain(q)
      val got = spark.sql("SELECT user_id, day, ewma_cents FROM ewmastream").collect()
        .map(r => (r.getLong(0), r.getDate(1).toString) -> r.getDouble(2)).toMap
      assert(got.size == batch.length)
      batch.foreach { case (u, day, _, want) =>
        // EXACT ==: recurrence and closed form are bit-identical on cents
        assert(got((u, day.toString)) == want, s"user $u day $day")
      }
    } finally q.stop()
  }

  test("streaming HLL distinct: state-folded registers estimate bit-identically to batch") {
    import org.apache.spark.sql.functions.{col, lit, max => smax}
    val input = MemoryStream[Event]
    val q = StreamingOps.hllDistinctStream(input.toDF())
      .writeStream.format("memory").queryName("hllstream").outputMode("append").start()
    val evs = (1 to 120).map(i => Event(i.toLong, ts(10, i % 60), (i % 37).toLong, "view", 1.0))
    try {
      // split ACROSS micro-batches (duplicates straddle the split), then
      // advance the watermark far past 11:00 to close the window
      input.addData(evs.take(50): _*); drain(q)
      input.addData(evs.drop(50): _*); drain(q)
      input.addData(ev(999, ts(13, 0))); drain(q)
      val got = spark.sql("SELECT est_nd FROM hllstream WHERE wstartMs = " +
        ts(10).getTime).collect().map(_.getLong(0)).toSeq
      // batch truth: the SAME shared projection + the scalar estimator
      val regs = graft.operators.RelationalOps.withHllRegRank(
          spark.createDataset(evs).toDF().select(col("user_id").as("__v")).distinct(), col("__v"))
        .groupBy("reg").agg(smax("rank").as("mr")).collect()
      val arr = Array.fill(512)(-1)
      regs.foreach(r => arr(r.getAs[Number]("reg").intValue) = r.getAs[Number]("mr").intValue)
      val want = graft.operators.RelationalOps.hllEstimateScalar(arr)
      assert(got == Seq(want), s"streaming estimate $got != batch $want")
      // and the scalar twin must equal the CATALYST estimate frame on the
      // same registers — this is where a Math.log-vs-StrictMath.log drift
      // would land (Spark's log expression is StrictMath; the 37-distinct
      // window sits squarely in the linear-counting branch)
      val frameEst = graft.operators.RelationalOps.hllEstimate(
          graft.operators.RelationalOps.hllRegisters(
            spark.createDataset(evs).toDF().withColumn("g", lit(1)), "g", col("user_id")),
          "g").head().getLong(1)
      assert(want == frameEst, s"scalar estimator $want != Catalyst frame $frameEst")
    } finally q.stop()
  }

  test("streaming dq audit counts violations per window with the batch rule columns") {
    val input = MemoryStream[Event]
    val q = StreamingOps.dqAuditStream(input.toDF())
      .writeStream.format("memory").queryName("dqaudit").outputMode("append").start()
    try {
      input.addData(
        ev(1, ts(10, 5)),                               // clean
        Event(2, ts(10, 10), 1L, "bogus", 1.0),         // out-of-domain type
        Event(3, ts(10, 20), 1L, "view", 0.0),          // non-positive value
        Event(4, ts(10, 30), 1L, null, -1.0))           // both rules fire
      drain(q)
      input.addData(ev(9, ts(13, 0))) // push the watermark past 11:00
      drain(q)
      val r = spark.sql(
        "SELECT n_rows, n_bad_type, n_bad_value FROM dqaudit " +
          "WHERE hour_start = TIMESTAMP '2024-01-01 10:00:00'").head()
      assert(r.getLong(0) == 4L && r.getLong(1) == 2L && r.getLong(2) == 2L)
    } finally q.stop()
  }
}

object StreamingOpsSpec {
  /** Top-level so Spark can derive its product encoder (a method-local
    * case class cannot get one). */
  final case class QDoc(doc_id: Long, lang: String, n_chars: Int, text: String)
  final case class GPoint(k: Long, lat: Double, lon: Double)
  final case class GCellPoint(k: Long, lat: Double, lon: Double, latc: Long, lonc: Long)
}

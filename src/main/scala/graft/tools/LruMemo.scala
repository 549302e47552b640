package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftnative.{CheckpointRelease, SessionIds}

/** The session-scoped derived-artifact store: ONE bounded memo for every
  * derived table the operator families build once per corpus and serve
  * many queries from — shingle index, SimHash sketches, edge lists, stage
  * frames, tokenizer models, PQ/IVF codebooks.
  *
  * Key: (session uuid, sfDir, tag, corpus stamp). `tag` names the
  * artifact and is its [[MemoRegistry.BuildLog]] tag. The corpus stamp
  * (`CorpusStamp.fingerprint(sfDir)`, recomputed on every call) covers
  * every table of the corpus, so after any table is rewritten in place
  * every entry of that corpus MISSES and rebuilds instead of serving a
  * frame derived from the old files; no call site names its inputs.
  * The session uuid (not an identity hash, which can collide across
  * sessions in one JVM) keeps a frame bound to a dead session from
  * reaching a live one.
  *
  * The store finds the DataFrames in a value itself — a bare frame or a
  * tuple containing frames — and, with no per-site hook:
  *   - RELEASES their checkpoint blocks on LRU eviction and on
  *     [[MemoRegistry.releaseAll]] (CheckpointRelease), instead of waiting
  *     for the ContextCleaner to notice the GC'd RDD;
  *   - REVALIDATES them on every hit (CheckpointRelease.isLive): a local
  *     checkpoint has no lineage, so after an executor loss a hit whose
  *     blocks are gone is released and rebuilt instead of handed to a
  *     consumer whose action would fail unrecoverably. The rebuild shows
  *     in the BuildLog as a same-tag second build. Values with no frames
  *     (driver-side codebook Seqs) always count as live.
  * Checkpointing itself stays with the caller (`localCheckpoint` or
  * `Layout.checkpointBy`): the store only owns the cached value's
  * lifecycle. */
object Derived {
  /** Sized from a measurement: one full registry pass (all 341
    * SparkEntry keys, sorted, sf0.01) on ONE session with no releaseAll
    * peaks at 33 live entries (33 builds, none evicted or rebuilt). 96 is
    * ~2.9× that: two corpora's full working sets in one session, plus
    * headroom, while a long-lived JVM cycling sessions still drops dead
    * sessions' frames one cold entry at a time. */
  val Capacity = 96

  private val store = new LruMemo[(String, String, String, String), Any](Capacity,
    onEvict = release, revalidate = v => framesIn(v).forall(CheckpointRelease.isLive))

  /** The memoized artifact `tag` of corpus `sfDir`'s current state for
    * `spark`'s session, building it on first use. */
  def apply[V](spark: SparkSession, sfDir: String, tag: String)(build: => V): V =
    store.get(tag, (SessionIds.uuid(spark), sfDir, tag,
      graft.tables.CorpusStamp.fingerprint(sfDir)))(build).asInstanceOf[V]

  def size: Int = store.size

  /** Every memoized frame currently held (specs audit block release). */
  private[graft] def frames: Seq[DataFrame] = store.values.flatMap(framesIn)

  /** Drop every entry, releasing its frames' blocks; entries rebuild on
    * next use. */
  private[tools] def clear(): Unit = store.clear(release)

  private def release(v: Any): Unit = framesIn(v).foreach(CheckpointRelease.release)

  private def framesIn(v: Any): Seq[DataFrame] = v match {
    case df: DataFrame @unchecked => Seq(df)
    case t: Product if t.productPrefix.startsWith("Tuple") =>
      t.productIterator.flatMap(framesIn).toSeq
    case _ => Nil
  }
}

/** Bounded least-recently-used memo for rebuildable derived values. Two
  * instances exist: the [[Derived]] artifact store and `Tables.planMemo`
  * (resolved table plans — no blocks, and it survives releaseAll).
  *
  * Why not clear()-on-bound: wiping the whole map when one session crosses
  * the limit silently drops every LIVE session's memo too — correctness-
  * safe (entries rebuild) but a full re-index of every corpus in flight.
  * LRU evicts exactly one cold entry per insert past capacity, so entries
  * a live consumer keeps touching are never dropped.
  *
  * Concurrency: the memo-wide lock covers lookup, insert and evict only.
  * A build holds only ITS key's lock, which (a) guarantees each key builds
  * exactly once — a second caller of the same key waits and then hits —
  * and (b) never blocks a hit or a build of another key: a slow corpus
  * index build doesn't stall warm hits from other clients, and families
  * sharing one memo keep building concurrently. Builds may nest (the
  * cluster-label artifact builds on the shingle index); a
  * ConcurrentHashMap.computeIfAbsent would reject that as a recursive
  * update. Nesting follows the derived-table dependency order, so key
  * locks are always taken in one direction. `revalidate` runs outside
  * the memo-wide lock.
  *
  * @param onEvict releases a value dropped by capacity eviction or by a
  *            failed revalidation (never re-run by [[clear]], which takes
  *            its own hook).
  * @param revalidate hit-time liveness probe: a cached value this
  *            returns false for is released (via `onEvict`) and REBUILT
  *            instead of returned. Must be cheap (runs on every hit) and
  *            side-effect free; default accepts every hit. */
final class LruMemo[K, V](val capacity: Int, onEvict: V => Unit = (_: V) => (),
                          revalidate: V => Boolean = (_: V) => true) {
  require(capacity > 0, "LruMemo capacity must be positive")

  private val map = new java.util.LinkedHashMap[K, V](16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = {
      val evict = this.size() > capacity
      // Capacity eviction releases the value the same way clear() does —
      // otherwise an evicted checkpointed frame's blocks stay pinned
      // until the ContextCleaner happens to collect the GC'd RDD. Runs
      // inside the map lock; NonFatal only, fatal errors propagate.
      if (evict) dropQuietly(onEvict, e.getValue, "evict")
      evict
    }
  }

  /** Per-key build locks of the keys being built right now, with the
    * number of threads holding or waiting on each; guarded by `map`. A
    * lock leaves the table with its last user, so the table only ever
    * holds in-flight keys. */
  private final class KeyLock { var users = 0 }
  private val building = new java.util.HashMap[K, KeyLock]()

  /** The memoized value for `k`, building (and caching) it on first use.
    * Touching a key marks it most-recently-used. Each build is recorded
    * in [[MemoRegistry.BuildLog]] under `tag` (the [[Derived]] store tags
    * each build with its artifact name), so BENCH_FULL's memo_builds
    * records WHICH artifact each build belongs to — an n=2 under one
    * bench key reads as either two distinct prerequisite indexes (two
    * tags) or one eviction rebuild (same tag twice).
    *
    * RETENTION CONTRACT (same one clear() carries): when `onEvict`
    * releases resources — the [[Derived]] store releases a frame's
    * blocks — a caller must not retain a returned value across more than
    * `capacity` further inserts. An evicted checkpointed frame is a LAZY
    * plan over truncated lineage: its blocks are gone and cannot be
    * recomputed, so a later action on the stale reference fails
    * unrecoverably with missing-checkpoint-block errors. Use the value
    * promptly (or re-get() it, which re-memoizes). */
  def get(tag: String, k: K)(build: => V): V = lookup(k) match {
    case Some(v) => v
    case None =>
      val lock = map.synchronized {
        val l = building.computeIfAbsent(k, _ => new KeyLock)
        l.users += 1
        l
      }
      try lock.synchronized {
        // a caller that waited on this lock finds the winner's value here
        lookup(k).getOrElse {
          // report the build's wall seconds to the attribution log — how
          // Bench knows which registry key paid for a shared family index
          // (including LRU-eviction REBUILDS, which land on arbitrary
          // keys). enter/exit bracket so a nested prerequisite build
          // records SELF time, not double-counted wall (see BuildLog).
          val t0 = System.nanoTime()
          MemoRegistry.BuildLog.enter()
          var ok = false
          val v = try { val r = build; ok = true; r }
                  finally MemoRegistry.BuildLog.exit(
                    tag, (System.nanoTime() - t0) / 1e9, ok)
          map.synchronized(map.put(k, v))
          v
        }
      } finally map.synchronized {
        lock.users -= 1
        if (lock.users == 0) building.remove(k)
      }
  }

  /** A live cached value for `k`. A stale survivor (an executor died with
    * a checkpointed frame's blocks) is dropped and released — exactly
    * once, by whichever caller removes it — so the caller rebuilds, and
    * the BuildLog shows a same-tag n=2: the signal an operator should
    * see for executor churn. */
  private def lookup(k: K): Option[V] = {
    val hit = map.synchronized(map.get(k))
    if (hit == null) None
    else if (revalidate(hit)) Some(hit)
    else {
      if (map.synchronized(map.remove(k, hit))) dropQuietly(onEvict, hit, "revalidate-drop")
      None
    }
  }

  def contains(k: K): Boolean = map.synchronized(map.containsKey(k))
  def size: Int = map.synchronized(map.size())
  def values: Seq[V] = map.synchronized(map.values().toArray.toSeq.map(_.asInstanceOf[V]))

  /** Drop every entry, invoking `onDrop` on each value first (e.g. to
    * unpersist a checkpointed DataFrame's blocks). Entries rebuild on next
    * get(); callers must not retain previously returned values across a
    * clear. This is for explicit lifecycle points (Bench between key
    * families) — steady-state eviction stays LRU-per-insert. A build in
    * flight on another thread inserts after the clear. */
  def clear(onDrop: V => Unit = (_: V) => ()): Int = map.synchronized {
    val n = map.size()
    map.values().forEach(v => dropQuietly(onDrop, v, "drop"))
    map.clear()
    n
  }

  // NonFatal only: a release hook dying of OOM/StackOverflow must not have
  // its first symptom swallowed by the very hook meant to relieve memory
  // pressure. Non-fatal drop failures are logged, not rethrown — release
  // stays a lifecycle hint, never a correctness gate.
  private def dropQuietly(hook: V => Unit, v: V, what: String): Unit =
    try hook(v) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] memo $what hook failed: $e")
    }
}

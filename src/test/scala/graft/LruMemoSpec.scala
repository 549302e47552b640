package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.LruMemo

/** The LruMemo contract behind the Derived artifact store (every
  * family's derived tables share ONE LruMemo) and Tables.planMemo:
  * crossing the capacity bound evicts cold entries one at a time — a live
  * consumer's hot entry is never dropped, unlike the previous
  * clear-all-on-bound behavior — and a build holds only its own key's
  * lock. */
class LruMemoSpec extends AnyFunSuite {

  test("exceeding the bound evicts only the coldest entry, never a hot one") {
    val m = new LruMemo[Int, String](3)
    var builds = 0
    def b(i: Int): String = m.get("m", i) { builds += 1; s"v$i" }
    b(1); b(2); b(3)
    assert(builds == 3 && m.size == 3)
    b(1) // touch: access order is now 2, 3, 1
    b(4) // past capacity: evicts 2 (coldest)
    assert(m.contains(1) && !m.contains(2) && m.contains(3) && m.contains(4))
    b(1)
    assert(builds == 4, "hot entry was rebuilt after unrelated churn")
    // churn far past capacity, touching key 1 before every insert: the
    // live key survives the entire churn
    (10 to 80).foreach { i => b(1); b(i) }
    assert(m.contains(1) && m.size == 3)
  }

  test("capacity eviction fires the onEvict hook exactly once per evicted value") {
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    val m = new LruMemo[Int, String](2, dropped += _)
    def b(i: Int): String = m.get("m", i)(s"v$i")
    b(1); b(2)
    assert(dropped.isEmpty)
    b(3) // evicts 1
    assert(dropped.toSeq == Seq("v1"))
    b(2) // hit — no eviction
    b(4) // evicts 3 (2 was just touched)
    assert(dropped.toSeq == Seq("v1", "v3"))
    // clear releases the remainder through ITS hook; onEvict is not re-run
    val cleared = scala.collection.mutable.ArrayBuffer.empty[String]
    m.clear(cleared += _)
    assert(cleared.sorted == Seq("v2", "v4") && dropped.size == 2)
  }

  test("a throwing onEvict hook does not break the insert that triggered it") {
    val m = new LruMemo[Int, String](1, _ => sys.error("drop hook boom"))
    m.get("m", 1)("v1")
    assert(m.get("m", 2)("v2") == "v2") // eviction hook throws; insert survives
    assert(!m.contains(1) && m.contains(2))
  }

  test("reentrant build: a build may memoize a prerequisite key") {
    // the cluster-label memo builds on the shingle-index memo; a
    // ConcurrentHashMap.computeIfAbsent would throw on this nesting
    val m = new LruMemo[String, Int](4)
    val r = m.get("m", "outer")(m.get("m", "inner")(21) * 2)
    assert(r == 42 && m.contains("inner") && m.contains("outer"))
  }

  test("BuildLog attributes builds per memo tag with nested self-time") {
    import graft.tools.MemoRegistry.BuildLog
    BuildLog.reset()
    BuildLog.setKey("bench_key")
    val inner = new LruMemo[String, Int](4)
    val outer = new LruMemo[String, Int](4)
    // outer's thunk builds inner (the fused-retrieval-frame shape) and
    // then sleeps: the outer bracket's wall CONTAINS inner's, so without
    // self-time subtraction the composite would double-count (r12 advice)
    outer.get("outer_frame", "k") {
      val v = inner.get("inner_idx", "k") { Thread.sleep(60); 21 }
      Thread.sleep(60)
      v * 2
    }
    val snap = BuildLog.snapshot().toMap
    val tags = snap("bench_key").map(t => t._1 -> ((t._2, t._3))).toMap
    assert(tags.keySet == Set("inner_idx", "outer_frame"))
    assert(tags("inner_idx")._1 == 1 && tags("outer_frame")._1 == 1)
    val innerSec = tags("inner_idx")._2
    val outerSec = tags("outer_frame")._2
    assert(innerSec >= 0.05, s"inner self-time $innerSec")
    // outer SELF time excludes inner's ~60ms: ~60ms, never ~120ms
    assert(outerSec >= 0.05 && outerSec < 0.11,
      s"outer self-time $outerSec should exclude the nested build")
    BuildLog.reset()
  }

  test("BuildLog: per-call tags separate stages sharing one memo") {
    import graft.tools.MemoRegistry.BuildLog
    BuildLog.reset()
    BuildLog.setKey("k1")
    val stageMemo = new LruMemo[String, Int](8)
    stageMemo.get("shingles", "shingles")(1)
    stageMemo.get("labels", "labels")(2)
    // an eviction-style REBUILD of the same stage under a later key reads
    // as n=2 on ONE tag — distinguishable from two distinct prerequisites
    BuildLog.setKey("k2")
    stageMemo.get("shingles", "shingles2")(3)
    stageMemo.get("shingles", "shingles3")(4)
    val snap = BuildLog.snapshot().toMap
    assert(snap("k1").map(_._1).sorted == Seq("labels", "shingles"))
    assert(snap("k1").forall(_._2 == 1))
    assert(snap("k2") match {
      case Seq(("shingles", 2, _)) => true
      case _ => false
    })
    // a failed build pops the bracket without recording, and the stack
    // survives for the retry
    intercept[RuntimeException](stageMemo.get("boom", "b")(sys.error("x")))
    assert(stageMemo.get("boom", "b")(7) == 7)
    val snap2 = BuildLog.snapshot().toMap
    assert(snap2("k2").collect { case ("boom", n, _) => n }.sum == 1)
    BuildLog.reset()
  }

  test("revalidate: a stale hit is released and rebuilt, a live hit is served") {
    val dead = scala.collection.mutable.Set.empty[String]
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    var builds = 0
    val m = new LruMemo[Int, String](4, released += _,
      revalidate = v => !dead.contains(v))
    def b(i: Int): String = m.get("m", i) { builds += 1; s"v$i-$builds" }
    assert(b(1) == "v1-1" && b(1) == "v1-1" && builds == 1)
    // simulate executor loss: the cached value's blocks are gone
    dead += "v1-1"
    assert(b(1) == "v1-2", "stale hit was served instead of rebuilt")
    assert(builds == 2 && released.toSeq == Seq("v1-1"),
      "stale value must be released exactly once before the rebuild")
    // the rebuilt value is live again and serves without rebuilding
    assert(b(1) == "v1-2" && builds == 2)
  }

  test("each key builds exactly once under concurrent access") {
    val m = new LruMemo[Int, Int](8)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 8).map(_ => new Thread(() =>
      (1 to 100).foreach(i => m.get("m", i % 4) { builds.incrementAndGet(); i % 4 })))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(builds.get == 4, s"expected 4 builds, got ${builds.get}")
  }

  test("a slow build of one key does not block a hit on an already-built key") {
    import java.util.concurrent.{CompletableFuture, CountDownLatch, TimeUnit}
    val m = new LruMemo[String, Int](4)
    m.get("m", "b")(2)
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val slow = new Thread(() => m.get("m", "a") { started.countDown(); gate.await(); 1 })
    slow.start()
    try {
      assert(started.await(10, TimeUnit.SECONDS))
      val hit = CompletableFuture.supplyAsync[Int](() => m.get("m", "b")(sys.error("rebuilt b")))
      // the hit must not wait for key a's build to finish
      assert(hit.get(5, TimeUnit.SECONDS) == 2)
    } finally {
      gate.countDown()
      slow.join()
    }
    assert(m.get("m", "a")(sys.error("rebuilt a")) == 1)
  }
}

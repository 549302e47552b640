package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import graft.tools.MemoRegistry

trait Workload {
  /** Fixture directory under the fixture root the workload reads. */
  def scale: String
  /** Fixture tables resolved during set-up. */
  def tables: Seq[String]
  def run(r: Run): Result
}

object Workloads {
  def byName(n: String): Workload = n match {
    case "ml_pipeline" => QueryWorkload.mlPipeline
    case "serve_mix" => QueryWorkload.serveMix
    case "table_rw" => TableRw
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Whole passes (cycles, rounds) a run of `seconds` makes: `seconds`
    * divided by the workload's constant, rounded. A run's work is fixed by
    * --seconds, never by how fast this particular run happens to go. */
  def units(seconds: Int, secondsPerPass: Double): Int = math.max(1, math.round(seconds / secondsPerPass).toInt)
}

/** One request of a query workload. */
sealed trait Op { def key: String }
/** A SparkEntry.queries key: build the DataFrame, drain every row. */
final case class Query(key: String, fn: (SparkSession, String) => DataFrame) extends Op
/** A seeded MlPipelines fit, pinned by the metric it returns. */
final case class Fit(key: String, fit: (SparkSession, String) => Double) extends Op

object Drain {
  /** Execute the physical plan as planned and drain every row, as
    * graft.Bench does with `queryExecution.toRdd.count()`; the per-row hash
    * folded in on the way (order-independent sum of UnsafeRow hashes) pins
    * the content across passes. Returns (rows, content hash). */
  def apply(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = qe.executedPlan.schema
    qe.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        h += (it.next() match {
          case u: UnsafeRow => u.hashCode
          case o => proj(o).hashCode
        })
        n += 1
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

/** ml_pipeline and serve_mix: requests are registry keys and fits.
  *
  * Each run starts with an untimed check pass over every op (it doubles as
  * the warm-up): keys with a DuckDB oracle write their result for run.py to
  * compare; keys without one, and fits, are pinned by what they return.
  * Timed executions must reproduce the checked row count and the content
  * hash / fit metric of the first execution. */
final class QueryWorkload(val scale: String, val tables: Seq[String], ops: Seq[Op],
                          releaseEachPass: Boolean, concurrent: Boolean,
                          secondsPerPass: Double) extends Workload {
  private val countPin = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val hashPin = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val fitPin = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val rowsOut = new java.util.concurrent.atomic.LongAdder()

  private def verifyQuery(key: String, res: (Long, Long)): Option[String] = {
    val (n, h) = res
    val c = countPin.get(key)
    val prev = hashPin.putIfAbsent(key, h)
    if (c != null && c.longValue != n) Some(s"drained $n rows, checked ${c.longValue}")
    else if (prev != null && prev.longValue != h) Some("content hash differs from an earlier execution")
    else None
  }

  private def verifyFit(key: String, v: Double): Option[String] = {
    val prev = fitPin.putIfAbsent(key, v)
    if (prev != null && prev.doubleValue.compare(v) != 0) Some(s"fit metric $v, pinned ${prev.doubleValue}")
    else None
  }

  private def execute(r: Run, op: Op): Unit = op match {
    case Query(key, fn) =>
      r.op(key, "query") {
        val df = r.span("operators.build", "operators")(fn(r.spark, r.sf))
        if (r.traced) r.span("session.plan", "session")(df.queryExecution.executedPlan)
        val res = r.span("operators.exec", "operators")(Drain(df))
        if (r.traced) rowsOut.add(res._1)
        res
      }(verifyQuery(key, _))
    case Fit(key, f) =>
      r.op(key, "fit")(r.span("ml.fit", "ml")(f(r.spark, r.sf)))(verifyFit(key, _))
  }

  /** Untimed pass, run by nproc threads (it is mostly cold planning and
    * code generation): returns the oracle checks for run.py and the number
    * of keys pinned here instead. */
  private def checkPass(r: Run, order: Seq[Op]): (Seq[(String, String, String)], Int) = {
    val oracle = graft.SparkEntry.oracleSql
    val checks = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val pinned = new java.util.concurrent.atomic.AtomicInteger()
    def check(op: Op): Unit =
      try op match {
        case Query(key, fn) => oracle.get(key) match {
          case Some(sql) =>
            val dir = s"${r.args.work}/check/$key"
            fn(r.spark, r.sf).coalesce(1).write.mode("overwrite").parquet(dir)
            countPin.put(key, r.spark.read.parquet(dir).count())
            checks.add((key, dir, sql))
          case None =>
            val (n, h) = Drain(fn(r.spark, r.sf))
            countPin.put(key, n); hashPin.put(key, h); pinned.incrementAndGet()
        }
        case Fit(key, f) => fitPin.put(key, f(r.spark, r.sf)); pinned.incrementAndGet()
      } catch {
        case scala.util.control.NonFatal(e) => r.fail(op.key, "check pass: " + Main.describe(e))
      }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try order.map(op => pool.submit(new Runnable { def run(): Unit = check(op) })).foreach(_.get())
    finally pool.shutdown()
    (checks.asScala.toSeq.sortBy(_._1), pinned.get)
  }

  private def confDrift(r: Run, base: Map[String, String]): Int = {
    val now = r.spark.conf.getAll
    (base.keySet ++ now.keySet).count(k => base.get(k) != now.get(k))
  }

  def run(r: Run): Result = {
    val rng = new Random(r.args.seed)
    if (releaseEachPass) MemoRegistry.releaseAll()
    val t0 = System.nanoTime()
    val (checks, pinned) = checkPass(r, rng.shuffle(ops))
    r.extra.put("check_pass_s", (System.nanoTime() - t0) / 1e9)
    val confBase = r.spark.conf.getAll
    var drift = 0
    r.tracer.foreach(t => r.spark.sparkContext.addSparkListener(t.listener))
    r.traceAlternately(ops.map(_.key))
    MemoRegistry.BuildLog.reset()
    val gc0 = Main.gcMs
    var probeGcMs = 0L
    var heapMax = 0.0
    var timed = 0.0
    val passes = Workloads.units(r.args.seconds, secondsPerPass)
    if (concurrent) {
      // nproc closed-loop clients on the shared session; memos stay warm.
      // Each client sends every key once per round, in its own seeded order,
      // so the request mix is the same in every run.
      MemoRegistry.BuildLog.setKey("serve_mix")
      val clients = (0 until Runtime.getRuntime.availableProcessors()).map { i =>
        val crng = new Random(r.args.seed * 7919 + i)
        new Thread(() => for (_ <- 0 until passes; op <- crng.shuffle(ops)) execute(r, op),
          s"perfbench-client-$i")
      }
      val s0 = System.nanoTime()
      clients.foreach(_.start())
      clients.foreach(_.join())
      timed = (System.nanoTime() - s0) / 1e9
      drift = confDrift(r, confBase)
      val (mb, ms) = Main.heapAfterGc()
      heapMax = mb; probeGcMs += ms
    } else {
      // whole passes in seeded order: every run does the same work
      for (p <- 0 until passes) {
        val p0 = System.nanoTime()
        if (releaseEachPass) MemoRegistry.releaseAll()
        MemoRegistry.BuildLog.setKey(s"pass$p")
        rng.shuffle(ops).foreach(execute(r, _))
        timed += (System.nanoTime() - p0) / 1e9
        drift = math.max(drift, confDrift(r, confBase))
        val (mb, ms) = Main.heapAfterGc()
        heapMax = math.max(heapMax, mb); probeGcMs += ms
      }
    }
    r.tracer.foreach(t => r.spark.sparkContext.removeSparkListener(t.listener))
    r.layer.put("session.conf_drift", drift.toDouble)
    r.layer.put("exec.gc_total_s", (Main.gcMs - gc0 - probeGcMs) / 1e3)
    r.layer.put("operators.rows_out_total", rowsOut.sum.toDouble)
    r.extra.put("passes", passes)
    Result(timed, heapMax, checks, pinned)
  }
}

object QueryWorkload {
  import graft.SparkEntry.{queries => registry}
  private def keys(ks: String*): Seq[Op] = ks.map(k => Query(k, registry(k)))

  private val fits: Seq[Op] = Seq(
    Fit("fit_kmeans_embeddings", (s, sf) => graft.ml.MlPipelines.kmeansEmbeddings(s, sf)._1.summary.trainingCost))

  /** LLM-data keys on documents: SimHash (memoized sketch index) and
    * MinHash dedup, quality scoring, text normalization and unigram
    * log-probabilities. With the seeded KMeans fit (memoized vectors) they
    * make up ml_pipeline. */
  val MlKeys: Seq[String] = Seq(
    "llm_dedup_simhash", "llm_quality_score", "llm_dedup_minhash", "llm_normalize_text",
    "llm_unigram_logprob")

  /** serve_mix requests: short star-schema keys (TpchOps, RelationalOps,
    * WindowOps) that build no memo, and short ml_pipeline keys. */
  val ServeKeys: Seq[String] = Seq(
    "tpch_q6_revenue", "tpch_q14_promo", "agg_groupby_q1", "win_rank_dense",
    "llm_dedup_simhash", "llm_quality_score", "llm_normalize_text", "llm_unigram_logprob")

  lazy val mlPipeline = new QueryWorkload("sf0.1", Seq("documents", "embeddings", "events"),
    keys(MlKeys: _*) ++ fits, releaseEachPass = true, concurrent = false, secondsPerPass = 3.3)
  lazy val serveMix = new QueryWorkload("sf0.1", Seq("lineitem", "documents", "embeddings"),
    keys(ServeKeys: _*), releaseEachPass = false, concurrent = true, secondsPerPass = 5.0)
}

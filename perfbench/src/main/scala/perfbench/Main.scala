package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, out: String, traces: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), need("traces"))
  }
}

/** One timed operation as the client saw it. */
final case class Sample(key: String, kind: String, startNs: Long, endNs: Long,
                        ok: Boolean, traced: Boolean) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** State shared by one benchmark run: the session, the op log, the output
  * pins the timed executions are held to, and the optional tracer. */
final class Run(val spark: SparkSession, val sf: String, val args: Args,
                val tracer: Option[Tracer]) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failing = new ConcurrentHashMap[String, String]()
  private val okBy = new ConcurrentHashMap[String, LongAdder]()
  private val failBy = new ConcurrentHashMap[String, LongAdder]()
  private val reqSeq = new java.util.concurrent.atomic.AtomicLong()
  private val runsOf = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  /** Extra per-workload measurements for the report and trace metrics. */
  val extra = new ConcurrentHashMap[String, Any]()
  val layer = new ConcurrentHashMap[String, Any]()

  def fail(key: String, why: String): Unit = failing.putIfAbsent(key, why.take(300))

  /** Off during a workload's untimed warm-up: ops still run and are
    * checked, and a failure still names its key, but no sample is kept. */
  @volatile var recording = true

  /** Start of the first timed op (System.nanoTime), 0 until one starts. */
  val firstOpNs = new java.util.concurrent.atomic.AtomicLong()

  /** Which executions a traced run traces: every key alternates between
    * traced and untraced executions, and a seeded half of `keys` starts
    * untraced, so the paired overhead estimate is not the difference
    * between the first and the later passes. */
  def traceAlternately(keys: Seq[String]): Unit =
    new scala.util.Random(args.seed).shuffle(keys.distinct).zipWithIndex.foreach { case (k, i) =>
      runsOf.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong()).set(i % 2)
    }

  /** Time `body` as one op of `key`, traced or not as traceAlternately
    * decides. `validate` runs after the clock stops; a thrown exception or
    * a validation message fails the op. */
  def op[T](key: String, kind: String)(body: => T)(validate: T => Option[String] = (_: T) => None): Option[T] = {
    val traced = recording && tracer.isDefined &&
      runsOf.computeIfAbsent(key, _ => new java.util.concurrent.atomic.AtomicLong()).getAndIncrement() % 2 == 0
    val t0 = System.nanoTime()
    if (recording) firstOpNs.compareAndSet(0L, t0)
    val res: Either[String, T] =
      try Right(if (traced) tracer.get.request(s"${Thread.currentThread().getId}-${reqSeq.incrementAndGet()}",
        s"op.$kind")(body) else body)
      catch { case NonFatal(e) => Left(Main.describe(e)) }
    val t1 = System.nanoTime()
    val outcome = res.flatMap(v => validate(v).toLeft(v))
    outcome.left.foreach(why => fail(key, if (recording) why else "warm-up: " + why))
    if (!recording) return outcome.toOption
    samples.add(Sample(key, kind, t0, t1, outcome.isRight, traced))
    (if (outcome.isRight) okBy else failBy).computeIfAbsent(key, _ => new LongAdder).increment()
    outcome.toOption
  }

  def traced: Boolean = tracer.exists(_.active)

  def span[T](name: String, layer: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name, layer)(body)
    case None => body
  }

  def opsByKey: Map[String, Map[String, Long]] =
    (okBy.keySet.asScala ++ failBy.keySet.asScala).map { k =>
      k -> Map("ok" -> Option(okBy.get(k)).map(_.sum).getOrElse(0L),
        "failed" -> Option(failBy.get(k)).map(_.sum).getOrElse(0L))
    }.toMap
}

object Main {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".linesIterator.next().take(300)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after forced GCs, in MB. Returns (MB, GC ms it cost).
    * GCs repeat until the heap stops shrinking: Spark's ContextCleaner
    * frees broadcast and shuffle state only after a GC has shown it
    * unreachable, on its own thread. */
  def heapAfterGc(): (Double, Long) = {
    val g0 = gcMs
    def used(): Long = { System.gc(); Thread.sleep(100); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 6) { prev = cur; cur = used(); rounds += 1 }
    (cur / 1048576.0, gcMs - g0)
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Fixture root: where the program's own entry point reads its data
    * (SparkEntry.entry scans <root>/sf0.001/lineitem.parquet). */
  def fixtureRoot(spark: SparkSession): String = {
    val f = graft.SparkEntry.entry(spark).inputFiles.head
    Paths.get(new java.net.URI(f)).getParent.getParent.toString
  }

  /** Session set-up as a user of the engine pays it: the shipped
    * GraftSession at local[nproc], graft.Bench's warm-up, and resolving the
    * workload's tables. */
  def setUp(nproc: Int, scale: String, tables: Seq[String]): (SparkSession, String) = {
    val spark = graft.GraftSession.builder(master = s"local[$nproc]",
      shufflePartitions = nproc).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.tools.LogHygiene.suppressBoundedGrainWindowWarn()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sf = s"${fixtureRoot(spark)}/$scale"
    tables.foreach(t => graft.Tables.load(spark, sf, t).schema)
    (spark, sf)
  }

  def main(argv: Array[String]): Unit = {
    // exit explicitly either way: a failed run must not linger on Spark's
    // non-daemon threads until its caller's timeout
    val code = try { run(Args.parse(argv)); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def run(args: Args): Unit = {
    // nanoTime of the JVM's start: setup_s runs from there to the first
    // timed op, so it covers JVM start, session set-up and the workload's
    // untimed warm-up / check pass
    val startNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = loadAvg()
    val w = Workloads.byName(args.workload)
    val (spark, sf) = setUp(nproc, w.scale, w.tables)
    val sessionS = (System.nanoTime() - startNs) / 1e9
    val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
    val run = new Run(spark, sf, args, tracer)
    val result = w.run(run)
    val load1 = loadAvg()
    val samples = run.samples.asScala.toSeq
    val ok = samples.filter(_.ok)
    val lat = ok.map(_.sec)
    val e2e = Map(
      "setup_s" -> Map("value" -> (run.firstOpNs.get - startNs) / 1e9, "unit" -> "s"),
      "op_p50_s" -> Map("value" -> Stats.quantile(lat, 0.5), "unit" -> "s"),
      "op_p90_s" -> Map("value" -> Stats.quantile(lat, 0.9), "unit" -> "s"),
      "throughput_ops" -> Map("value" -> ok.size / result.timedSeconds, "unit" -> "1/s"),
      "heap_retained_mb" -> Map("value" -> result.heapRetainedMb, "unit" -> "MB"))
    // per-kind latencies: queries (ml_pipeline, serve_mix), writes and
    // reads (table_rw)
    for ((name, kinds) <- Seq("query" -> Set("query", "fit"),
      "write" -> Set("append", "replay", "merge", "delete", "maintain"),
      "read" -> Set("read_eq", "read_range", "read_asof", "changes"))) {
      val xs = ok.filter(s => kinds(s.kind)).map(_.sec)
      if (xs.nonEmpty) {
        run.extra.put(s"${name}_p50_s", Stats.quantile(xs, 0.5))
        run.extra.put(s"${name}_p90_s", Stats.quantile(xs, 0.9))
        run.extra.put(s"${name}_samples", xs.size)
      }
    }
    val perLayer = tracer.map(t => Layers.metrics(run, t, result, samples)).getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(Paths.get(args.traces, s"${args.workload}.spans.jsonl")))
    val rt = Runtime.getRuntime
    val info = Map(
      "nproc" -> nproc, "load_avg_start" -> load0, "load_avg_end" -> load1,
      "heap_max_mb" -> rt.maxMemory / 1048576, "spark_version" -> spark.version,
      "fixtures" -> sf, "session_ready_s" -> sessionS,
      "samples" -> samples.size, "timed_s" -> result.timedSeconds,
      "key_p50_s" -> ok.groupBy(_.key).map { case (k, xs) => k -> Stats.median(xs.map(_.sec)) })
    val json = Json.obj(
      "info" -> info,
      "checks" -> result.checks.map { case (k, dir, sql) => Map("key" -> k, "dir" -> dir, "sql" -> sql) },
      "pinned_keys" -> result.pinned,
      "ops_by_key" -> run.opsByKey,
      "failing" -> run.failing.asScala.toMap,
      "attempted" -> samples.size.toLong,
      "failed" -> samples.count(!_.ok).toLong,
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "extra" -> run.extra.asScala.toMap)
    Files.write(Paths.get(args.out), json.getBytes("UTF-8"))
    spark.stop()
  }
}

/** What a workload's timed phase hands back to Main. */
final case class Result(timedSeconds: Double, heapRetainedMb: Double,
                        checks: Seq[(String, String, String)], pinned: Int)

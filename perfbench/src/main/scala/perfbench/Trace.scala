package perfbench

import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of a traced request. `parent` is the span that was
  * open when this one started (0 for a request's root); spans of one
  * request share `req`. Times are System.nanoTime nanoseconds. */
final case class Span(id: Long, parent: Long, req: String, name: String, layer: String,
                      start: Long, end: Long)

/** Benchmark-side tracing, used only with --trace 1. The program is not
  * instrumented: spans come from timing the benchmark's own calls into each
  * layer, plus one `exec.job` span per Spark job from a listener this file
  * registers. Jobs are tied to their request through two local properties
  * the benchmark sets on the submitting thread. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  // ms-epoch (listener events) to nanoTime (benchmark spans)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  private val current = new ThreadLocal[List[Open]] { override def initialValue() = Nil }

  /** Whether the calling thread is inside a traced request. */
  def active: Boolean = current.get().nonEmpty

  def record(s: Span): Unit = spans.synchronized { spans += s }
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Run `body` as a span of the current thread's open request. */
  def span[T](name: String, layer: String)(body: => T): T = current.get() match {
    case Nil => body
    case stack @ (top :: _) =>
      val id = ids.incrementAndGet()
      current.set(Open(top.req, id) :: stack)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, top.id, top.req, name, layer, t0, System.nanoTime()))
        current.set(stack)
        sc.setLocalProperty(SpanProp, top.id.toString)
      }
  }

  /** Open request `req` (its root span is `name`) on this thread. */
  def request[T](req: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    current.set(List(Open(req, id)))
    sc.setLocalProperty(ReqProp, req)
    sc.setLocalProperty(SpanProp, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      record(Span(id, 0, req, name, "bench", t0, System.nanoTime()))
      current.set(Nil)
      sc.setLocalProperty(ReqProp, null)
      sc.setLocalProperty(SpanProp, null)
    }
  }

  // ------------------------------------------------------------ listener

  /** Counters over tasks of jobs submitted inside a traced request. */
  val taskCpuNs, shuffleWrite, shuffleRead, spill, inputBytes, inputRecords,
    jobs, stages, tasks, taskFailures, slotWaitMs, schedDelayMs = new LongAdder
  /** Executor CPU of every task in the timed phase, traced or not. */
  val allTaskCpuNs = new LongAdder
  private val jobOf = new ConcurrentHashMap[Int, (String, Long, Long)]() // job -> (req, parent span, start ms)
  private val tracedStage = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val req = p.flatMap(x => Option(x.getProperty(ReqProp)))
      req.foreach { r =>
        val parent = p.flatMap(x => Option(x.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
        jobOf.put(e.jobId, (r, parent, e.time))
        jobs.increment()
        e.stageIds.foreach(s => tracedStage.putIfAbsent(s, true))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOf.remove(e.jobId)).foreach { case (req, parent, startMs) =>
        record(Span(ids.incrementAndGet(), parent, req, "exec.job", "exec",
          msToNs(startMs), msToNs(e.time)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      if (tracedStage.remove(id) != null) stages.increment()
      stageSubmitted.remove(id)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      m.foreach(x => allTaskCpuNs.add(x.executorCpuTime))
      if (tracedStage.containsKey(e.stageId)) {
        tasks.increment()
        if (!e.taskInfo.successful) taskFailures.increment()
        Option(stageSubmitted.get(e.stageId)).foreach(s =>
          slotWaitMs.add(math.max(0L, e.taskInfo.launchTime - s)))
        m.foreach { x =>
          // Spark UI's scheduler delay: the part of the task's life that is
          // neither deserializing, running, nor shipping its result
          val i = e.taskInfo
          val fetch = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
          schedDelayMs.add(math.max(0L, i.finishTime - i.launchTime - x.executorRunTime -
            x.executorDeserializeTime - x.resultSerializationTime - fetch))
          taskCpuNs.add(x.executorCpuTime)
          shuffleWrite.add(x.shuffleWriteMetrics.bytesWritten)
          shuffleRead.add(x.shuffleReadMetrics.totalBytesRead)
          spill.add(x.memoryBytesSpilled + x.diskBytesSpilled)
          inputBytes.add(x.inputMetrics.bytesRead)
          inputRecords.add(x.inputMetrics.recordsRead)
        }
      }
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover. */
  def selfSeconds(): Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var hi = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, hi)
        if (b > from) covered += b - from
        hi = math.max(hi, b)
      }
      acc(s.layer) += math.max(0L, s.end - s.start - covered) / 1e9
    }
    acc.toMap
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try allSpans.sortBy(_.start).foreach { s =>
      w.write(Json.obj("id" -> s.id, "parent" -> s.parent, "req" -> s.req, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> (s.start - baseNs), "end_ns" -> (s.end - baseNs)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  private final case class Open(req: String, id: Long)
  val ReqProp = "perfbench.request"
  val SpanProp = "perfbench.span"
}

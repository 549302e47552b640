package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.streaming.StreamingOps
import graft.tables.VersionedTable

/** One row of the table_rw table. */
final case class VtRow(id: Long, v: Double, grp: Int, seq: Long, payload: String) {
  def bytes: Long = 8 + 8 + 4 + 8 + payload.length
}

/** table_rw: one client writing and reading a VersionedTable (stats column
  * `v`, bloom column `id`) in the run's work directory.
  *
  * One cycle is 5 writes and 15 reads. Writes: a micro-batch append through
  * StreamingOps.versionedTableSink, a replay of an earlier batch id through
  * the same sink (must be a no-op), a CDC upsert through cdcMergeSink, a
  * delete, and a maintenance step (optimizeLayout or compact, alternating
  * by cycle, then vacuum). Reads: point (readWhereEq), range (readWhere),
  * time travel (read(asOf)) and change feed (addedBetween). Every read is
  * checked against an in-memory model of the table built from the
  * generated batches, never from the table itself. */
object TableRw extends Workload {
  val scale = "sf0.001"
  val tables: Seq[String] = Nil
  private val InitialRows = 4000
  private val AppendRows = 400
  private val CdcRows = 200
  private val KeepVersions = 6
  private val SecondsPerCycle = 5.0

  def run(r: Run): Result = {
    // An untimed, checked warm-up (each op once, on a table of its own)
    // warms the JIT, code generation and the writer paths before the timed
    // cycles, as the query workloads' check pass does.
    r.recording = false
    cycles(r, new Random(~r.args.seed), "warm-up", 1)
    r.recording = true
    r.tracer.foreach(tr => r.spark.sparkContext.addSparkListener(tr.listener))
    r.traceAlternately(Seq("append", "replay", "merge", "delete", "maintain",
      "read_eq", "read_range", "read_asof", "changes"))
    graft.tools.MemoRegistry.BuildLog.reset()
    val gc0 = Main.gcMs
    val res = cycles(r, new Random(r.args.seed), "t", Workloads.units(r.args.seconds, SecondsPerCycle))
    r.tracer.foreach(tr => r.spark.sparkContext.removeSparkListener(tr.listener))
    r.layer.put("exec.gc_total_s", (Main.gcMs - gc0 - res.probeGcMs) / 1e3)
    res.result
  }

  private final case class Cycles(result: Result, probeGcMs: Long)

  private def cycles(r: Run, rng: Random, name: String, n: Int): Cycles = {
    val spark = r.spark
    import spark.implicits._
    val root = Paths.get(r.args.work, "table_rw", name)
    var nextId = 0L
    var seq = 0L
    def fresh(n: Int): Seq[VtRow] = Seq.fill(n) {
      nextId += 1; seq += 1
      VtRow(nextId, rng.nextDouble() * 1000, rng.nextInt(50), seq, rng.alphanumeric.take(16 + rng.nextInt(48)).mkString)
    }
    def frame(rows: Seq[VtRow]): DataFrame = rows.toDF().repartition(2)
    def decode(rows: Array[Row]): Seq[VtRow] = rows.toSeq.map(x =>
      VtRow(x.getAs[Long]("id"), x.getAs[Double]("v"), x.getAs[Int]("grp"), x.getAs[Long]("seq"), x.getAs[String]("payload")))

    // ---- model and table
    var snap: Map[Long, VtRow] = fresh(InitialRows).map(x => x.id -> x).toMap
    val c0 = System.nanoTime()
    val t = VersionedTable.create(spark, root.toString, frame(snap.values.toSeq.sortBy(_.id)),
      statsCol = Some("v"), bloomCol = Some("id"))
    r.extra.put("create_s", (System.nanoTime() - c0) / 1e9)
    val model = mutable.Map(t.currentVersion -> snap)
    val appendSink = StreamingOps.versionedTableSink(t, "ingest")
    val cdcSink = StreamingOps.cdcMergeSink(t, "id", "seq")
    val sent = mutable.ArrayBuffer.empty[(Long, Seq[VtRow])]
    var userBytes = snap.values.map(_.bytes).sum
    val seen = mutable.Set.empty[Path]
    var bytesWritten = 0L
    def newDataBytes(): Long = {
      val s = Files.walk(root.resolve("data"))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .filter(seen.add).map(Files.size).sum
      finally s.close()
    }
    bytesWritten += newDataBytes()
    def treeBytes(p: Path): Long = {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

    var replays, replayNoops, done = 0
    var prunedFiles, liveFiles = 0L
    var heapMax = 0.0
    var probeGcMs = 0L
    val storageAmp = mutable.ArrayBuffer.empty[Double]
    def sameRows(got: Seq[VtRow], want: Iterable[VtRow]): Option[String] = {
      val (g, w) = (got.sortBy(_.id), want.toSeq.sortBy(_.id))
      if (g == w) None
      else Some(s"read returned ${g.size} rows, model has ${w.size}" +
        g.zipAll(w, null, null).find(p => p._1 != p._2).map(p => s"; first difference ${p._1} vs ${p._2}").getOrElse(""))
    }
    def commit(): Unit = model(t.currentVersion) = snap

    def append(): Unit = {
      val rows = fresh(AppendRows)
      val id = sent.size.toLong
      sent += id -> rows
      r.op("append", "append")(r.span("streaming.sink", "streaming")(appendSink(frame(rows), id)))(_ => None)
      snap ++= rows.map(x => x.id -> x); userBytes += rows.map(_.bytes).sum
      commit()
    }
    def replay(): Unit = {
      val (id, rows) = sent(rng.nextInt(sent.size))
      val v0 = t.currentVersion
      replays += 1
      r.op("replay", "replay")(r.span("streaming.sink", "streaming")(appendSink(frame(rows), id)))(_ =>
        if (t.currentVersion == v0) { replayNoops += 1; None } else Some("replayed batch committed a new version"))
    }
    def merge(): Unit = {
      // upserts of existing ids plus new ids; some ids twice in one batch,
      // where the higher seq must win
      val ids = snap.keys.toIndexedSeq
      val upd = Seq.fill(CdcRows * 3 / 4) {
        seq += 1
        val id = ids(rng.nextInt(ids.size))
        VtRow(id, rng.nextDouble() * 1000, rng.nextInt(50), seq, rng.alphanumeric.take(16 + rng.nextInt(48)).mkString)
      } ++ fresh(CdcRows / 4)
      val latest = upd.groupBy(_.id).values.map(_.maxBy(_.seq))
      r.op("merge", "merge")(r.span("streaming.sink", "streaming")(cdcSink(frame(upd), seq)))(_ => None)
      snap ++= latest.map(x => x.id -> x); userBytes += upd.map(_.bytes).sum
      commit()
    }
    def delete(): Unit = {
      val g = rng.nextInt(50)
      r.op("delete", "delete")(r.span("vt.delete", "vt")(t.delete(col("grp") === g)))(_ => None)
      snap = snap.filter(_._2.grp != g)
      commit()
    }
    def maintain(): Unit = {
      val optimize = done % 2 == 0
      r.op("maintain", "maintain")(r.span("vt.maintain", "vt") {
        if (optimize) t.optimizeLayout("v", 8) else t.compact(4)
        t.vacuum(keepVersions = KeepVersions, retentionMs = 0)
      })(_ => None)
      commit()
      val live = t.versions.toSet
      model.keys.filterNot(live).foreach(model.remove)
      storageAmp += treeBytes(root).toDouble / snap.values.map(_.bytes).sum
    }

    def readEq(): Unit = {
      val key = if (rng.nextDouble() < 0.8) snap.keys.drop(rng.nextInt(snap.size)).head
        else 1 + (rng.nextDouble() * nextId).toLong
      r.op("read_eq", "read_eq")(r.span("vt.read", "vt")(t.readWhereEq(key).collect()))(x =>
        sameRows(decode(x), snap.get(key)))
      prunedFiles += t.pruneFilesEq(key).size; liveFiles += t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size
    }
    def readRange(): Unit = {
      val lo = rng.nextDouble() * 980
      val hi = lo + 20
      r.op("read_range", "read_range")(r.span("vt.read", "vt")(t.readWhere(lo, hi).collect()))(x =>
        sameRows(decode(x), snap.values.filter(y => y.v >= lo && y.v <= hi)))
      prunedFiles += t.pruneFiles(lo, hi).size; liveFiles += t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size
    }
    def readAsOf(): Unit = {
      val versions = model.keys.toIndexedSeq.sorted
      val v = versions(rng.nextInt(versions.size))
      r.op("read_asof", "read_asof")(r.span("vt.read", "vt")(t.read(Some(v)).collect()))(x =>
        sameRows(decode(x), model(v).values))
    }
    def changes(): Unit = {
      val versions = model.keys.toIndexedSeq.sorted
      val i = rng.nextInt(versions.size - 1)
      val (v1, v2) = (versions(i), versions(i + 1 + rng.nextInt(versions.size - 1 - i)))
      r.op("changes", "changes")(r.span("vt.read", "vt")(t.addedBetween(v1, v2).collect()))(x => {
        // file-granular change feed: every row new in v2 is returned, and
        // every returned row belongs to v2
        val got = decode(x)
        val (m1, m2) = (model(v1), model(v2))
        val missing = m2.values.count(y => !m1.get(y.id).contains(y) && !got.contains(y))
        val foreign = got.count(y => !m2.get(y.id).contains(y))
        if (missing == 0 && foreign == 0) None
        else Some(s"addedBetween($v1,$v2): $missing new rows missing, $foreign rows not in v$v2")
      })
    }

    // The op schedule is fixed so every run does the same mix of work; the
    // seed sets the batches, keys, predicates, versions and replays. The
    // warm-up runs each op once.
    val cycle: Seq[() => Unit] = if (!r.recording)
      Seq(append _, readEq _, readRange _, readAsOf _, merge _, changes _, replay _, delete _, maintain _)
    else Seq(append _, readEq _, readRange _, readAsOf _, merge _, readEq _,
      changes _, readRange _, replay _, readAsOf _, readEq _, changes _, delete _, readRange _,
      readAsOf _, readEq _, maintain _, readRange _, readAsOf _, changes _)

    // whole cycles, like the query workloads' passes. Single client: its
    // timed phase is the sum of its ops (the model upkeep and file walks
    // between ops are the benchmark's work, not the table's)
    for (_ <- 0 until n) {
      cycle.foreach(_())
      done += 1
      if (r.recording) {
        val (mb, ms) = Main.heapAfterGc()
        heapMax = math.max(heapMax, mb); probeGcMs += ms
      }
    }
    val timed = r.samples.asScala.map(_.sec).sum
    r.layer.put("vt.files_live", t.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity).size.toDouble)
    r.layer.put("vt.files_scanned_ratio", if (liveFiles == 0) 0.0 else prunedFiles.toDouble / liveFiles)
    r.layer.put("vt.write_amp", bytesWritten.toDouble / userBytes)
    r.layer.put("vt.versions", t.versions.size.toDouble)
    r.layer.put("streaming.replay_noop_ratio", if (replays == 0) 1.0 else replayNoops.toDouble / replays)
    r.extra.put("storage_amp", storageAmp.last)
    r.extra.put("storage_amp_by_cycle", storageAmp.toList)
    r.extra.put("cycles", done)
    r.extra.put("table_rows", snap.size)
    Cycles(Result(timed, heapMax, Nil, 0), probeGcMs)
  }
}

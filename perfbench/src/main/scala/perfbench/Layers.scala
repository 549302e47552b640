package perfbench

import graft.tools.MemoRegistry

/** Per-layer metrics of a traced run. Unless a name says otherwise, `_s`,
  * `_bytes` and count metrics are means per traced op; memo metrics are
  * workload totals over the timed phase (BuildLog has one global key, so
  * under serve_mix's concurrent clients a build cannot be pinned to one
  * request); ml.fit_s, vt.*_s and streaming.sink_batch_s are mean latencies
  * of every op of that kind. Every metric is
  * reported on every workload, 0 where the layer is not used. */
object Layers {
  /** name -> unit, in BENCHMARK.json's order. */
  val Units: Seq[(String, String)] = Seq(
    "session.plan_s" -> "s", "session.plan_share" -> "ratio", "session.conf_drift" -> "count",
    "session.self_s" -> "s",
    "operators.build_s" -> "s", "operators.exec_s" -> "s", "operators.rows_out" -> "rows",
    "operators.self_s" -> "s",
    "tables.input_bytes" -> "bytes", "tables.records_read" -> "count", "tables.read_amp" -> "ratio",
    "memo.builds" -> "count", "memo.build_s" -> "s", "memo.builds_per_query" -> "ratio",
    "memo.rebuilds" -> "count",
    "exec.task_cpu_s" -> "s", "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.sched_delay_s" -> "s", "exec.slot_wait_s" -> "s", "exec.cpu_util" -> "ratio",
    "exec.gc_s" -> "s", "exec.task_failures" -> "count", "exec.self_s" -> "s",
    "ml.fit_s" -> "s", "ml.jobs_per_fit" -> "count", "ml.self_s" -> "s",
    "vt.append_s" -> "s", "vt.merge_s" -> "s", "vt.delete_s" -> "s", "vt.maintain_s" -> "s",
    "vt.read_eq_s" -> "s", "vt.read_range_s" -> "s", "vt.read_asof_s" -> "s", "vt.changes_s" -> "s",
    "vt.files_live" -> "count", "vt.files_scanned_ratio" -> "ratio", "vt.write_amp" -> "ratio",
    "vt.versions" -> "count", "vt.self_s" -> "s",
    "streaming.sink_batch_s" -> "s", "streaming.replay_noop_ratio" -> "ratio", "streaming.self_s" -> "s",
    "trace.overhead_s" -> "s", "trace.overhead_share" -> "ratio", "trace.ops" -> "count")

  def metrics(r: Run, t: Tracer, res: Result, samples: Seq[Sample]): Map[String, Map[String, Any]] = {
    val traced = samples.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val spans = t.allSpans
    def spanSum(name: String): Double = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
    // op latencies by kind come from the benchmark's own timer, so they
    // use every op, traced or not
    def meanOf(kinds: String*): Double = {
      val xs = samples.filter(s => kinds.contains(s.kind) && s.ok).map(_.sec)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def layerVal(k: String): Double = Option(r.layer.get(k)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    val queries = traced.filter(_.kind == "query")
    val nq = math.max(1, queries.size).toDouble
    val querySec = queries.map(_.sec).sum
    val fitIds = spans.filter(_.name == "ml.fit").map(_.id).toSet
    val fitJobs = spans.count(s => s.name == "exec.job" && fitIds(s.parent))
    val rows = layerVal("operators.rows_out_total")
    val builds = MemoRegistry.BuildLog.snapshot().flatMap(_._2)
    val self = t.selfSeconds()
    // tracing overhead, paired by key: mean traced vs untraced latency of
    // each key that ran both ways
    val pairs = samples.filter(_.ok).groupBy(_.key).values.flatMap { xs =>
      val (a, b) = xs.partition(_.traced)
      if (a.isEmpty || b.isEmpty) None
      else Some((a.map(_.sec).sum / a.size, b.map(_.sec).sum / b.size))
    }
    val overhead = if (pairs.isEmpty) 0.0 else pairs.map(p => p._1 - p._2).sum / pairs.size
    val overheadShare = if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum - 1
    val nproc = Runtime.getRuntime.availableProcessors()
    val v: Map[String, Double] = Map(
      "session.plan_s" -> spanSum("session.plan") / nq,
      "session.plan_share" -> (if (querySec > 0) spanSum("session.plan") / querySec else 0.0),
      "session.conf_drift" -> layerVal("session.conf_drift"),
      "session.self_s" -> self.getOrElse("session", 0.0) / n,
      "operators.build_s" -> spanSum("operators.build") / nq,
      "operators.exec_s" -> spanSum("operators.exec") / nq,
      "operators.rows_out" -> rows / nq,
      "operators.self_s" -> self.getOrElse("operators", 0.0) / n,
      "tables.input_bytes" -> t.inputBytes.sum / n,
      "tables.records_read" -> t.inputRecords.sum / n,
      "tables.read_amp" -> (if (rows > 0) t.inputRecords.sum / rows else 0.0),
      "memo.builds" -> builds.map(_._2).sum.toDouble,
      "memo.build_s" -> builds.map(_._3).sum,
      "memo.builds_per_query" -> builds.map(_._2).sum.toDouble / math.max(1, samples.size),
      "memo.rebuilds" -> builds.map(b => math.max(0, b._2 - 1)).sum.toDouble,
      "exec.task_cpu_s" -> t.taskCpuNs.sum / 1e9 / n,
      "exec.shuffle_write_bytes" -> t.shuffleWrite.sum / n,
      "exec.shuffle_read_bytes" -> t.shuffleRead.sum / n,
      "exec.spill_bytes" -> t.spill.sum / n,
      "exec.jobs" -> t.jobs.sum / n,
      "exec.stages" -> t.stages.sum / n,
      "exec.tasks" -> t.tasks.sum / n,
      "exec.sched_delay_s" -> t.schedDelayMs.sum / 1e3 / n,
      "exec.slot_wait_s" -> t.slotWaitMs.sum / 1e3 / n,
      "exec.cpu_util" -> t.allTaskCpuNs.sum / 1e9 / (res.timedSeconds * nproc),
      "exec.gc_s" -> layerVal("exec.gc_total_s") / math.max(1, samples.size),
      "exec.task_failures" -> t.taskFailures.sum.toDouble,
      "exec.self_s" -> self.getOrElse("exec", 0.0) / n,
      "ml.fit_s" -> meanOf("fit"),
      "ml.jobs_per_fit" -> fitJobs.toDouble / math.max(1, fitIds.size),
      "ml.self_s" -> self.getOrElse("ml", 0.0) / n,
      "vt.append_s" -> meanOf("append"),
      "vt.merge_s" -> meanOf("merge"),
      "vt.delete_s" -> meanOf("delete"),
      "vt.maintain_s" -> meanOf("maintain"),
      "vt.read_eq_s" -> meanOf("read_eq"),
      "vt.read_range_s" -> meanOf("read_range"),
      "vt.read_asof_s" -> meanOf("read_asof"),
      "vt.changes_s" -> meanOf("changes"),
      "vt.files_live" -> layerVal("vt.files_live"),
      "vt.files_scanned_ratio" -> layerVal("vt.files_scanned_ratio"),
      "vt.write_amp" -> layerVal("vt.write_amp"),
      "vt.versions" -> layerVal("vt.versions"),
      "vt.self_s" -> self.getOrElse("vt", 0.0) / n,
      "streaming.sink_batch_s" -> meanOf("append", "merge", "replay"),
      "streaming.replay_noop_ratio" -> layerVal("streaming.replay_noop_ratio"),
      "streaming.self_s" -> self.getOrElse("streaming", 0.0) / n,
      "trace.overhead_s" -> overhead,
      "trace.overhead_share" -> overheadShare,
      "trace.ops" -> traced.size.toDouble)
    Units.map { case (k, u) =>
      k -> Map[String, Any]("value" -> (if (v(k).isNaN) 0.0 else v(k)), "unit" -> u)
    }.toMap
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Executor-LOSS recovery, proven by actually killing executors. The
  * checkpoint-memoized derived tables (geo pairs, graph edges, LLM stage
  * frames) are `localCheckpoint(true)` — no lineage, so when an executor
  * dies its blocks are unrecoverable and any action on the stale frame
  * fails with missing-block errors. The memo layer's rebuild-on-miss
  * path ([[Derived]] revalidation → CheckpointRelease.isLive) exists to
  * turn that into one transparent rebuild; this tool closes the loop with
  * a real kill instead of a simulated one:
  *
  *   1. under local-cluster[2,4,2048], run two graded keys whose plans
  *      read checkpoint-memoized artifacts — geo_radius_join (a bare
  *      pair frame) and llm_bpe_encode (the tuple-valued BPE model, whose
  *      segmentation frame is checkpointed) — and fingerprint them;
  *   2. `kill -9` EVERY executor JVM of this app (found via
  *      /proc/&#42;/cmdline by app id — both, so no block can survive on
  *      a sibling), and wait for the standalone Worker to relaunch them;
  *   3. wait until the driver's block-manager metadata reports both
  *      memoized frames incomplete (CheckpointRelease.isLive == false);
  *   4. re-run the SAME keys in the SAME session: each memo hit must
  *      revalidate false, release the husk, rebuild on the replacement
  *      executors, and return the identical result;
  *   5. assert the BuildLog recorded each rebuild as a same-tag second
  *      build (geo_radius_pairs, bpe_train) — the exact signature
  *      BENCH_FULL's tagged memo_builds makes visible to an operator
  *      watching executor churn.
  *
  * Same environment contract as [[ClusterCheck]].
  *
  * Usage: sbt "runMain graft.tools.ClusterKillCheck [sfDir]"
  */
object ClusterKillCheck {
  private def executorPids(appId: String): Seq[Int] = {
    val procs = new java.io.File("/proc").listFiles()
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
    procs.flatMap { d =>
      val cmdline = try {
        val p = java.nio.file.Paths.get(d.getPath, "cmdline")
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8").replace('\u0000', ' ')
      } catch { case _: Throwable => "" }
      if (cmdline.contains("CoarseGrainedExecutorBackend") && cmdline.contains(appId))
        Some(d.getName.toInt)
      else None
    }.toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val jar = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
    val spark = graft.GraftSession.builder(master = "local-cluster[2,4,2048]",
        shufflePartitions = 8)
      .config("spark.executor.extraClassPath", jar)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      LogHygiene.suppressBoundedGrainWindowWarn()
      spark.range(0L, 1000000L, 1L, 8).selectExpr("sum(id)").collect()
      require(spark.sparkContext.getExecutorMemoryStatus.size >= 3,
        "local-cluster did not register 2 executors")
      val appId = spark.sparkContext.applicationId
      MemoRegistry.BuildLog.reset()
      MemoRegistry.BuildLog.setKey("kill_check")

      // key → the memo tag it builds
      val checked = Seq("geo_radius_join" -> "geo_radius_pairs", "llm_bpe_encode" -> "bpe_train")
      def fingerprint(key: String): Seq[String] =
        graft.SparkEntry.queries(key)(spark, sfDir)
          .collect().map(_.toString).sorted.toSeq
      // builds + consumes the memoized artifacts
      val before = checked.map { case (k, _) => k -> fingerprint(k) }.toMap
      // the memoized frames, captured BEFORE the kill: fetching them
      // afterwards would already revalidate and rebuild
      val frames = Seq(graft.operators.GeoOps.radiusPairs(spark, sfDir),
        graft.operators.LlmTextOps.bpeTrainCore(spark, sfDir)._2)
      val rows = checked.map { case (k, _) => s"${Json.quote(k)}:${before(k).length}" }
        .mkString(",")
      println(s"[kill-check] baseline rows={$rows}")

      val victims = executorPids(appId)
      require(victims.size >= 2, s"expected 2 executor JVMs, found $victims")
      victims.foreach(pid => Runtime.getRuntime.exec(
        Array("kill", "-9", pid.toString)).waitFor())
      println(s"[kill-check] killed executors pid=${victims.mkString(",")}")

      // the frames' blocks must now be reported incomplete; poll because
      // block-manager deregistration is asynchronous with the kill
      def anyLive = frames.exists(org.apache.spark.sql.graftnative.CheckpointRelease.isLive)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (anyLive && System.nanoTime() < deadline) Thread.sleep(500)
      require(!anyLive, "block-manager metadata never reported the killed executors' blocks lost")
      println("[kill-check] memoized frames reported dead (blocks lost)")

      // same session, same keys: must rebuild transparently and agree.
      // (the scheduler itself waits for the Worker's replacement
      // executors, so no explicit re-registration poll is needed)
      checked.foreach { case (k, tag) =>
        val after = fingerprint(k)
        require(after == before(k),
          s"$k: post-kill result diverged: ${after.length} vs ${before(k).length} rows")
        val n = MemoRegistry.BuildLog.snapshot().toMap
          .getOrElse("kill_check", Seq.empty)
          .collect { case (`tag`, c, _) => c }.sum
        require(n == 2, s"$k: expected the rebuild as a same-tag second $tag build, saw n=$n")
      }
      println("[kill-check] rebuilt on replacement executors; results identical")
      val rebuilds = checked.map { case (_, tag) => s"${Json.quote(tag)}:1" }.mkString(",")
      println(s"""[kill-check-summary] {"killed":${victims.size},"rebuilds":{$rebuilds},""" +
        s""""rows":{$rows},"match":true,"sf":"$sfDir"}""")
    } finally spark.stop()
  }
}

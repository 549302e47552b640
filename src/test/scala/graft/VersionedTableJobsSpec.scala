package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tables.VersionedTable

/** Spark jobs per VersionedTable operation on a small table that keeps
  * both stats and bloom entries. A read plans from the manifest alone
  * (its files, their sizes and the schema: no inference or listing job,
  * whatever the file count), and the parquet write job fills the entries
  * of the files it writes, which commit inside the manifest, so a
  * commit's one sidecar pass is its write job: append and compact run
  * one job, delete adds one to find its touched files. Merge's join runs
  * inside its write job while the table fits in one task
  * ([[graft.SmallPlanRule]]), and adds two shuffle jobs above that
  * threshold. A count that rises means a job came back; a count that falls is
  * a gain to pin here. */
class VersionedTableJobsSpec extends SparkTestBase {

  private def rows(s: SparkSession, ids: Range) = {
    import s.implicits._
    ids.map(i => (i.toLong, i * 10.0, s"n$i")).toDF("id", "score", "name")
  }

  /** Jobs per operation, in order, on a 100-row table of 4 files created
    * on session `s`, and the table. */
  private def opJobs(s: SparkSession): (VersionedTable, Seq[(String, Int)]) = {
    val root = Files.createTempDirectory("graft_vt_jobs").resolve("t").toString
    val t = VersionedTable.create(s, root, rows(s, 0 until 100).repartition(4),
      statsCol = Some("score"), bloomCol = Some("id"))
    (t, Seq(
      "read" -> jobs(t.read().collect()),
      "readWhere" -> jobs(t.readWhere(0, 200).collect()),
      "readWhereEq" -> jobs(t.readWhereEq(7L).collect()),
      "append" -> jobs(t.append(rows(s, 100 until 120))),
      "addedBetween" -> jobs(t.addedBetween(0, 1).collect()),
      "delete" -> jobs(t.delete(col("id") === 7)),
      "merge" -> jobs(t.merge(rows(s, 4 until 7).withColumn("name", lit("m")), "id")),
      "compact" -> jobs(t.compact())))
  }

  test("jobs per table operation: reads run one job, commits one sidecar pass") {
    val (t, counts) = opJobs(spark)
    // merge's full-outer join fits in one task, so it runs in its write job
    assert(counts == Seq("read" -> 1, "readWhere" -> 1, "readWhereEq" -> 1,
      "append" -> 1, "addedBetween" -> 1, "delete" -> 2, "merge" -> 1, "compact" -> 1),
      counts.mkString(", "))
    // the counts are of real work: every commit published both kinds of
    // entries in its manifest and the table holds what the operations say
    val v = t.currentVersion
    assert(v == 4)
    val head = new String(Files.readAllBytes(Paths.get(t.root, "_manifests", f"v$v%08d.json")), "UTF-8")
    for (field <- Seq("\"statsCol\":\"score\"", "\"mins\":[", "\"maxs\":[",
        "\"bloomCol\":\"id\"", "\"blooms\":[\""))
      assert(head.contains(field), field)
    assert(t.pruneFiles(2000.0, 3000.0).isEmpty && t.pruneFilesEq(5000L).isEmpty)
    val out = t.read().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.size == 119 && !out.contains(7L) && out(5L) == "m" && out(119L) == "n119")
  }

  test("above the one-task threshold, merge runs its join's shuffle jobs") {
    val (t, counts) = opJobs(largeInputSpark)
    assert(counts == Seq("read" -> 1, "readWhere" -> 1, "readWhereEq" -> 1,
      "append" -> 1, "addedBetween" -> 1, "delete" -> 2, "merge" -> 3, "compact" -> 1),
      counts.mkString(", "))
    val out = t.read().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.size == 119 && !out.contains(7L) && out(5L) == "m" && out(119L) == "n119")
  }

  test("a read over more than 32 files runs one job: Spark lists no files") {
    // 32 paths is where Spark's own file listing turns into a job
    // (spark.sql.sources.parallelPartitionDiscovery.threshold)
    val root = Files.createTempDirectory("graft_vt_jobs40").resolve("t").toString
    val t = VersionedTable.create(spark, root, rows(spark, 0 until 400).repartition(40),
      statsCol = Some("score"), bloomCol = Some("id"))
    assert(t.read().inputFiles.length == 40)
    val counts = Seq(
      "read" -> jobs(t.read().collect()),
      "readWhere" -> jobs(t.readWhere(0, 200).collect()),
      "readWhereEq" -> jobs(t.readWhereEq(7L).collect()))
    assert(counts == Seq("read" -> 1, "readWhere" -> 1, "readWhereEq" -> 1), counts.mkString(", "))
  }
}

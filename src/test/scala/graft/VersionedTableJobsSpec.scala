package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.tables.VersionedTable

/** Spark jobs per VersionedTable operation on a small table that keeps
  * both stats and bloom entries. A read plans against the schema in one
  * data file's footer (no inference job), and the parquet write job fills
  * the entries of the files it writes, which commit inside the manifest,
  * so a commit's one sidecar pass is its write job: append and compact
  * run one job, delete adds one to find its touched files, merge two for
  * its join. A count that rises means a job came back; a count that
  * falls is a gain to pin here. */
class VersionedTableJobsSpec extends SparkTestBase {
  import spark.implicits._

  private val Prop = "graft.test.vtJobs"

  /** Jobs started while `body` runs on this thread: a listener counts the
    * jobs that carry this call's local property, so jobs of other threads
    * never count. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Prop) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(Prop, tag)
    try body
    finally {
      sc.setLocalProperty(Prop, null)
      ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    n.get
  }

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, i * 10.0, s"n$i")).toDF("id", "score", "name")

  test("jobs per table operation: reads run one job, commits one sidecar pass") {
    val root = Files.createTempDirectory("graft_vt_jobs").resolve("t").toString
    val t = VersionedTable.create(spark, root, rows(0 until 100).repartition(4),
      statsCol = Some("score"), bloomCol = Some("id"))
    val counts = Seq(
      "read" -> jobs(t.read().collect()),
      "readWhere" -> jobs(t.readWhere(0, 200).collect()),
      "readWhereEq" -> jobs(t.readWhereEq(7L).collect()),
      "append" -> jobs(t.append(rows(100 until 120))),
      "addedBetween" -> jobs(t.addedBetween(0, 1).collect()),
      "delete" -> jobs(t.delete(col("id") === 7)),
      "merge" -> jobs(t.merge(rows(4 until 7).withColumn("name", lit("m")), "id")),
      "compact" -> jobs(t.compact()))
    assert(counts == Seq("read" -> 1, "readWhere" -> 1, "readWhereEq" -> 1,
      "append" -> 1, "addedBetween" -> 1, "delete" -> 2, "merge" -> 3, "compact" -> 1),
      counts.mkString(", "))
    // the counts are of real work: every commit published both kinds of
    // entries in its manifest and the table holds what the operations say
    val v = t.currentVersion
    assert(v == 4)
    val head = new String(Files.readAllBytes(Paths.get(root, "_manifests", f"v$v%08d.json")), "UTF-8")
    for (field <- Seq("\"statsCol\":\"score\"", "\"mins\":[", "\"maxs\":[",
        "\"bloomCol\":\"id\"", "\"blooms\":[\""))
      assert(head.contains(field), field)
    assert(t.pruneFiles(2000.0, 3000.0).isEmpty && t.pruneFilesEq(5000L).isEmpty)
    val out = t.read().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out.size == 119 && !out.contains(7L) && out(5L) == "m" && out(119L) == "n119")
  }
}

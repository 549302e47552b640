package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.BloomBridge
import org.apache.spark.sql.types._
import graft.tables.VersionedTable

/** What a VersionedTable keeps beside its data: the schema a read plans
  * with (taken from a data file's footer, not inferred by a Spark job),
  * the per-file stats and bloom entries of each version's manifest
  * (filled by the parquet write job for the files it writes, never by a
  * second read, and committed by the same link as the file list), the
  * entry-column checks at create, and vacuum leaving one manifest per
  * kept version. */
class VersionedTableSidecarSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt_side").resolve("t").toString

  private def manifests(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root, "_manifests"))
    try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  /** The data files of the current snapshot, as Spark spells them. */
  private def files(t: VersionedTable): Seq[String] = t.read().inputFiles.toSeq

  test("read schema from the footer equals Spark's inferred schema, after every operation") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(38, 18)),
      StructField("s", StringType, nullable = false),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("arr", ArrayType(IntegerType, containsNull = false)),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType, nullable = false), StructField("b", StringType)))),
      StructField("m", MapType(StringType, IntegerType))))
    def df(ids: Range): DataFrame = spark.createDataFrame(ids.map(i => Row(
      i.toLong, i * 1.5, new java.math.BigDecimal(s"$i.123456789012345678"), s"s$i",
      java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
      java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(i)),
      java.time.LocalDateTime.of(2021, 6, 1, 12, 0).plusMinutes(i),
      Seq(i, i + 1), Row(i, if (i % 3 == 0) null else s"b$i"),
      Map("k" -> i))).asJava, schema).repartition(2)
    val t = VersionedTable.create(spark, freshRoot(), df(0 until 20), statsCol = Some("d"))
    def check(op: String): Unit = {
      val inferred = spark.read.parquet(files(t): _*).schema
      assert(t.read().schema == inferred, s"after $op")
    }
    check("create")
    t.append(df(20 until 30)); check("append")
    t.merge(df(25 until 35), "id"); check("merge")
    t.delete(col("id") === 3); check("delete")
    t.compact(); check("compact")
    t.optimizeLayout("id", numFiles = 3); check("optimizeLayout")
    assert(t.read().count() == 34)
    assert(t.read().filter(col("id") === 21).select("ntz").head().get(0) ==
      java.time.LocalDateTime.of(2021, 6, 1, 12, 21))
  }

  /** `file -> value` of one entry array of version `v`'s manifest: the
    * array aligns with `files`, and a file without an entry holds `null`. */
  private def sidecar(root: String, v: Int, field: String): Map[String, String] = {
    val s = new String(Files.readAllBytes(Paths.get(root, "_manifests", f"v$v%08d.json")), "UTF-8")
    def arr(f: String): Seq[String] =
      s.split("\"" + f + "\":\\[", 2)(1).split("]", 2)(0)
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    val fs = arr("files")
    val values = arr(field)
    assert(values.size == fs.size, s"v$v: $field does not align with files")
    fs.zip(values).filter(_._2 != "null").toMap
  }

  private def local(uri: String): String =
    java.net.URLDecoder.decode(
      uri.stripPrefix("file://").stripPrefix("file:").replace("+", "%2B"), "UTF-8")

  test("one-pass sidecars equal a per-file reference aggregate, NULL/NaN/-0.0 files included") {
    import spark.implicits._
    val root = freshRoot()
    // one file per batch, so each edge case owns a file
    def batch(rows: Seq[(Option[Long], Option[Double])]): DataFrame =
      rows.toDF("k", "v").coalesce(1)
    val t = VersionedTable.create(spark, root,
      batch((0 until 50).map(i => (Some(i.toLong), Some(i * 2.5)))),
      statsCol = Some("v"), bloomCol = Some("k"))
    t.append(batch((50 until 60).map(i => (Some(i.toLong), None))))            // all-NULL stats
    t.append(batch(Seq((Some(60L), Some(Double.NaN)), (Some(61L), Some(1.0))))) // NaN
    t.append(batch(Seq((Some(62L), Some(-0.0)), (Some(63L), Some(0.0)))))       // -0.0 and 0.0
    t.append(batch(Seq((None, Some(5.0)), (None, Some(7.0)))))                  // all-NULL key
    t.delete(col("k") === 3)
    t.merge(batch(Seq((Some(61L), Some(Double.NaN)), (Some(64L), Some(-0.0)))), "k")

    for (v <- t.versions) {
      val fs = t.read(Some(v)).inputFiles.toSeq
      val ref = spark.read.parquet(fs: _*).groupBy(input_file_name())
        .agg(min(col("v").cast("double")), max(col("v").cast("double")),
          BloomBridge.bloomFilterAgg(col("k"), 65536L / 10, 65536L))
        .collect().map(r => local(r.getString(0)) -> r).toMap
      val refStats = ref.collect { case (f, r) if !r.isNullAt(1) =>
        f -> (r.getDouble(1).toString, r.getDouble(2).toString) }
      val refBlooms = ref.collect { case (f, r) if !r.isNullAt(3) =>
        f -> java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](3)) }
      val mins = sidecar(root, v, "mins")
      val maxs = sidecar(root, v, "maxs")
      val stats = mins.map { case (f, lo) => f -> (lo.toDouble.toString, maxs(f).toDouble.toString) }
      assert(stats == refStats, s"stats sidecar of v$v")
      assert(sidecar(root, v, "blooms") == refBlooms, s"bloom sidecar of v$v")
    }
    // today's edge behaviour on v4 (one file per batch): the all-NULL
    // stats file has no stats entry, the NaN file has one; XxHash64(NULL)
    // is the hash seed, so the all-NULL key file has a bloom too, one that
    // no probed key matches
    assert(t.read(Some(4)).inputFiles.length == 5)
    assert(sidecar(root, 4, "mins").size == 4, "all-NULL stats file: no entry")
    assert(sidecar(root, 4, "maxs").values.count(_ == "NaN") == 1)
    assert(sidecar(root, 4, "blooms").size == 5)
    assert(t.pruneFilesEq(62L, Some(4)).size == 1)
    assert(t.readWhere(-1.0, 1.0).count() ==
      t.read().filter(col("v").between(-1.0, 1.0)).count())
    assert(t.readWhereEq(62L).count() == 1 && t.readWhereEq(3L).count() == 0)
  }

  /** Asserts that version `v`'s stats and bloom sidecars equal the
    * per-file reference aggregate of the one-pass test above (min/max of
    * `v` as double and Spark's bloom of `k`, grouped by input_file_name()),
    * and returns the stats entries (file -> (min, max)). */
  private def assertSidecarsMatchReference(t: VersionedTable, root: String, v: Int)
      : Map[String, (Double, Double)] = {
    val fs = t.read(Some(v)).inputFiles.toSeq
    val ref = spark.read.parquet(fs: _*).groupBy(input_file_name())
      .agg(min(col("v").cast("double")), max(col("v").cast("double")),
        BloomBridge.bloomFilterAgg(col("k"), 65536L / 10, 65536L))
      .collect().map(r => local(r.getString(0)) -> r).toMap
    val refStats = ref.collect { case (f, r) if !r.isNullAt(1) => f -> (r.getDouble(1), r.getDouble(2)) }
    val refBlooms = ref.collect { case (f, r) if !r.isNullAt(3) =>
      f -> java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]](3)) }
    val maxs = sidecar(root, v, "maxs")
    val stats = sidecar(root, v, "mins").map { case (f, lo) => f -> (lo.toDouble, maxs(f).toDouble) }
    assert(stats == refStats, s"stats sidecar of v$v")
    assert(sidecar(root, v, "blooms") == refBlooms, s"bloom sidecar of v$v")
    stats
  }

  test("in-write sidecars: one task rolling into several files gives each file its own entry") {
    import spark.implicits._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    def batch(ids: Range): DataFrame =
      s2.createDataFrame(ids.map(i => (i.toLong, i.toDouble))).toDF("k", "v").coalesce(1)
    val root = freshRoot()
    val t = VersionedTable.create(s2, root, batch(0 until 35), statsCol = Some("v"), bloomCol = Some("k"))
    t.append(batch(100 until 125))
    assert(t.read(Some(0)).inputFiles.length == 4 && t.read().inputFiles.length == 7)
    for (v <- t.versions) {
      val stats = assertSidecarsMatchReference(t, root, v)
      assert(stats.size == t.read(Some(v)).inputFiles.length, s"v$v: one stats entry per file")
      // one task wrote each version's fresh files in order: a per-task
      // union would give every file the same range, per-file ranges are
      // disjoint 10-row slices
      val ranges = stats.values.toSeq.sorted
      assert(ranges.zip(ranges.tail).forall { case (a, b) => a._2 < b._1 }, ranges.mkString(", "))
    }
    assert(sidecar(root, 1, "blooms").size == 7)
    assert(t.pruneFilesEq(112L).size == 1 && t.readWhereEq(112L).count() == 1)
    assert(t.pruneFiles(21.0, 22.0).size == 1 && t.readWhere(21.0, 22.0).count() == 2)
  }

  test("in-write sidecars: an empty frame's file gets no entry and the table still reads") {
    import spark.implicits._
    val root = freshRoot()
    val t = VersionedTable.create(spark, root, Seq.empty[(Long, Double)].toDF("k", "v"),
      statsCol = Some("v"), bloomCol = Some("k"))
    assert(t.read().inputFiles.length == 1, "the empty write still lays down one file")
    assert(assertSidecarsMatchReference(t, root, 0).isEmpty)
    assert(sidecar(root, 0, "blooms").isEmpty)
    assert(t.read().count() == 0 && t.readWhere(0.0, 1.0).count() == 0 && t.readWhereEq(1L).count() == 0)
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").coalesce(1))
    assert(assertSidecarsMatchReference(t, root, 1).size == 1)
    assert(t.readWhereEq(2L).count() == 1 && t.readWhere(0.0, 1.0).count() == 1)
  }

  test("in-write sidecars: racing appenders publish every version's entries") {
    import spark.implicits._
    // the racing-appenders shape: 4 threads x 5 appends on one table, here
    // one that keeps both sidecars; a lost race republishes the loser's
    // entries against the winner's head
    val root = freshRoot()
    def batch(ids: Range): DataFrame =
      ids.map(i => (i.toLong, i * 0.5)).toDF("k", "v").coalesce(1)
    val t = VersionedTable.create(spark, root, batch(0 until 10), statsCol = Some("v"), bloomCol = Some("k"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val tasks = (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 5).foreach { i =>
            val lo = 1000 + w * 100 + i * 10
            t.append(batch(lo until lo + 10))
          }
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    assert(t.versions == (0 to 20), s"non-contiguous versions ${t.versions}")
    for (v <- t.versions)
      assert(assertSidecarsMatchReference(t, root, v).size == v + 1, s"v$v: one entry per file")
    // every key's file survives its bloom pruning (what readWhereEq lists),
    // and readWhereEq finds the first key of every batch
    val fileOf = t.read().select(col("k"), input_file_name()).as[(Long, String)].collect()
      .map { case (k, f) => k -> local(f) }.toMap
    assert(fileOf.size == 210)
    val missed = fileOf.collect { case (k, f) if !t.pruneFilesEq(k).contains(f) => k }
    assert(missed.isEmpty, s"bloom pruning dropped the file of ${missed.mkString(",")}")
    val firsts = 0L +: (for (w <- 0 until 4; i <- 0 until 5) yield 1000L + w * 100 + i * 10)
    assert(firsts.forall(k => t.readWhereEq(k).count() == 1))
  }

  test("a version's entries are visible as soon as the version is: a reader racing 4 appenders prunes each one") {
    import spark.implicits._
    // the racing-appenders workload (4 threads x 5 appends) while a reader
    // on its own handle polls the head: every version it sees must already
    // prune the key of v0's batch, which every version carries
    val root = freshRoot()
    def batch(ids: Range): DataFrame =
      ids.map(i => (i.toLong, i * 0.5)).toDF("k", "v").coalesce(1)
    val t = VersionedTable.create(spark, root, batch(0 until 10), statsCol = Some("v"), bloomCol = Some("k"))
    val writing = new java.util.concurrent.atomic.AtomicBoolean(true)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val seen = try {
      val reader = pool.submit(new java.util.concurrent.Callable[Seq[(Int, Int, Int, Int)]] {
        def call(): Seq[(Int, Int, Int, Int)] = {
          val r = VersionedTable.open(spark, root)
          val out = Seq.newBuilder[(Int, Int, Int, Int)]
          var last = 0
          // (version, files, files listed for key 0, files listed for v = 0.0)
          def look(): Unit = {
            val v = r.versions.last
            if (v > last) {
              last = v
              out += ((v, r.pruneFiles(Double.NegativeInfinity, Double.PositiveInfinity, Some(v)).size,
                r.pruneFilesEq(0L, Some(v)).size, r.pruneFiles(0.0, 0.0, Some(v)).size))
            }
          }
          while (writing.get()) look()
          look()
          out.result()
        }
      })
      val writers = (0 until 4).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until 5).foreach { i =>
            val lo = 1000 + w * 100 + i * 10
            t.append(batch(lo until lo + 10))
          }
        })
      }
      try writers.foreach(_.get()) finally writing.set(false)
      reader.get()
    } finally pool.shutdown()
    assert(t.versions == (0 to 20), s"non-contiguous versions ${t.versions}")
    assert(seen.nonEmpty && seen.last._1 == 20, seen.mkString(", "))
    val unpruned = seen.filterNot { case (_, n, eq, range) => eq < n && range < n }
    assert(unpruned.isEmpty, s"versions seen before their entries: ${unpruned.mkString(", ")}")
  }

  test("create rejects a non-long bloom column or a non-numeric stats column before writing") {
    import spark.implicits._
    val df = Seq((1, 2L, "a")).toDF("i", "l", "s")
    for ((stats, bloom) <- Seq((None, Some("i")), (Some("s"), None), (Some("i"), Some("s")))) {
      val root = freshRoot()
      val e = intercept[IllegalArgumentException](
        VersionedTable.create(spark, root, df, statsCol = stats, bloomCol = bloom))
      assert(e.getMessage.contains("must be"), e.getMessage)
      assert(!Files.exists(Paths.get(root)), s"$stats/$bloom wrote files before failing")
    }
    // the accepted types still build both sidecars
    val t = VersionedTable.create(spark, freshRoot(), df, statsCol = Some("i"), bloomCol = Some("l"))
    assert(t.statsCol.contains("i") && t.bloomCol.contains("l"))
    assert(t.readWhereEq(2L).count() == 1)
  }

  test("vacuum drops every sidecar of a dropped version: _manifests holds only kept versions") {
    import spark.implicits._
    val root = freshRoot()
    val t = VersionedTable.create(spark, root, Seq((1L, 1.0)).toDF("id", "v"),
      statsCol = Some("v"), bloomCol = Some("id"))
    for (i <- 2 to 5) t.append(Seq((i.toLong, i.toDouble)).toDF("id", "v"))
    assert(t.versions.forall(v => sidecar(root, v, "blooms").size == v + 1))
    assert(manifests(root) == t.versions.map(v => f"v$v%08d.json"), "one file per version")
    t.vacuum(keepVersions = 2, retentionMs = 0)
    val kept = t.versions
    assert(kept == Seq(3, 4))
    val Version = "v(\\d{8})\\..*".r
    val listed = manifests(root).collect { case n @ Version(v) => v.toInt -> n }
    assert(listed.map(_._1).toSet == kept.toSet, listed.mkString(", "))
    assert(listed.size == kept.size, listed.mkString(", ")) // one manifest per version
    assert(t.readWhereEq(5L).count() == 1)
  }
}
